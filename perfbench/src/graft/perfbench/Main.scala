package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Entry of one benchmark run: one workload in this (fresh) JVM.
  *
  * The workload sets up (session, generated inputs, warm-up), then calls
  * the program in a closed loop -- one call at a time, the next only after
  * the previous one returned and its outputs were checked -- until the
  * timed calls add up to `--seconds`. The result (correct / attempted /
  * failed / metrics) is written as JSON to `--result`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, runDir: String, result: String, checksums: String, traceOut: String,
      benchmark: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("run-dir"), m("result"), m("checksums"), m("trace-out"),
      m("benchmark"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload: Workload = args.workload match {
      case "crawl" => Crawl
      case "curate" => Curate
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val builder = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${args.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.runDir}/warehouse")
    workload.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args)
    ctx.log("session ready")
    try {
      val r = workload.run(ctx)
      Files.write(Paths.get(args.result), r.toJson.getBytes(UTF_8))
      if (args.trace) {
        Files.write(Paths.get(args.traceOut), ctx.tracer.toJson(ctx.jobGroups.toMap)
          .getBytes(UTF_8))
        System.err.println(r.table)
      }
    } finally spark.stop()
  }
}

/** A benchmark workload: sets up, measures, checks. */
trait Workload {
  /** Session settings of the CLI main this workload stands for. */
  def sessionConf: Map[String, String]
  def run(ctx: Ctx): Result
}

/** One timed call of the program and what its check found. */
final case class Call[R](wallNs: Long, result: Option[R], errors: Seq[String],
    spark: Map[String, Long]) {
  def ok: Boolean = result.isDefined && errors.isEmpty
  def wallS: Double = wallNs / 1e9
}

final case class Result(attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]) {
  def toJson: String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a finite number: $v")
      s"${Json.str(n)}: {\"value\": $v, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
  def table: String =
    metrics.map { case (n, v, u) => f"  $n%-34s $v%16.4f $u" }
      .mkString("per-layer metrics:\n", "\n", "")
}

/** Run context: session, arguments, tracing and the set-up clock. */
final class Ctx(val spark: SparkSession, val args: Main.Args) {
  val tracer = new Tracer(args.trace)
  val counters = new SparkCounters
  /** (jobs, tasks) per Spark job group over every traced call. */
  val jobGroups = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
  if (args.trace) spark.sparkContext.addSparkListener(counters)
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  // set-up is all wall time outside the measuring loops, from JVM start on
  private var setupMs = 0L
  private var setupFromMs = jvmStartMs
  private var setupExtraNs = 0L
  private var dirs = 0

  /** A fresh directory under the run directory. */
  def newDir(name: String): String = {
    dirs += 1
    val p = Paths.get(args.runDir, s"$name-$dirs")
    Files.createDirectories(p)
    p.toString
  }

  /** A set-up step run `reps` times (reps > 0); set-up time counts the
    * median repetition, so one slow repetition does not move `setup_s`. */
  def setupStep[T](reps: Int)(body: Int => T): T = {
    var last: Option[T] = None
    val ns = (0 until reps).map { i =>
      val t0 = System.nanoTime(); last = Some(body(i)); System.nanoTime() - t0
    }
    setupExtraNs += ns.sum - Stats.median(ns.map(_.toDouble)).toLong
    log(s"set-up step x$reps: ${ns.map(n => f"${n / 1e9}%.2f").mkString(" ")} s")
    last.get
  }

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[${args.workload} ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f] $msg")

  def setupSeconds: Double = setupMs / 1e3 - setupExtraNs / 1e9

  /** Closed-loop measurement: prepare (untimed), call (timed), check
    * (untimed), until the timed calls add up to `seconds`. A call fails if
    * it throws or its check reports an error. Under `--trace 1` every call
    * is traced (spans + Spark listener). */
  def loop[P, R](name: String, seconds: Double)(prepare: Int => P)(call: P => R)
      (check: (P, R) => Seq[String]): Seq[Call[R]] = {
    setupMs += System.currentTimeMillis() - setupFromMs
    log(f"set-up done: setup_s $setupSeconds%.2f")
    val calls = mutable.ArrayBuffer.empty[Call[R]]
    val loopStart = System.nanoTime()
    def timed = calls.map(_.wallNs).sum / 1e9
    def overrun = (System.nanoTime() - loopStart) / 1e9 > 3 * seconds + 60
    while (calls.isEmpty || (timed < seconds && !overrun)) {
      val i = calls.size
      val p = prepare(i)
      if (args.trace) { counters.drain(); counters.reset(); counters.enabled = true }
      val t0 = System.nanoTime()
      val r = try Right(tracer.span(name)(call(p))) catch { case e: Exception => Left(e) }
      val wall = System.nanoTime() - t0
      val sparkTotals =
        if (!args.trace) Map.empty[String, Long]
        else {
          counters.drain(); counters.enabled = false
          counters.groups.foreach { case (g, (j, t)) =>
            jobGroups(g) = (jobGroups(g)._1 + j, jobGroups(g)._2 + t)
          }
          counters.totals
        }
      val c = r match {
        case Left(e) =>
          e.printStackTrace()
          Call[R](wall, None, Seq(s"call threw: $e"), sparkTotals)
        case Right(v) =>
          val errs = try check(p, v) catch { case e: Exception => Seq(s"check threw: $e") }
          Call(wall, Some(v), errs, sparkTotals)
      }
      c.errors.foreach(e => log(s"call $i FAILED: $e"))
      log(f"call $i: ${c.wallS}%.3f s ${if (c.ok) "ok" else "FAILED"}")
      calls += c
    }
    setupFromMs = System.currentTimeMillis()
    calls.toSeq
  }

  /** The workload JVM's peak resident set (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The checksum recorded for this workload and seed, if any. */
  def recordedChecksum(workload: String): Option[String] = {
    val f = Paths.get(args.checksums)
    if (!Files.exists(f)) None
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
      Option(node.get(workload)).flatMap(w => Option(w.get(args.seed.toString)))
        .map(_.asText())
    }
  }

  /** Check against the recorded checksum and against the run's first call. */
  def checksumErrors(workload: String, first: => Option[String], got: String): Seq[String] = {
    System.err.println(s"[$workload seed ${args.seed}] checksum $got")
    recordedChecksum(workload).filter(_ != got)
      .map(w => s"checksum $got differs from the recorded $w").toSeq ++
      first.filter(_ != got).map(f => s"checksum $got differs from this run's first call $f")
  }

  /** Bytes and files under a directory tree. */
  def treeSize(dir: String): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val fs = s.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[Path])
      (fs.length.toLong, fs.map(p => Files.size(p)).sum)
    } finally s.close()
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from); val dst = Paths.get(to)
    val s = Files.walk(src)
    try s.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Metric assembly shared by the workloads. Names and units come from
  * BENCHMARK.json, so the workloads and the declared metrics cannot drift. */
object Metrics {
  /** (name, unit) of the `end_to_end` or `per_layer` list of BENCHMARK.json. */
  def declared(ctx: Ctx, list: String): Seq[(String, String)] = {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(ctx.args.benchmark))
    spec.get(list).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText)
      .toSeq
  }

  /** The result of a run: end-to-end metrics untraced, per-layer traced. A
    * layer the workload does not run reports 0 (no calls, no time). */
  def result[R](ctx: Ctx, calls: Seq[Call[R]], endToEnd: Map[String, Double],
      layers: Map[String, Double], layerErrors: Seq[String] = Nil): Result = {
    layerErrors.foreach(e => ctx.log(s"FAILED: $e"))
    // a failed layer check fails the call whose output it replayed
    val failed = math.min(calls.size, calls.count(!_.ok) + (if (layerErrors.isEmpty) 0 else 1))
    val (values, spec) =
      if (!ctx.args.trace) (endToEnd, declared(ctx, "end_to_end"))
      else {
        def perCall(k: String) = Stats.median(calls.map(_.spark.getOrElse(k, 0L).toDouble))
        val spark = Map(
          "spark.jobs" -> perCall("jobs"), "spark.tasks" -> perCall("tasks"),
          "spark.shuffle_write_bytes" -> perCall("shuffle_write_bytes"),
          "spark.spill_bytes" -> perCall("spill_bytes"),
          "spark.task_run_ms" -> perCall("task_run_ms"), "spark.gc_ms" -> perCall("gc_ms"),
          "trace.wall_s" -> Stats.median(calls.map(_.wallS)),
          "trace.overhead_s" -> perCall("busy_ns") / 1e9)
        val perLayer = declared(ctx, "per_layer")
        (perLayer.map(_._1).map(_ -> 0.0).toMap ++ spark ++ layers, perLayer)
      }
    val undeclared = values.keySet -- spec.map(_._1)
    require(undeclared.isEmpty, s"metrics not declared in BENCHMARK.json: $undeclared")
    Result(calls.size, failed, spec.map { case (n, u) => (n, values(n), u) })
  }

  /** The end-to-end metrics every workload reports. */
  def endToEnd(ctx: Ctx, calls: Seq[Call[_]], itemsPerS: Double, stepP50Ms: Double)
      : Map[String, Double] = Map(
    "setup_s" -> ctx.setupSeconds,
    "wall_s" -> Stats.median(calls.map(_.wallS)),
    "items_per_s" -> itemsPerS,
    "step_p50_ms" -> stepP50Ms,
    "peak_rss_mb" -> ctx.peakRssMb)

  /** Median self time (ms) of the spans with this name. */
  def spanMs(ctx: Ctx, name: String): Double = {
    val self = ctx.tracer.selfNs
    Stats.median(ctx.tracer.all.filter(_.name == name).map(s => self(s.id) / 1e6))
  }

  /** Materialize a relation without writing output (the noop sink). */
  def drain(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
