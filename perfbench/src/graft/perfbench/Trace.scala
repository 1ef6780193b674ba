package graft.perfbench

import org.apache.spark.scheduler._
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One recorded span: a named interval and the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder for the benchmark's own calls into each layer. Spans are
  * kept in memory and written as JSON when the run ends; nesting follows
  * the calling thread's open spans. Disabled, `span` only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span id: duration minus the union of its children. */
  def selfNs: Map[Int, Long] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.map { sp =>
      val ivs = kids.getOrElse(sp.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      sp.id -> (sp.durNs - covered)
    }.toMap
  }

  /** The spans, and the jobs and tasks of each Spark job group. */
  def toJson(groups: Map[String, (Long, Long)]): String = {
    val self = selfNs
    val t0 = all.map(_.startNs).reduceOption(_ min _).getOrElse(0L)
    val spans = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6},""" +
        s""""self_ms":${self(s.id) / 1e6}}"""
    }.mkString("[\n", ",\n", "\n]")
    val gs = groups.toSeq.sorted.map { case (g, (j, t)) =>
      s"""${Json.str(g)}:{"jobs":$j,"tasks":$t}"""
    }.mkString("{", ",\n", "}")
    s"""{"spans":$spans,\n"job_groups":$gs}\n"""
  }
}

/** Spark work counted by a benchmark-owned listener, attributed by job
  * group (the crawler tags each round phase as one). `enabled` limits the
  * accounting to the timed calls. */
final class SparkCounters extends SparkListener {
  @volatile var enabled = false
  final class Acc {
    val jobs, tasks, shuffleWrite, spill, runMs, gcMs = new AtomicLong()
  }
  val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val started = new AtomicLong()
  private val ended = new AtomicLong()
  /** Time spent inside this listener's callbacks: the tracing overhead. */
  val busyNs = new AtomicLong()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    started.incrementAndGet()
    if (enabled) {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("(none)")
      acc(g).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(ended.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    if (enabled && e.taskMetrics != null) {
      val a = acc(stageGroup.getOrDefault(e.stageId, "(none)"))
      val m = e.taskMetrics
      a.tasks.incrementAndGet()
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.runMs.addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
    }
  }

  /** Wait until the listener bus delivered every job end seen so far. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    Thread.sleep(20)
    while (started.get != ended.get && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(20)
  }

  def reset(): Unit = { byGroup.clear(); stageGroup.clear(); busyNs.set(0) }

  /** Totals over every group: jobs, tasks, shuffle bytes, spill bytes, task ms, GC ms. */
  def totals: Map[String, Long] = {
    val as = byGroup.values.asScala.toSeq
    def sum(f: Acc => AtomicLong) = as.map(a => f(a).get).sum
    Map("jobs" -> sum(_.jobs), "tasks" -> sum(_.tasks),
      "shuffle_write_bytes" -> sum(_.shuffleWrite), "spill_bytes" -> sum(_.spill),
      "task_run_ms" -> sum(_.runMs), "gc_ms" -> sum(_.gcMs), "busy_ns" -> busyNs.get)
  }

  def groups: Map[String, (Long, Long)] =
    byGroup.asScala.map { case (g, a) => g -> ((a.jobs.get, a.tasks.get)) }.toMap
}
