package graft.perfbench

import graft.{CurateCli, ImageCurateCli}
import graft.functions.ImageFunctions.image_stats
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the two CLI scenarios share: output checks and the checksum of
  * what a call kept. */
object CurateCommon {
  /** Ids kept in `<out>/curated`. */
  def curatedIds(spark: SparkSession, out: String, idCol: String): DataFrame =
    spark.read.parquet(s"$out/curated").select(col(idCol).cast("string").as("id"))

  /** Checksum of a call's result: its summary and every curated row (all
    * columns, the split partition column included). */
  def checksum(spark: SparkSession, summary: String, out: String): String = {
    val curated = spark.read.parquet(s"$out/curated")
    val cols = curated.columns.sorted.map(col)
    val r = curated.agg(count(lit(1)), sum(pmod(xxhash64(cols: _*), lit(1000000007L)))).head()
    s"$summary|${r.getLong(0)}:${r.getLong(1)}"
  }

  /** Ids of `planted` that survived into the curated set. */
  def survivors(ids: DataFrame, planted: Seq[String]): Long = {
    import ids.sparkSession.implicits._
    ids.join(planted.toDF("id"), "id").count()
  }

  /** Planted groups with more than one survivor. */
  def overfullGroups(ids: DataFrame, groups: Seq[(String, String)]): Long = {
    import ids.sparkSession.implicits._
    ids.join(groups.toDF("id", "grp"), "id").groupBy("grp").count()
      .filter(col("count") > 1).count()
  }

  /** The span's self time, ms. */
  def timedMs(ctx: Ctx, name: String)(body: => Unit): Double = {
    ctx.tracer.span(name)(body)
    Metrics.spanMs(ctx, name)
  }
}

/** `CurateCli` with near-dup, max-df, decontamination, packing and split
  * over a corpus with planted exact dups, near dups, quality failures, PII
  * and eval contamination. Set-up writes the corpus and the eval set. */
final class TextScenario(ctx: Ctx) {
  import TextScenario._
  private val spark = ctx.spark
  import spark.implicits._
  val (in, evalPath) = ctx.setupStep(3) { _ =>
    val seed = ctx.args.seed // a local: the generator closures must not capture `this`
    val in = ctx.newDir("corpus")
    spark.range(0, Docs, 1, 8).map(id => (id, Gen.docText(seed, id, EvalDocs)))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    val ev = ctx.newDir("eval")
    spark.range(0, EvalDocs, 1, 1)
      .map(e => (1000000000L + e, Gen.evalTokens(seed, e).mkString(" ")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(ev)
    (in, ev)
  }
  private val exactDups = (0L until Docs).filter(Gen.isExactDup).map(_.toString)
  private val contaminated = (0L until Docs).filter(Gen.isContaminated).map(_.toString)
  private var first: Option[String] = None

  /** One CLI call (CurateCli.main's reader batch); its summary. */
  def call(out: String): String = {
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "1024")
    CurateCli.run(spark, Array(in, out, "--near-dup", NearDup.toString,
      "--max-df", MaxDf.toString, "--decontam", evalPath, "--pack-budget", "2048",
      "--split", "train:0.8,val:0.1,test:0.1")).toString
  }

  def check(out: String, summary: String): Seq[String] = {
    val kept = CurateCommon.curatedIds(spark, out, "doc_id").cache()
    val decontamed = spark.read.parquet(s"$out/audit/dropped_decontam")
      .select(col("doc_id").cast("string").as("id"))
    val leakedPii = spark.read.parquet(s"$out/curated")
      .filter(col("text").rlike(TextOps.EmailPattern)).count()
    val sum = CurateCommon.checksum(spark, summary, out)
    val errs = Seq(
      CurateCommon.survivors(kept, exactDups) -> "planted exact dups kept",
      CurateCommon.survivors(kept, contaminated) -> "contaminated docs kept",
      (contaminated.size - CurateCommon.survivors(decontamed, contaminated)) ->
        "contaminated docs missing from the decontamination audit",
      leakedPii -> "curated docs with an unredacted email")
      .collect { case (n, msg) if n > 0 => s"$n $msg" } ++
      ctx.checksumErrors("curate.text", first, sum)
    if (first.isEmpty) first = Some(sum)
    kept.unpersist()
    errs
  }

  /** The text and dedup layers replayed on each stage's input, rebuilt from
    * the corpus and the last call's audit relations. */
  def replay(out: String): Map[String, Double] = {
    def audit(name: String) = spark.read.parquet(s"$out/audit/$name").select("doc_id")
    val docs = spark.read.parquet(in)
    val evalSet = spark.read.parquet(evalPath)
    val afterQuality = docs.join(audit("dropped_quality"), Seq("doc_id"), "left_anti").cache()
    val afterDecontam = afterQuality.join(audit("dropped_decontam"), Seq("doc_id"), "left_anti")
      .cache()
    val afterExact = afterDecontam.join(Dedup.exact(afterDecontam, "doc_id", "text")
      .select(col("keep_id").as("doc_id")), Seq("doc_id")).cache()
    val afterDedup = afterExact.join(audit("dropped_near_dup"), Seq("doc_id"), "left_anti")
      .withColumn("__stream", lit("all")).cache()
    Seq(afterQuality, afterDecontam, afterExact, afterDedup).foreach(_.count())
    // token-join rows of the near-dup join: pairs sharing a kept shingle
    val joinRows = Dedup.shingleTokens(afterExact, "doc_id", "text", 2)
      .groupBy("token").agg(count(lit(1)).as("df")).filter(col("df") <= MaxDf)
      .agg(sum(col("df") * (col("df") - 1) / 2)).head().get(0).toString.toDouble

    val m = Map.newBuilder[String, Double]
    m += "text.repetition_ms" -> CurateCommon.timedMs(ctx, "text.repetition") {
      Metrics.drain(TextOps.repetitionMetrics(docs, "doc_id", "text", 0.3, 0.2))
    }
    m += "text.decontam_ms" -> CurateCommon.timedMs(ctx, "text.decontam") {
      Metrics.drain(TextOps.contamination(afterQuality, evalSet, "doc_id", "text", 3, 2))
    }
    m += "dedup.exact_ms" -> CurateCommon.timedMs(ctx, "dedup.exact") {
      Metrics.drain(Dedup.exact(afterDecontam, "doc_id", "text"))
    }
    var pairs: DataFrame = null
    m += "dedup.jaccard_ms" -> CurateCommon.timedMs(ctx, "dedup.jaccard") {
      pairs = Dedup.jaccardPairs(afterExact, "doc_id", "text", NearDup, MaxDf, 2).cache()
      pairs.count()
    }
    m += "dedup.jaccard_yield" -> pairs.count() / joinRows
    m += "dedup.components_ms" -> CurateCommon.timedMs(ctx, "dedup.components") {
      Metrics.drain(Dedup.dedupComponents(afterExact, "doc_id", pairs))
    }
    m += "text.pii_ms" -> CurateCommon.timedMs(ctx, "text.pii") {
      Metrics.drain(TextOps.piiRedact(afterDedup, "text"))
    }
    m += "text.pack_ms" -> CurateCommon.timedMs(ctx, "text.pack") {
      Metrics.drain(TextOps.packSequences(afterDedup, "doc_id", "text", "__stream", 2048))
    }
    Seq(pairs, afterQuality, afterDecontam, afterExact, afterDedup).foreach(_.unpersist())
    m.result()
  }
}

object TextScenario {
  val Docs = 600L
  val EvalDocs = 12L
  val MaxDf = 60L
  val NearDup = 0.7
}

/** `ImageCurateCli` with byte-exact, PSNR-verified near-dup and split over
  * seeded noise images with planted byte copies, JPEG re-encodes, caption
  * failures and one hot caption. Set-up writes the pairs and their
  * embeddings (planted cosine clusters, for the similarity layer). */
final class ImageScenario(ctx: Ctx) {
  import ImageScenario._
  private val spark = ctx.spark
  import spark.implicits._
  val (in, embPath) = ctx.setupStep(3) { _ =>
    val seed = ctx.args.seed // a local: the generator closures must not capture `this`
    val in = ctx.newDir("pairs")
    spark.range(0, Images, 1, 8).map(id => Gen.imageRow(seed, id))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .write.mode("overwrite").parquet(in)
    val emb = ctx.newDir("emb")
    spark.range(0, Images, 1, 8).map(id => (Gen.imageId(id), Gen.embedding(seed, id)))
      .toDF("image_id", "image_emb").write.mode("overwrite").parquet(emb)
    (in, emb)
  }
  private val groups = (0L until Images)
    .filter(i => i % 16 == 0 || Gen.isByteCopy(i) || Gen.isReencode(i))
    .map(i => (Gen.imageId(i), Gen.imageId(Gen.groupBase(i))))
  private var first: Option[String] = None

  /** One CLI call (ImageCurateCli.main's reader batch); its summary. */
  def call(out: String): String = {
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "256")
    ImageCurateCli.run(spark, Array(in, out, "--byte-exact", "--near-dup", Hamming.toString,
      "--psnr", Psnr.toString, "--split", "train:0.8,val:0.1,test:0.1")).toString
  }

  def check(out: String, summary: String): Seq[String] = {
    val kept = CurateCommon.curatedIds(spark, out, "image_id").cache()
    val sum = CurateCommon.checksum(spark, summary, out)
    val errs = Seq(
      CurateCommon.overfullGroups(kept, groups) -> "planted duplicate groups kept twice")
      .collect { case (n, msg) if n > 0 => s"$n $msg" } ++
      ctx.checksumErrors("curate.image", first, sum)
    if (first.isEmpty) first = Some(sum)
    kept.unpersist()
    errs
  }

  /** The image, dedup and similarity layers replayed on each stage's
    * input, rebuilt from the pairs and the last call's audit relations. */
  def replay(out: String): Map[String, Double] = {
    def audit(name: String) = spark.read.parquet(s"$out/audit/$name").select("image_id")
    val pairs = spark.read.parquet(in)
    val afterByte = pairs.join(audit("dropped_byte_exact"), Seq("image_id"), "left_anti").cache()
    val afterExact = afterByte.join(audit("dropped_gates"), Seq("image_id"), "left_anti")
      .join(audit("dropped_exact"), Seq("image_id"), "left_anti").cache()
    val sigs = afterExact.select(col("phash").as("__dsig")).cache()
    val quality = afterExact.select(col("phash").as("__dsig"),
      (col("w") * col("h")).cast("double").as("__q"))
    val emb = spark.read.parquet(embPath)
      .join(afterExact.select("image_id"), "image_id")
      .select(xxhash64(col("image_id")).as("__sid"), col("image_emb")).cache()
    val nDecoded = afterByte.count()
    Seq(afterExact, sigs, emb).foreach(_.count())
    // pigeonhole block-join rows of the hamming join (its candidates)
    val blocks = (0 to Hamming).map { b =>
      val lo = b * 64 / (Hamming + 1); val w = (b + 1) * 64 / (Hamming + 1) - lo
      struct(lit(b).as("blk"), shiftright(col("__dsig"), lo).bitwiseAND(lit((1L << w) - 1))
        .as("bval"))
    }
    val candidates = sigs.select(explode(array(blocks: _*)).as("b"))
      .groupBy("b").count().agg(sum(col("count") * (col("count") - 1) / 2)).head()
      .get(0).toString.toDouble

    val m = Map.newBuilder[String, Double]
    m += "image.byte_exact_ms" -> CurateCommon.timedMs(ctx, "image.byte_exact") {
      Metrics.drain(Multimodal.byteExactWinners(pairs, "bytes", "image_id"))
    }
    m += "image.gates_ms" -> CurateCommon.timedMs(ctx, "image.gates") {
      Metrics.drain(Multimodal.pairReasonsWithStats(afterByte))
    }
    m += "image.decode_ns_per_image" -> CurateCommon.timedMs(ctx, "image.decode") {
      Metrics.drain(afterByte.select(image_stats(col("bytes")).as("s")))
    } * 1e6 / nDecoded
    var cand: DataFrame = null
    m += "dedup.hamming_ms" -> CurateCommon.timedMs(ctx, "dedup.hamming") {
      cand = Dedup.hammingPairs(sigs, "__dsig", "__dsig", Hamming).cache()
      cand.count()
    }
    m += "dedup.hamming_yield" -> cand.count() / math.max(candidates, 1.0)
    m += "dedup.components_ms" -> CurateCommon.timedMs(ctx, "dedup.components") {
      Metrics.drain(Dedup.canonicalByQuality(sigs, "__dsig", cand.select("d1", "d2"),
        quality, "__q"))
    }
    var lsh: DataFrame = null
    m += "similarity.lsh_ms" -> CurateCommon.timedMs(ctx, "similarity.lsh") {
      lsh = Similarity.lshBandedNearDupPairs(emb, "__sid", "image_emb", 8, 8, Gen.Dims,
        SemanticMin).cache()
      lsh.count()
    }
    // every colliding pair passes a cosine threshold of -1: the candidates
    val lshCandidates = Similarity.lshBandedNearDupPairs(emb, "__sid", "image_emb", 8, 8,
      Gen.Dims, -1.0).count()
    m += "similarity.lsh_yield" -> lsh.count().toDouble / math.max(lshCandidates, 1L)
    m += "image.caption_cap_ms" -> CurateCommon.timedMs(ctx, "image.caption_cap") {
      Metrics.drain(Multimodal.captionCap(afterExact.select("image_id", "caption"),
        "image_id", "caption", CaptionCap, 64))
    }
    Seq(cand, lsh, afterByte, afterExact, sigs, emb).foreach(_.unpersist())
    m.result()
  }
}

object ImageScenario {
  val Images = 480L
  val Hamming = 8
  val Psnr = 20.0
  val CaptionCap = 20
  val SemanticMin = 0.95
}

/** The curate workload: one timed call runs `CurateCli` and then
  * `ImageCurateCli` on their generated inputs (each with its CLI main's
  * reader settings), and checks both outputs. `items_per_s` is the text
  * CLI's documents per second, `step_p50_ms` the image CLI's call wall. */
object Curate extends Workload {
  /** The shuffle width both CLI mains set. */
  val sessionConf: Map[String, String] = Map("spark.sql.shuffle.partitions" -> "32")

  final case class Outs(text: String, image: String)
  final case class Done(outs: Outs, textSummary: String, imageSummary: String,
      textS: Double, imageS: Double)

  def run(ctx: Ctx): Result = {
    val text = new TextScenario(ctx)
    val image = new ImageScenario(ctx)
    def timed(name: String)(body: => String): (String, Double) = {
      val t0 = System.nanoTime()
      val r = ctx.tracer.span(name)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val calls = ctx.loop("curate", ctx.args.seconds) { _ =>
      Outs(ctx.newDir("text-out"), ctx.newDir("image-out"))
    } { o =>
      val (ts, tS) = timed("curate.text")(text.call(o.text))
      val (is, iS) = timed("curate.image")(image.call(o.image))
      Done(o, ts, is, tS, iS)
    } { (_, d) => text.check(d.outs.text, d.textSummary) ++
      image.check(d.outs.image, d.imageSummary) }
    val done = calls.flatMap(_.result)
    val e2e = Metrics.endToEnd(ctx, calls,
      itemsPerS = TextScenario.Docs / Stats.median(done.map(_.textS)),
      stepP50Ms = Stats.median(done.map(_.imageS * 1e3)))
    val layers =
      if (!ctx.args.trace || done.isEmpty) Map.empty[String, Double]
      else {
        val last = done.last
        val t = text.replay(last.outs.text)
        val i = image.replay(last.outs.image)
        t ++ i ++ Map(
          // both CLIs cluster through the same components core
          "dedup.components_ms" -> (t("dedup.components_ms") + i("dedup.components_ms")),
          "cli.jobs" -> Stats.median(calls.filter(_.ok).map(_.spark("jobs").toDouble)),
          "cli.output_bytes" ->
            (ctx.treeSize(last.outs.text)._2 + ctx.treeSize(last.outs.image)._2).toDouble)
      }
    Metrics.result(ctx, calls, e2e, layers)
  }
}
