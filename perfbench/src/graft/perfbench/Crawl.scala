package graft.perfbench

import graft.functions.BloomFunctions.bloom_might_contain
import graft.functions.UrlFunctions.{normalize_url, url_host, url_resolve}
import graft.model.{CrawlConfig, PageRow}
import graft.operators.{CheckpointStore, CrawlOutcome, FrontierCrawler}
import graft.oracle.ReferenceCrawler
import graft.sources.SiteGraph
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The crawl workload: two scenarios in one JVM, each set up and measured
  * in turn.
  *
  * Parity: `crawl(seed)` with CrawlCli's defaults (FIFO parity, 10
  * concurrent) over a one-host site, every call checked against the
  * reference oracle. Each round moves at most 10 URLs, so per-round fixed
  * cost (planning, state commits, job scheduling) is nearly all of the
  * wall time: `step_p50_ms` is its median round. Set-up builds the redirect
  * closure (a warm-up crawl); each call crawls from a fresh checkpoint
  * holding only that closure.
  *
  * Polite: `crawlSeeds` with per-host budgets over a skewed multi-host
  * graph, the seed list filling every host's budget so each round is
  * saturated. Warm rounds run in set-up; each call copies that warm
  * checkpoint and resumes it for `TimedRounds` rounds: `items_per_s` is
  * the median round's scheduled + fetched URLs per second. */
object Crawl extends Workload {
  /** CrawlCli's session settings. */
  val sessionConf: Map[String, String] =
    Map("spark.sql.parquet.columnarReaderBatchSize" -> "1024")

  val ParityPages = 45
  val ParityRounds = 8

  val Hosts = 16
  val PagesPerHost = 1000
  val Budget = 48
  val WarmRounds = 1
  val TimedRounds = 5

  /** Pages written as parquet once per set-up repetition, read back the way
    * CrawlCli reads `--pages`. */
  def writePages(ctx: Ctx, reps: Int)(make: SparkSession => Dataset[PageRow]): Dataset[PageRow] = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.setupStep(reps) { _ =>
      val d = ctx.newDir("pages")
      make(spark).write.mode("overwrite").parquet(d)
      d
    }
    spark.read.parquet(dir).as[PageRow]
  }

  /** One timed crawl call's checkpoint, rounds and outcome. */
  final case class Crawled(dir: String, out: CrawlOutcome, rounds: Seq[Int],
      manifests: Seq[Map[String, Long]], files: Long, bytes: Long)

  def crawled(ctx: Ctx, dir: String, polite: Boolean, out: CrawlOutcome, firstRound: Int,
      before: (Long, Long)): Crawled = {
    val store = new CheckpointStore(ctx.spark, dir, visitedFromLog = polite)
    val last = store.latestManifest().map(_.round).getOrElse(-1)
    val rounds = (firstRound to last).filter(r =>
      store.sfs.exists(s"$dir/metrics/round=$r.properties"))
    val (f, b) = ctx.treeSize(dir)
    Crawled(dir, out, rounds, rounds.map(store.loadMetrics), f - before._1, b - before._2)
  }

  /** Round wall time no phase covers. The link-admission write (`t_wseg`,
    * after the optional `t_content`) runs on the driver thread while the
    * visited and sides writes overlap it, so the covered time is the batch
    * write, the longest of the overlapping writes, and the seen-filter
    * launch and adoption. */
  def gapMs(m: Map[String, Long]): Double = {
    def t(k: String) = m.getOrElse(k, 0L)
    val covered = t("t_bloom_adopt") + t("t_batch") +
      Seq(t("t_content") + t("t_wseg"), t("t_wvis"), t("t_wsides"), t("t_patstate")).max +
      t("t_bloom_launch")
    (t("wallMs") - covered).toDouble
  }

  /** The checkpoint calls replayed on a copy of a finished checkpoint:
    * manifest commits, and the frontier read of every timed round. */
  def checkpointReplay(ctx: Ctx, c: Crawled, polite: Boolean): Map[String, Double] = {
    val copy = ctx.newDir("replay")
    ctx.copyTree(c.dir, copy)
    val store = new CheckpointStore(ctx.spark, copy, visitedFromLog = polite)
    val m = store.latestManifest().get
    val commit = (0 until 20).map { _ =>
      val t0 = System.nanoTime()
      ctx.tracer.span("checkpoint.manifest_commit")(store.saveManifest(m))
      (System.nanoTime() - t0) / 1e6
    }
    val reads = c.rounds.flatMap { r =>
      val mr = store.loadManifest(r)
      val t0 = System.nanoTime()
      ctx.tracer.span("checkpoint.read_frontier") {
        store.readFrontier(mr.liveSegs, mr.watermark).map(Metrics.drain)
      }.map(_ => (System.nanoTime() - t0) / 1e6)
    }
    Map("checkpoint.manifest_commit_ms" -> Stats.median(commit),
      "checkpoint.read_frontier_ms" -> Stats.median(reads))
  }

  /** The crawl's own seen-filter snapshot probed with every page URL, and
    * checked against the exact visited set it covers (no false negatives). */
  def seenReplay(ctx: Ctx, c: Crawled, pages: Dataset[PageRow])
      : (Map[String, Double], Seq[String]) = {
    val store = new CheckpointStore(ctx.spark, c.dir, visitedFromLog = true)
    val m = store.latestManifest().get
    if (!m.hasBloom || m.bloomRound < 0) return (Map.empty, Seq("no seen-filter snapshot"))
    val keys = pages.select(xxhash64(col("url")).as("urlHash")).cache()
    val nKeys = keys.count()
    val bc = ctx.spark.sparkContext.broadcast(store.loadBloom(m.bloomRound))
    val t0 = System.nanoTime()
    val maybe = ctx.tracer.span("seen.probe") {
      keys.filter(bloom_might_contain(col("urlHash"), bc)).count()
    }
    val ns = (System.nanoTime() - t0).toDouble / nKeys
    val missed = store.readVisited(m.visitedRounds.filter(_ <= m.bloomRound))
      .map(_.filter(!bloom_might_contain(col("urlHash"), bc)).count()).getOrElse(0L)
    bc.destroy()
    keys.unpersist()
    (Map("seen.probe_ns_per_key" -> ns, "seen.maybe_ratio" -> maybe.toDouble / nKeys),
      if (missed > 0) Seq(s"seen filter answers 'never seen' for $missed visited URLs") else Nil)
  }

  /** URL admission over the graph's links: resolve, normalize, hash. */
  def admitNsPerLink(ctx: Ctx, pages: Dataset[PageRow]): Double = {
    val links = pages.select(col("url"), explode(col("links")).as("href")).cache()
    val nLinks = links.count()
    val t0 = System.nanoTime()
    ctx.tracer.span("url.admit") {
      links.select(xxhash64(normalize_url(url_resolve(col("url"), col("href")))).as("k"))
        .agg(sum(pmod(col("k"), lit(1000000007L)))).head()
    }
    val ns = (System.nanoTime() - t0).toDouble / nLinks
    links.unpersist()
    ns
  }

  /** Found-set checksum: size and a hash sum of the visited URLs. */
  def foundChecksum(out: CrawlOutcome): String = {
    val r = out.found.agg(count(lit(1)), sum(pmod(xxhash64(col("url")), lit(1000000007L)))).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  def run(ctx: Ctx): Result = {
    val (parity, parityPages) = runParity(ctx)
    val (polite, politePages) = runPolite(ctx)
    val calls = parity ++ polite
    def walls(cs: Seq[Call[Crawled]]) = Stats.median(cs.map(_.wallS))
    // every scheduled URL of a polite round is also fetched (the pages join)
    val politeRates = polite.flatMap(_.result).flatMap(_.manifests)
      .map(m => 2.0 * m("scheduled") * 1000 / m("wallMs"))
    val parityRounds = parity.flatMap(_.result).flatMap(_.manifests)
    val e2e = Metrics.endToEnd(ctx, calls,
      itemsPerS = Stats.median(politeRates),
      stepP50Ms = Stats.median(parityRounds.map(_("wallMs").toDouble))) +
      ("wall_s" -> (walls(parity) + walls(polite)))
    val (layers, errs) =
      if (ctx.args.trace && parity.exists(_.ok) && polite.exists(_.ok))
        this.layers(ctx, parity, polite, parityPages, politePages)
      else (Map.empty[String, Double], Nil)
    Metrics.result(ctx, calls, e2e, layers, errs)
  }

  def runParity(ctx: Ctx): (Seq[Call[Crawled]], Dataset[PageRow]) = {
    val spark = ctx.spark
    import spark.implicits._
    val cfg = CrawlConfig() // CrawlCli's defaults
    // the first site drawn from the seed whose reference crawl takes exactly
    // `ParityRounds` rounds: every seed then times the same amount of work
    val (local, seedUrl, oracle) = Iterator.from(0).map { k =>
      val local = SiteGraph.localPages(SiteGraph.GraphParams(nHosts = 1,
        pagesPerHost = ParityPages, linksPerPage = 4, seed = ctx.args.seed * 1000 + k,
        redirectFrac = 0.05, errorFrac = 0.05, deadLinkFrac = 0.02, crossHostFrac = 0.0))
      val seedUrl = local.find(_.status == 200).get.url
      (local, seedUrl, ReferenceCrawler.crawl(local.map(p => p.url -> p).toMap, seedUrl, cfg))
    }.find(_._3.rounds == ParityRounds).get
    val pages = writePages(ctx, 3)(_ => local.toDS())
    val warm = ctx.newDir("warm")
    new FrontierCrawler(spark, pages, cfg.copy(checkpointDir = Some(warm), maxRounds = 1))
      .crawl(seedUrl)
    ctx.log(s"parity warm-up crawl done (${oracle.found.size} URLs in $ParityRounds rounds)")
    val closure = s"$warm/fetchclosure"
    val closureSize = ctx.treeSize(closure)
    var first: Option[String] = None
    val calls = ctx.loop("crawl.parity", ctx.args.seconds / 2) { _ =>
      val d = ctx.newDir("ckpt")
      ctx.copyTree(closure, s"$d/fetchclosure")
      d
    } { d =>
      val out = new FrontierCrawler(spark, pages, cfg.copy(checkpointDir = Some(d))).crawl(seedUrl)
      out.sortedFound // the CLI's stdout contract
      crawled(ctx, d, polite = false, out, 0, closureSize)
    } { (_, c) =>
      val out = c.out
      val order = out.visitLog.orderBy("round", "batchIdx").collect()
        .map(r => (r.getInt(0), r.getLong(1).toInt, r.getString(2))).toSeq
      val sum = foundChecksum(out)
      val errs = Seq(
        (out.sortedFound == oracle.found.toSeq.sorted) -> "found set differs from the reference",
        (order == oracle.visitOrder) -> "visit order differs from the reference",
        (out.errorUrls.as[String].collect().toSet == oracle.errorUrls) -> "error set differs",
        (out.redirectUrls.as[String].collect().toSet == oracle.redirectUrls) ->
          "redirect set differs",
        (out.stats.errorCount == oracle.errorCount) -> "error count differs",
        (out.stats.redirectCount == oracle.redirectCount) -> "redirect count differs",
        (out.stats.visitedCount == oracle.found.size) -> "visited count differs")
        .collect { case (false, msg) => msg } ++ ctx.checksumErrors("crawl.parity", first, sum)
      if (first.isEmpty) first = Some(sum)
      errs
    }
    (calls, pages)
  }

  def runPolite(ctx: Ctx): (Seq[Call[Crawled]], Dataset[PageRow]) = {
    val spark = ctx.spark
    import spark.implicits._
    val params = SiteGraph.GraphParams(nHosts = Hosts, pagesPerHost = PagesPerHost,
      linksPerPage = 6, redirectFrac = 0.03, errorFrac = 0.03, deadLinkFrac = 0.01,
      crossHostFrac = 0.15, heavyHostFrac = 0.3, seed = ctx.args.seed)
    val pages = writePages(ctx, 3)(s => SiteGraph.generate(s, params))
    val seeds = (0 until Hosts).flatMap { h =>
      val n = SiteGraph.pagesOnHost(h, params)
      (0 until Budget).map(i => SiteGraph.pageUrl(h, i % n))
    }.toDF("url")
    // the seen filter is probed once the frontier passes 1024 rows (the
    // default threshold sits above this graph's frontier)
    val cfg = CrawlConfig(fifoParity = false, sameDomainOnly = false,
      perHostBudget = Budget, bloomMinFrontierRows = 1024L)
    val warm = ctx.newDir("warm")
    new FrontierCrawler(spark, pages, cfg.copy(checkpointDir = Some(warm),
      maxRounds = WarmRounds)).crawlSeeds(seeds)
    ctx.log("polite warm rounds done")
    val warmSize = ctx.treeSize(warm)
    var first: Option[String] = None
    val calls = ctx.loop("crawl.polite", ctx.args.seconds / 2) { _ =>
      val d = ctx.newDir("ckpt")
      ctx.copyTree(warm, d)
      d
    } { d =>
      val out = new FrontierCrawler(spark, pages, cfg.copy(checkpointDir = Some(d),
        maxRounds = WarmRounds + TimedRounds)).crawlSeeds(seeds)
      crawled(ctx, d, polite = true, out, WarmRounds, warmSize)
    } { (_, c) =>
      val log = c.out.visitLog
      val dup = log.groupBy("url").count().filter(col("count") > 1).count()
      val overBudget = log.groupBy(col("round"), url_host(col("url")).as("host")).count()
        .filter(col("count") > Budget).count()
      val unsaturated = c.manifests.count(_("scheduled") < Hosts * Budget)
      val sum = foundChecksum(c.out)
      val errs = Seq(
        (dup == 0) -> s"$dup URLs visited more than once",
        (overBudget == 0) -> s"$overBudget (round, host) batches over the budget $Budget",
        (c.rounds == (WarmRounds until WarmRounds + TimedRounds)) ->
          s"timed rounds ${c.rounds} instead of $TimedRounds resumed rounds")
        .collect { case (false, msg) => msg } ++
        ctx.checksumErrors("crawl.polite", first, sum)
      if (unsaturated > 0) ctx.log(s"$unsaturated timed rounds below ${Hosts * Budget} URLs")
      if (first.isEmpty) first = Some(sum)
      errs
    }
    (calls, pages)
  }

  /** Per-layer metrics, each from the scenario it should move: phase times
    * and work sizes from the polite rounds, fixed per-round cost (uncovered
    * gap, jobs, checkpoint files) from the parity rounds. */
  def layers(ctx: Ctx, parity: Seq[Call[Crawled]], polite: Seq[Call[Crawled]],
      parityPages: Dataset[PageRow], politePages: Dataset[PageRow])
      : (Map[String, Double], Seq[String]) = {
    val par = parity.flatMap(_.result)
    val pol = polite.flatMap(_.result)
    def med(cs: Seq[Crawled], k: String) =
      Stats.median(cs.flatMap(_.manifests).map(_.getOrElse(k, 0L).toDouble))
    val parRounds = par.map(_.rounds.size).sum.toDouble
    def perRound(k: String) = parity.filter(_.ok).map(_.spark(k)).sum / parRounds
    def perCall(cs: Seq[Call[Crawled]], k: String) =
      Stats.median(cs.map(_.spark.getOrElse(k, 0L).toDouble))
    val (seen, seenErrs) = seenReplay(ctx, pol.last, politePages)
    val sparkKeys = Seq("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "task_run_ms",
      "gc_ms")
    val layers = Map(
      "crawl.batch_ms" -> med(pol, "t_batch"), "crawl.wseg_ms" -> med(pol, "t_wseg"),
      "crawl.wsides_ms" -> med(pol, "t_wsides"),
      // polite mode serves visited reads from the batch write: no t_wvis
      "crawl.wvis_ms" -> med(par, "t_wvis"),
      "crawl.gap_ms" -> Stats.median(par.flatMap(_.manifests).map(gapMs)),
      "crawl.jobs_per_round" -> perRound("jobs"),
      "crawl.tasks_per_round" -> perRound("tasks"),
      "crawl.scheduled_per_round" -> med(pol, "scheduled"),
      "crawl.new_links_per_round" -> med(pol, "newLinks"),
      "crawl.round_samples" -> (par ++ pol).map(_.rounds.size).sum.toDouble,
      "checkpoint.files_per_round" -> par.map(_.files).sum / parRounds,
      "checkpoint.bytes_per_round" -> par.map(_.bytes).sum / parRounds,
      "url.admit_ns_per_link" -> admitNsPerLink(ctx, politePages),
      // per timed call pair: one parity crawl plus one polite resume
      "trace.wall_s" -> (Stats.median(parity.map(_.wallS)) + Stats.median(polite.map(_.wallS))),
      "trace.overhead_s" -> (perCall(parity, "busy_ns") + perCall(polite, "busy_ns")) / 1e9) ++
      sparkKeys.map(k => s"spark.$k" -> (perCall(parity, k) + perCall(polite, k))) ++
      checkpointReplay(ctx, par.last, polite = false) ++ seen
    (layers, seenErrs)
  }
}
