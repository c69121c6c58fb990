package graft.crawl

import graft.SparkTestBase
import graft.core.{Finding, RefSim, SynthWeb}

/** S6 — the per-wave, per-host-bucket metrics rows the wave manifests
  * carry (the north rule's "per-partition lineage + metrics", read
  * through `Crawler.metrics()`). Until round 3 they were only
  * exercised indirectly through RunLog stats; here its per-wave sums
  * are asserted ≡ RefSim's independently-maintained counters, on a
  * normal corpus and on a binding-budget corpus (budget_dropped > 0),
  * and admitted / images_written / novel are pinned per (wave,
  * host_bucket), so a row credited to the wrong bucket fails too.
  */
class MetricsSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  private def metricSums(crawler: Crawler): Map[Int, Map[String, Long]] = {
    val cols = Seq("candidates", "admitted", "fetch_ok", "fetch_err",
      "novel", "dup_dropped", "images_written", "budget_dropped")
    crawler.metrics()
      .groupBy(col("wave"))
      .agg(sum(cols.head).as(cols.head), cols.tail.map(c => sum(c).as(c)): _*)
      .collect()
      .map { r =>
        r.getAs[Int]("wave") -> cols.map(c => c -> r.getAs[Long](c)).toMap
      }
      .toMap
  }

  private val BucketCounters = Seq("admitted", "images_written", "novel")

  /** Non-zero per-(wave, host_bucket) counters of the engine's table. */
  private def engineBuckets(crawler: Crawler): Map[(Int, Int, String), Long] =
    crawler.metrics().collect().toSeq.flatMap { r =>
      BucketCounters.map(c =>
        (r.getAs[Int]("wave"), r.getAs[Int]("host_bucket"), c) -> r.getAs[Long](c))
    }.filter(_._2 != 0).toMap

  /** The same counters from RefSim's rows, bucketed through the engine's
    * Spark expression `pmod(xxhash64(host), 32)`. RefSim keeps no
    * per-wave novel set, but with no depth gate binding (depthLimit 4,
    * depths never grow) frontier k+1 is exactly wave k's novel set —
    * checked against its novel counter first. */
  private def simBuckets(sim: RefSim.SimResult): Map[(Int, Int, String), Long] = {
    val novel = sim.waveStats.indices.map(k => sim.frontiers.lift(k + 1).getOrElse(Vector.empty))
    novel.zip(sim.waveStats).zipWithIndex.foreach { case ((fs, ws), k) =>
      assert(fs.size == ws.novel, s"wave $k: frontier k+1 is not the novel set")
    }
    val written = sim.imageIds.toSet
    val rows = sim.admissions.map { case (k, f) => (k, f.host, "admitted") } ++
      sim.admissions.collect {
        case (k, f) if f.kind == Finding.Image && written(f.url) => (k, f.host, "images_written")
      } ++
      novel.zipWithIndex.flatMap { case (fs, k) => fs.map(f => (k, f.host, "novel")) }
    import spark.implicits._
    rows.toDF("wave", "host", "m")
      .groupBy($"wave",
        pmod(xxhash64($"host"), lit(Crawler.MetricsHostBuckets)).cast("int"), $"m")
      .count()
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2)) -> r.getLong(3))
      .toMap
  }

  private def assertMetricsConform(cfg: SynthWeb.WebConfig, seeds: Seq[String],
                                   hostVisitLimit: Int = 256): Crawler = {
    val sim = RefSim.run(seeds, cfg, hostVisitLimit = hostVisitLimit)
    val crawler = new Crawler(spark, CrawlConfig(
      web = cfg, seeds = seeds, lakeRoot = tmpDir("metrics_lake"),
      hostVisitLimit = hostVisitLimit,
      fetchPartitions = 8, saltSlots = 2))
    crawler.run()
    val eng = metricSums(crawler)
    assert(eng.keySet == sim.waveStats.indices.toSet,
      s"metric waves ${eng.keySet.toSeq.sorted} vs sim ${sim.waveStats.indices}")
    sim.waveStats.zipWithIndex.foreach { case (ws, k) =>
      val m = eng(k)
      assert(m("candidates") == ws.candidates, s"wave $k candidates: ${m("candidates")} vs ${ws.candidates}")
      assert(m("admitted") == ws.admitted, s"wave $k admitted: ${m("admitted")} vs ${ws.admitted}")
      assert(m("fetch_ok") == ws.fetchOk, s"wave $k fetch_ok: ${m("fetch_ok")} vs ${ws.fetchOk}")
      assert(m("fetch_err") == ws.fetchErr, s"wave $k fetch_err: ${m("fetch_err")} vs ${ws.fetchErr}")
      assert(m("novel") == ws.novel, s"wave $k novel: ${m("novel")} vs ${ws.novel}")
      assert(m("dup_dropped") == ws.dupDropped, s"wave $k dup_dropped: ${m("dup_dropped")} vs ${ws.dupDropped}")
      assert(m("images_written") == ws.imagesWritten, s"wave $k images: ${m("images_written")} vs ${ws.imagesWritten}")
      assert(m("budget_dropped") == ws.candidates - ws.admitted,
        s"wave $k budget_dropped: ${m("budget_dropped")} vs ${ws.candidates - ws.admitted}")
    }
    val (engB, simB) = (engineBuckets(crawler), simBuckets(sim))
    val diff = (engB.keySet ++ simB.keySet).toSeq.sorted
      .filter(key => engB.get(key) != simB.get(key))
      .map(key => s"$key: engine ${engB.get(key)} vs sim ${simB.get(key)}")
    if (diff.nonEmpty) fail(diff.mkString("per-bucket mismatch:\n", "\n", ""))
    crawler
  }

  test("metrics table sums equal RefSim per-wave counters") {
    assertMetricsConform(
      SynthWeb.WebConfig(nHosts = 6, pagesPerHost = 25, imagesPerHost = 10),
      SynthWeb.seeds(3))
  }

  test("metrics under a binding budget: budget_dropped matches and is non-zero") {
    // dense link graph + tiny budget => admission cap binds hard
    val crawler = assertMetricsConform(
      SynthWeb.WebConfig(nHosts = 4, pagesPerHost = 30, imagesPerHost = 8,
        linksPerPage = 12),
      SynthWeb.seeds(4), hostVisitLimit = 10)
    val dropped = metricSums(crawler).values.map(_("budget_dropped")).sum
    assert(dropped > 0, "expected the 11-cap to drop candidates")
  }

  test("every manifest's candidate vector counts its frontier's rows per host bucket") {
    val crawler = new Crawler(spark, CrawlConfig(
      web = SynthWeb.WebConfig(nHosts = 6, pagesPerHost = 20, imagesPerHost = 8),
      seeds = SynthWeb.seeds(4), lakeRoot = tmpDir("candidates_lake"),
      fetchPartitions = 8, saltSlots = 2))
    crawler.run()
    val waves = crawler.runLog.completeWaves
    assert(waves.size > 2)
    waves.foreach { k =>
      // wave 0's vector is bucketed on the driver, later ones by Spark
      val want = crawler.frontierT.readWave(k)
        .groupBy(pmod(xxhash64(col("host")), lit(Crawler.MetricsHostBuckets)).cast("int"))
        .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val got = crawler.runLog.candidates(k).zipWithIndex.collect { case (n, b) if n > 0 => b -> n }.toMap
      assert(got == want, s"wave $k candidate vector $got vs frontier rows $want")
      assert(crawler.runLog.stats(k)("frontier") == want.values.sum)
    }
  }

  test("a crawl writes no metrics table and no frontier past the seeds") {
    val lake = tmpDir("derived_lake")
    val crawler = new Crawler(spark, CrawlConfig(
      web = SynthWeb.WebConfig(nHosts = 4, pagesPerHost = 15, imagesPerHost = 5),
      seeds = SynthWeb.seeds(2), lakeRoot = lake, fetchPartitions = 8, saltSlots = 2))
    crawler.run()
    assert(crawler.runLog.completeWaves.size > 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(lake, "metrics")))
    assert(new java.io.File(lake, "frontier/data").list().toSeq == Seq("wave=0"))
    assert(crawler.metrics().count() > 0)
  }

  test("metrics under redirects: fetch errors (redirect loops) are counted") {
    val crawler = assertMetricsConform(
      SynthWeb.WebConfig(nHosts = 5, pagesPerHost = 20, imagesPerHost = 6,
        redirectFrac = 0.3),
      SynthWeb.seeds(3))
    val errs = metricSums(crawler).values.map(_("fetch_err")).sum
    assert(errs > 0, "redirect corpus should produce some too-many-redirect drops")
  }
}
