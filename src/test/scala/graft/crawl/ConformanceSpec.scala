package graft.crawl

import graft.SparkTestBase
import graft.core.{Finding, RefSim, SynthWeb}

/** The core gate (SURVEY.md §5.1): the Spark engine must equal the
  * single-threaded literal simulation of /root/reference/src/main.rs
  * on per-wave frontier sets, the final URL-seen set, host-visit
  * counts, and the fetched image set — under the shared canonical
  * linearization (per-wave (host, kind, url, depth) order). */
class ConformanceSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  private def engineCfg(cfg: SynthWeb.WebConfig, seeds: Seq[String], lake: String,
                        depthLimit: Int, bloom: Boolean): CrawlConfig =
    CrawlConfig(web = cfg, seeds = seeds, lakeRoot = lake, depthLimit = depthLimit, bloom = bloom,
      fetchPartitions = 8, saltSlots = 2)

  private def runBoth(cfg: SynthWeb.WebConfig, seeds: Seq[String], depthLimit: Int = 4,
                      bloom: Boolean = true, lake: String = tmpDir("lake")): (Crawler, RefSim.SimResult) = {
    val sim = RefSim.run(seeds, cfg, depthLimit = depthLimit)
    val crawler = new Crawler(spark, engineCfg(cfg, seeds, lake, depthLimit, bloom))
    crawler.run()
    (crawler, sim)
  }

  private def assertConformance(crawler: Crawler, sim: RefSim.SimResult): Unit = {
    import spark.implicits._
    // final URL-seen set
    val engineSeen = crawler.seenT.readAll()
      .select($"kind", $"url", $"depth").as[(String, String, Int)]
      .collect().map(t => Finding(t._1, t._2, t._3)).toSet
    assert(engineSeen == sim.seen,
      s"seen mismatch: onlyEngine=${(engineSeen -- sim.seen).take(5)} onlySim=${(sim.seen -- engineSeen).take(5)}")

    // per-wave frontier sets
    val waves = crawler.frontierT.committedWaves
    sim.frontiers.zipWithIndex.foreach { case (f, k) =>
      val eng = crawler.frontierT.readWave(k)
        .select($"kind", $"url", $"depth").as[(String, String, Int)]
        .collect().map(t => Finding(t._1, t._2, t._3)).toSet
      assert(eng == f.toSet, s"frontier wave $k mismatch: engine=${eng.size} sim=${f.size}")
    }
    // engine terminates at the same wave (its last frontier is empty or absent)
    val lastEngineWave = waves.last
    assert(lastEngineWave == sim.frontiers.length ||
      (lastEngineWave == sim.frontiers.length - 1),
      s"engine waves=$lastEngineWave sim waves=${sim.frontiers.length}")

    // host visit counts
    val engineVisits = crawler.budgetT.readWave(lastEngineWave)
      .as[(String, Long)].collect().toMap
    assert(engineVisits == sim.hostVisits,
      s"visits mismatch: ${engineVisits.toSet diff sim.hostVisits.toSet}")

    // fetched image set + per-row invariants are covered in ImagesSpec;
    // here just the id set
    val engineImages = crawler.imagesT.readAll().select($"image_id").as[String].collect().toSet
    assert(engineImages == sim.imageIds.toSet)
  }

  test("multi-host crawl, no binding budget") {
    val cfg = SynthWeb.WebConfig(nHosts = 6, pagesPerHost = 25, imagesPerHost = 10,
      linksPerPage = 6, imagesPerPage = 2)
    val (c, sim) = runBoth(cfg, SynthWeb.seeds(3))
    assertConformance(c, sim)
    assert(sim.seen.nonEmpty && sim.imageIds.nonEmpty)
  }

  test("binding budget: 257-cap with canonical linearization") {
    val cfg = SynthWeb.WebConfig(nHosts = 2, pagesPerHost = 500, imagesPerHost = 30,
      linksPerPage = 14, imagesPerPage = 1, malformedFrac = 0.0)
    val (c, sim) = runBoth(cfg, Seq(SynthWeb.pageUrl(0, 0), SynthWeb.pageUrl(1, 0)))
    assert(sim.hostVisits.values.exists(_ == 257), s"budget should bind: ${sim.hostVisits}")
    assertConformance(c, sim)
  }

  test("hot-host skew") {
    val cfg = SynthWeb.WebConfig(nHosts = 8, pagesPerHost = 60, imagesPerHost = 10,
      linksPerPage = 8, hotFrac = 0.5)
    val (c, sim) = runBoth(cfg, SynthWeb.seeds(4))
    assertConformance(c, sim)
  }

  test("depth limit 0: seeds-only") {
    val cfg = SynthWeb.WebConfig(nHosts = 4, pagesPerHost = 10, imagesPerHost = 5)
    val lake = tmpDir("depth0")
    val (c, sim) = runBoth(cfg, SynthWeb.seeds(2), depthLimit = 0, lake = lake)
    assertConformance(c, sim)
    assert(sim.frontiers.length == 1)
    // wave 1 archived the seeds' children but queued none: a re-run
    // starts from manifest 1's frontier stat (0), not from seen's rows,
    // so it is a no-op with the same summary and no new manifest
    val manifests = c.runLog.completeWaves
    val summary = CrawlSummary(manifests.last, c.seenT.rowCountThrough(Int.MaxValue),
      c.imagesT.rowCountThrough(Int.MaxValue))
    assert(summary.seenRows > 0)
    val again = new Crawler(spark, engineCfg(cfg, SynthWeb.seeds(2), lake, 0, bloom = true)).run()
    assert(again == summary, s"re-run changed the summary: $again vs $summary")
    assert(c.runLog.completeWaves == manifests)
  }

  test("bloom pre-filter never changes the result (on vs off)") {
    val cfg = SynthWeb.WebConfig(nHosts = 4, pagesPerHost = 30, imagesPerHost = 8)
    val sim = RefSim.run(SynthWeb.seeds(2), cfg)
    Seq(true, false).foreach { bloom =>
      val (c, _) = runBoth(cfg, SynthWeb.seeds(2), bloom = bloom)
      assertConformance(c, sim)
    }
  }

  test("redirect chains: request-url origin quirk, loop drop, cross-host hops") {
    // /r links admitted + budget-charged as themselves; the fetched
    // body's links resolve against the REQUEST url's origin (so a
    // cross-host redirect archives children under the ORIGINAL host) —
    // the reference's pre-redirect-base quirk, src/main.rs:157,163-164
    val cfg = SynthWeb.WebConfig(nHosts = 5, pagesPerHost = 25, imagesPerHost = 8,
      linksPerPage = 8, redirectFrac = 0.35)
    val (c, sim) = runBoth(cfg, SynthWeb.seeds(3))
    assertConformance(c, sim)
    // the corpus must actually exercise redirects
    assert(sim.seen.exists(_.url.matches(""".*\/r\d+$""")), "no /r findings crawled")
  }

  test("seed with fragment and non-default port") {
    val cfg = SynthWeb.WebConfig(nHosts = 3, pagesPerHost = 8, imagesPerHost = 4)
    // the fragment seed fetches p0 (fragment stripped for GET) but is a
    // distinct Finding; :80 collapses to the canonical seed
    val seeds = Seq("http://h0.test/p0#top", "HTTP://h1.test:80/p0")
    val (c, sim) = runBoth(cfg, seeds)
    assertConformance(c, sim)
  }
}
