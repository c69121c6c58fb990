package graft.crawl

import graft.SparkTestBase
import graft.core.SynthWeb

/** Engine extensions beyond the reference (SURVEY.md §2.8 D4): robots
  * cache filtering and per-wave token-bucket quotas. Both are off in
  * conformance runs; here their own semantics are asserted. */
class ExtensionsSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  private val web = SynthWeb.WebConfig(nHosts = 6, pagesPerHost = 20, imagesPerHost = 8,
    imagesPerPage = 2)

  test("robots: disallowed paths are never fetched and consume no budget") {
    val crawler = new Crawler(spark, CrawlConfig(
      web = web, seeds = SynthWeb.seeds(4), lakeRoot = tmpDir("robots"),
      robots = true, fetchPartitions = 8, saltSlots = 2))
    crawler.run()
    import spark.implicits._
    // hosts 1 and 4 disallow /img/ -> no images from them in the table
    val imgHosts = crawler.imagesT.readAll().select($"image_id").as[String]
      .collect().map(graft.core.Canon.hostOf).toSet
    assert(!imgHosts.contains("h1.test") && !imgHosts.contains("h4.test"), imgHosts.toString)
    assert(imgHosts.nonEmpty)
    // host 2 disallows the /p1 prefix -> p1 and p1x never admitted
    val robotsLake = crawler.robotsT.readAll().as[(String, Seq[String])].collect().toMap
    assert(robotsLake("h2.test").contains("/p1"))
    val h2 = crawler.frontierT.readAll().filter($"host" === "h2.test")
    val p1 = $"url".startsWith("http://h2.test/p1")
    val seenP1 = h2.filter(p1).count()
    assert(seenP1 > 0, "h2 discovered no /p1 url: its rule was never exercised")
    // p1-prefixed URLs may be DISCOVERED (frontier) but never fetched:
    // every admission counts once in the budget and no host reaches the
    // visit limit here, so h2's budget is exactly its frontier rows
    // outside /p1
    val budgets = crawler.budgetT.readWave(crawler.budgetT.latestWave.get)
      .as[(String, Long)].collect().toMap
    assert(budgets.values.max < 257, s"a host reached the 257-admission cap: $budgets")
    val h2Allowed = h2.filter(!p1).count()
    assert(budgets("h2.test") == h2Allowed,
      s"h2 admitted a /p1 url: budget ${budgets("h2.test")}, frontier outside /p1 $h2Allowed")
    val noRobots = new Crawler(spark, CrawlConfig(
      web = web, seeds = SynthWeb.seeds(4), lakeRoot = tmpDir("norobots"),
      robots = false, fetchPartitions = 8, saltSlots = 2))
    noRobots.run()
    val budgetsFree = noRobots.budgetT.readWave(noRobots.budgetT.latestWave.get)
      .as[(String, Long)].collect().toMap
    assert(budgets("h1.test") < budgetsFree("h1.test"),
      s"robots should reduce h1 admissions: ${budgets("h1.test")} vs ${budgetsFree("h1.test")}")
  }

  test("robots rules survive a crash between the robots commit and the run-log mark") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cfg = CrawlConfig(web = web, seeds = SynthWeb.seeds(4),
      lakeRoot = tmpDir("robotscrash"), robots = true,
      fetchPartitions = 8, saltSlots = 2, maxWaves = 1)
    new Crawler(spark, cfg).run() // completes wave 0 only (run log marks 1)
    // simulate wave 1 crashing AFTER its robots commit but BEFORE its
    // run-log mark: the torn snapshot 2 already holds the crashed
    // attempt's freshly-fetched rules. A readAll()-cached resume would
    // treat those hosts as known and OVERWRITE snapshot 2 with an
    // empty set - deleting their rules and crawling disallowed URLs.
    val c2 = new Crawler(spark, cfg.copy(maxWaves = 100))
    val known = c2.robotsT.readThrough(1).select(col("host"))
    val newHosts = c2.frontierT.readWave(1).select(col("host")).distinct()
      .join(known, Seq("host"), "left_anti").as[String].collect()
    val torn = newHosts.toSeq.map(h => (h, SynthWeb.robots(h))).toDF("host", "disallow")
    c2.robotsT.commit(2, torn.repartition(1))
    c2.run() // resume wave 1 onward
    // oracle: an uninterrupted run on a fresh lake — byte-identical state
    val clean = new Crawler(spark, cfg.copy(
      lakeRoot = tmpDir("robotsclean"), maxWaves = 100))
    clean.run()
    val rulesA = c2.robotsT.readAll().as[(String, Seq[String])].collect().toMap
    val rulesB = clean.robotsT.readAll().as[(String, Seq[String])].collect().toMap
    assert(rulesA == rulesB, s"resume lost robots rules: ${rulesB.keySet -- rulesA.keySet}")
    val imgHosts = c2.imagesT.readAll().select($"image_id").as[String]
      .collect().map(graft.core.Canon.hostOf).toSet
    assert(!imgHosts.contains("h1.test") && !imgHosts.contains("h4.test"),
      s"disallowed hosts fetched after resume: $imgHosts")
    val seenA = c2.seenT.readAll().select($"kind", $"url", $"depth")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val seenB = clean.seenT.readAll().select($"kind", $"url", $"depth")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(seenA == seenB, "resumed crawl diverged from the uninterrupted run")
  }

  test("token bucket: at most Q admissions per host per wave") {
    val q = 5
    val crawler = new Crawler(spark, CrawlConfig(
      web = web, seeds = SynthWeb.seeds(3), lakeRoot = tmpDir("quota"),
      perWaveHostQuota = Some(q), fetchPartitions = 8, saltSlots = 2))
    crawler.run()
    import spark.implicits._
    // per-wave budget deltas must be <= q for every host
    val waves = crawler.budgetT.committedWaves
    val perWave = waves.map(w =>
      w -> crawler.budgetT.readWave(w).as[(String, Long)].collect().toMap)
    perWave.sliding(2).foreach {
      case Seq((_, prev), (w, cur)) =>
        cur.foreach { case (host, visits) =>
          val delta = visits - prev.getOrElse(host, 0L)
          assert(delta <= q, s"wave $w host $host delta=$delta > $q")
        }
      case _ => ()
    }
    // and the crawl still makes progress
    assert(crawler.seenT.rowCountThrough(Int.MaxValue) > 0)
  }
}
