package graft.crawl

import graft.SparkTestBase
import graft.core.{Finding, RefSim, SynthWeb}
import graft.lake.{Lake, RunLog}

/** Crash-point matrix: wave 2 fails at each of its commit points —
  * every table commit and the manifest write — through the test commit
  * hook. `run()` must throw before wave 2 is complete, and a fresh
  * Crawler must resume to the state of an uninterrupted run, which
  * equals RefSim's.
  */
class CrashPointSpec extends SparkTestBase {
  import spark.implicits._

  // robots on, so the robots_cache commit is a crash point too: h1's
  // only rule blocks /img/ fetches and no host reaches its visit limit,
  // so the seen set is still RefSim's
  private val web = SynthWeb.WebConfig(nHosts = 2, pagesPerHost = 12, imagesPerHost = 4,
    linksPerPage = 2, imagesPerPage = 1)
  private val seeds = SynthWeb.seeds(1)
  private lazy val sim = RefSim.run(seeds, web)

  private def cfg(lake: String) = CrawlConfig(web = web, seeds = seeds, lakeRoot = lake,
    robots = true, fetchPartitions = 4, saltSlots = 2, seenBuckets = 4)

  private def engineSeen(c: Crawler): Set[Finding] =
    c.seenT.readAll().select($"kind", $"url", $"depth").as[(String, String, Int)]
      .collect().map(t => Finding(t._1, t._2, t._3)).toSet

  private lazy val uninterrupted = {
    val c = new Crawler(spark, cfg(tmpDir("crash_clean")))
    val summary = c.run()
    assert(engineSeen(c) == sim.seen)
    summary
  }

  Seq("host_budget", "images", "seen", "robots_cache", "_run").foreach { point =>
    test(s"a crash at wave 2's $point commit resumes to the uninterrupted state") {
      assert(uninterrupted.waves > 5, s"corpus too shallow: ${uninterrupted.waves} waves")
      val lake = tmpDir(s"crash_$point")
      Lake.testCommitHook = (table, wave) =>
        if (table == point && wave == 2) throw new IllegalStateException(s"crash at $table $wave")
      val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val err =
        try intercept[IllegalStateException](new Crawler(spark, cfg(lake)).run())
        finally Lake.testCommitHook = (_, _) => ()
      assert(err.getMessage == s"crash at $point 2")
      // the failed run released every cache its waves built
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
      assert(leaked.isEmpty, s"the crashed run left cached RDDs $leaked")
      val complete = new RunLog(lake).completeWaves
      assert(complete.size <= 2, s"wave 2 completed despite the crash: $complete")
      // fail fast: wave 2's commits belong to wave 1, whose runWave
      // throws the crash, so no later wave ran (its seen append would be
      // staged as wave 3)
      val staged = new java.io.File(lake, "seen/data").list().map(_.stripPrefix("wave=").toInt)
      assert(staged.max <= 2, s"waves kept running after the crash: ${staged.sorted.toSeq}")

      val c = new Crawler(spark, cfg(lake))
      assert(c.run() == uninterrupted)
      assert(engineSeen(c) == sim.seen)
    }
  }
}
