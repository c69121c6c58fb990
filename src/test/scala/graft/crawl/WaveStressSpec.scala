package graft.crawl

import graft.SparkTestBase
import graft.core.{Finding, RefSim, SynthWeb}
import graft.lake.{Lake, RunLog}
import scala.jdk.CollectionConverters._

/** Stress for the wave commits: 29 TINY waves with every table commit
  * and manifest write artificially slowed (Lake.testCommitHook), so a
  * wave's concurrent commits, its bloom merge and its manifest are far
  * apart in time and any ordering bug (a manifest before its tables, a
  * torn snapshot visible to the next wave's anti-join, a cache released
  * under a running reader, bloom stats from another wave) surfaces
  * deterministically. Asserts: the run-log manifests are contiguous,
  * ordered in time and only written after their tables' snapshots, and
  * each records exactly the seen rows its bloom holds; the result
  * conforms to RefSim; a re-run resumes as a no-op; and a crawl resumed
  * from a torn tail (manifests deleted) converges to the same state.
  */
class WaveStressSpec extends SparkTestBase {
  import spark.implicits._

  private val web = SynthWeb.WebConfig(nHosts = 2, pagesPerHost = 60,
    imagesPerHost = 5, linksPerPage = 1, imagesPerPage = 1)
  private val seeds = SynthWeb.seeds(1)
  private lazy val sim = RefSim.run(seeds, web)

  private def cfg(lake: String) = CrawlConfig(web = web, seeds = seeds,
    lakeRoot = lake, fetchPartitions = 4, saltSlots = 2, seenBuckets = 4)

  private def engineSeen(c: Crawler): Set[Finding] =
    c.seenT.readAll().select($"kind", $"url", $"depth").as[(String, String, Int)]
      .collect().map(t => Finding(t._1, t._2, t._3)).toSet

  test("29 slow-commit waves: ordered run log, conformance, no-op resume") {
    assert(sim.frontiers.length >= 20, s"corpus regressed: ${sim.frontiers.length} waves")
    val lake = tmpDir("stress_lake")
    Lake.testCommitHook = (_, _) => Thread.sleep(120L)
    val summary =
      try new Crawler(spark, cfg(lake)).run()
      finally Lake.testCommitHook = (_, _) => ()

    assert(summary.waves == sim.frontiers.length)
    val log = new RunLog(lake)
    val waves = log.completeWaves
    assert(waves == (0 to summary.waves), s"run log not contiguous: $waves")
    // marks must have landed in wave order (a later wave's mark never
    // overtakes an earlier one)
    val times = waves.map(w => java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(lake, "_run", s"wave-$w.json")).toMillis)
    assert(times.zip(times.tail).forall { case (a, b) => a <= b },
      s"run-log marks out of order: ${waves.zip(times)}")
    // a mark implies all its table snapshots landed
    val c = new Crawler(spark, cfg(lake))
    waves.tail.foreach { w =>
      assert(c.frontierT.snapshot(w).isDefined, s"wave $w marked but frontier snapshot missing")
      assert(c.seenT.snapshot(w).isDefined, s"wave $w marked but seen snapshot missing")
      assert(log.metrics(w).nonEmpty, s"wave $w marked but its manifest carries no metrics rows")
      assert(log.stats(w)("bloom_items") == c.seenT.rowCountThrough(w),
        s"wave $w's manifest records ${log.stats(w)("bloom_items")} bloom items, " +
          s"seen holds ${c.seenT.rowCountThrough(w)} rows")
    }
    assert(engineSeen(c) == sim.seen)
    // one commit point: the wave manifests are the lake's only JSON
    val json = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(lake)))(
      _.iterator().asScala.map(_.toString).filter(_.endsWith(".json")).toVector.sorted)
    assert(json == waves.map(w => java.nio.file.Paths.get(lake, "_run", s"wave-$w.json").toString).sorted)

    // resume on the completed lake: a no-op that reports the same summary
    val again = new Crawler(spark, cfg(lake)).run()
    assert(again == summary, s"resume changed the summary: $again vs $summary")
  }

  test("resume from a torn tail under slow commits converges to the same state") {
    val lake = tmpDir("stress_torn")
    Lake.testCommitHook = (_, _) => Thread.sleep(80L)
    try {
      val full = new Crawler(spark, cfg(lake)).run()
      // simulate a crash AFTER the tables of the last 3 waves landed but
      // claw back their completion marks: the resumed run must re-run
      // those waves idempotently (each commit overwrites its wave dir)
      val log = new RunLog(lake)
      log.completeWaves.takeRight(3).foreach { w =>
        java.nio.file.Files.delete(java.nio.file.Paths.get(lake, "_run", s"wave-$w.json"))
      }
      val resumed = new Crawler(spark, cfg(lake)).run()
      assert(resumed == full, s"torn-tail resume diverged: $resumed vs $full")
      val c = new Crawler(spark, cfg(lake))
      assert(engineSeen(c) == sim.seen)
    } finally Lake.testCommitHook = (_, _) => ()
  }
}
