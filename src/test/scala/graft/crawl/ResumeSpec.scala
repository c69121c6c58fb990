package graft.crawl

import graft.SparkTestBase
import graft.core.{RefSim, SynthWeb}

/** SURVEY.md §5.6: interrupt the loop after an intermediate wave's
  * commit, restart, and assert the final state is identical to an
  * uninterrupted run (and to the oracle). */
class ResumeSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  test("kill after wave k, resume, final state identical") {
    val web = SynthWeb.WebConfig(nHosts = 4, pagesPerHost = 20, imagesPerHost = 8)
    val seeds = SynthWeb.seeds(2)
    def cfg(root: String) = CrawlConfig(web = web, seeds = seeds, lakeRoot = root,
      fetchPartitions = 8, saltSlots = 2)

    // uninterrupted reference run
    val fullRoot = tmpDir("full")
    val full = new Crawler(spark, cfg(fullRoot))
    val fullSummary = full.run()

    // interrupted run: execute only waves 0..1 then "crash"
    val root = tmpDir("resume")
    val c1 = new Crawler(spark, cfg(root))
    c1.initRun()
    val c = cfg(root)
    val bloom1 = new PartitionedBloom(c.seenBuckets, c.bloomExpectedItems, c.bloomFpp)
    c1.runWave(0, bloom1)
    c1.runWave(1, bloom1)
    // a later, uncommitted wave's partial data would be overwritten on
    // resume; simulate one by dropping junk into the data dir
    val junk = java.nio.file.Paths.get(root, "frontier", "data", "wave=99")
    java.nio.file.Files.createDirectories(junk)

    // restart from scratch object state (fresh crawler, fresh bloom)
    val c2 = new Crawler(spark, cfg(root))
    val resumedSummary = c2.run()

    assert(resumedSummary.seenRows == fullSummary.seenRows)
    assert(resumedSummary.imageRows == fullSummary.imageRows)
    assert(resumedSummary.waves == fullSummary.waves)

    val a = c2.seenT.readAll().select("kind", "url", "depth").collect().toSet
    val b = new Crawler(spark, cfg(fullRoot)).seenT.readAll()
      .select("kind", "url", "depth").collect().toSet
    assert(a == b)

    // the metrics too: the resumed waves' candidate counts come from
    // the candidate vector manifest 2 carries
    def metricCells(c: Crawler): Map[(Int, Int, String), Long] = {
      val df = c.metrics()
      val counters = df.columns.filterNot(Set("wave", "host_bucket"))
      df.collect().toSeq.flatMap { r =>
        counters.map(k => (r.getAs[Int]("wave"), r.getAs[Int]("host_bucket"), k) -> r.getAs[Long](k))
      }.toMap
    }
    val (resumedCells, fullCells) = (metricCells(c2), metricCells(full))
    assert(resumedCells.nonEmpty && resumedCells == fullCells,
      s"resumed metrics differ: ${resumedCells.toSet diff fullCells.toSet}")

    // and both equal the oracle
    val sim = RefSim.run(seeds, web)
    assert(a.map(r => (r.getString(0), r.getString(1), r.getInt(2))) ==
      sim.seen.map(f => (f.kind, f.url, f.depth)))
  }

  test("a resume with another seen bucket count fails before it commits") {
    // the bucketed seen scan groups files by the bucket id in their
    // names: read with another count, seen rows would land in the
    // wrong anti-join partitions and be crawled again
    val web = SynthWeb.WebConfig(nHosts = 4, pagesPerHost = 20, imagesPerHost = 8)
    val root = tmpDir("rebucket")
    val cfg = CrawlConfig(web = web, seeds = SynthWeb.seeds(2), lakeRoot = root,
      fetchPartitions = 8, saltSlots = 2, seenBuckets = 8, maxWaves = 2)
    new Crawler(spark, cfg).run()
    val log = new graft.lake.RunLog(root)
    val waves = log.completeWaves
    assert(waves.last == 2)
    val e = intercept[IllegalStateException](
      new Crawler(spark, cfg.copy(seenBuckets = 4, maxWaves = 100)).run())
    assert(e.getMessage.contains("with 8 buckets") && e.getMessage.contains("has 4"), e.getMessage)
    assert(log.completeWaves == waves, "the failed resume wrote a manifest")
  }

  test("a crawl and its resume leave the session catalog untouched") {
    val web = SynthWeb.WebConfig(nHosts = 2, pagesPerHost = 6, imagesPerHost = 2)
    val root = tmpDir("nocatalog")
    val cfg = CrawlConfig(web = web, seeds = SynthWeb.seeds(1), lakeRoot = root,
      fetchPartitions = 4, saltSlots = 2, seenBuckets = 4, maxWaves = 2)
    val tables = spark.catalog.listTables().count()
    new Crawler(spark, cfg).run()
    new Crawler(spark, cfg.copy(maxWaves = 100)).run()
    assert(new Crawler(spark, cfg).seenT.rowCountThrough(Int.MaxValue) > 0)
    val seenTables = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_seen_"))
    assert(seenTables.isEmpty, s"crawl tables in the session catalog: ${seenTables.toSeq}")
    assert(spark.catalog.listTables().count() == tables)
  }
}
