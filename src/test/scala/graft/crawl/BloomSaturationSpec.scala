package graft.crawl

import graft.SparkTestBase
import graft.core.{Finding, RefSim, SynthWeb}

/** A4 at the design point (VERDICT r2 missing #3): fixed-size Bloom
  * filters saturate at 10^10 seen rows. Round 3 makes the sizing
  * adaptive — the crawler grows + rebuilds the partitioned filters when
  * an add would cross capacity. This spec proves (a) the saturated
  * regime itself stays sound (no false negatives — the property that
  * keeps the exact anti-join authoritative), (b) growTo restores the
  * selectivity a saturated filter loses, and (c) a crawl that overfills
  * its initial sizing many times over still conforms to RefSim while
  * actually exercising the rebuild path.
  */
class BloomSaturationSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def probeTrueCount(pb: PartitionedBloom,
                             df: org.apache.spark.sql.DataFrame): Long =
    df.filter(pb.probeCol(spark, col("b"), col("h"))).count()

  test("10x-overfilled filters: zero false negatives; growTo + re-add restores selectivity") {
    val buckets = 4
    val pb = new PartitionedBloom(buckets, 4096L, 0.01) // 1024/bucket floor
    val cap = pb.capacity
    assert(cap == 4096L)
    val n = 10 * cap // 10x overfill
    def ids(from: Long, count: Long) = spark.range(from, from + count)
      .select(pmod(hash(col("id")), lit(buckets)).as("b"), xxhash64(col("id")).as("h"))
    val addedDf = ids(0, n)
    assert(pb.wouldSaturate(n))
    pb.add(addedDf, col("b"), col("h"), n)

    // (a) soundness survives saturation: every added item still probes true
    assert(probeTrueCount(pb, addedDf) == n, "bloom false negative under saturation")
    // saturation means the pre-filter stopped being selective: fresh
    // items pass at far above the design fpp
    val fresh = ids(1000000000L, cap)
    val satFp = probeTrueCount(pb, fresh).toDouble / cap
    assert(satFp > 0.5, f"expected a saturated filter to pass most fresh items, got $satFp%.3f")

    // (b) grow + rebuild at the observed cardinality -> selectivity back
    pb.growTo(n)
    assert(pb.capacity >= 2 * n && pb.isEmpty)
    pb.add(addedDf, col("b"), col("h"), n)
    assert(probeTrueCount(pb, addedDf) == n, "false negative after rebuild")
    val freshFp = probeTrueCount(pb, fresh).toDouble / cap
    assert(freshFp < 0.05, f"rebuilt filter should be selective again, got $freshFp%.3f")
    info(f"selectivity: saturated fp-rate $satFp%.3f -> rebuilt $freshFp%.4f (capacity $cap -> ${pb.capacity})")
  }

  test("aggregate-built filters get the REQUESTED size: session clamp caps are raised") {
    // Spark's BloomFilterAggregate clamps numBits/estimatedNumItems to
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits/maxNumItems
    // (Math.min in its lazy vals — verified in the 4.1.2 bytecode).
    // With the default 64M-bit cap, growTo past ~7M items/bucket would
    // silently stop growing the REAL filters while capacity accounting
    // doubled on a fiction. add() must raise the caps to its sizing.
    // Simulate the clamp cheaply by LOWERING the caps below a small
    // request and asserting the realized bitSize still tracks it.
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (prevItems, prevBits) = (spark.conf.get(itemsKey), spark.conf.get(bitsKey))
    try {
      spark.conf.set(itemsKey, "100")
      spark.conf.set(bitsKey, "1024")
      val pb = new PartitionedBloom(1, 4096L, 0.01)
      val df = spark.range(0, 4096)
        .select(lit(0).as("b"), xxhash64(col("id")).as("h"))
      pb.add(df, col("b"), col("h"), 4096L)
      val want = org.apache.spark.util.sketch.BloomFilter.create(4096L, 0.01).bitSize()
      assert(pb.realizedBitSize(0).contains(want),
        s"clamped filter: got ${pb.realizedBitSize(0)}, requested $want bits " +
          "(the session cap was not raised before the aggregate build)")
      // and the caps are now at least the request (visible to later builds)
      assert(spark.conf.get(bitsKey).toLong >= want)
    } finally {
      spark.conf.set(itemsKey, prevItems)
      spark.conf.set(bitsKey, prevBits)
    }
  }

  test("crawl overfilling its initial bloom sizing rebuilds and still conforms to RefSim") {
    // 2 buckets x 1024 floor = 2048 capacity; this corpus archives
    // 8,637 findings — >4x that — forcing grow+rebuild mid-crawl
    val web = SynthWeb.WebConfig(nHosts = 24, pagesPerHost = 150, imagesPerHost = 75,
      linksPerPage = 12, imagesPerPage = 3)
    val seeds = SynthWeb.seeds(12)
    val sim = RefSim.run(seeds, web)
    assert(sim.seen.size > 3 * 2048, s"corpus too small to saturate: ${sim.seen.size}")

    val cfg = CrawlConfig(web = web, seeds = seeds, lakeRoot = tmpDir("bloomsat"),
      seenBuckets = 2, bloomExpectedItems = 64L, fetchPartitions = 8, saltSlots = 2)
    val crawler = new Crawler(spark, cfg)
    val bloom = new PartitionedBloom(cfg.seenBuckets, cfg.bloomExpectedItems, cfg.bloomFpp)
    val initialCapacity = bloom.capacity
    crawler.initRun()
    var wave = 0
    var frontierSize = crawler.frontierT.snapshot(0).get.totalRows
    while (frontierSize > 0 && wave < cfg.maxWaves) {
      frontierSize = crawler.runWave(wave, bloom)
      wave += 1
    }

    assert(bloom.capacity > initialCapacity,
      s"rebuild never triggered (capacity stayed $initialCapacity for ${sim.seen.size} rows)")
    assert(bloom.itemsAdded == sim.seen.size.toLong)
    val engineSeen = crawler.seenT.readAll()
      .select($"kind", $"url", $"depth").as[(String, String, Int)]
      .collect().map(t => Finding(t._1, t._2, t._3)).toSet
    assert(engineSeen == sim.seen,
      s"seen mismatch after bloom rebuilds: engine=${engineSeen.size} sim=${sim.seen.size}")
    info(s"bloom capacity $initialCapacity -> ${bloom.capacity} over ${sim.seen.size} seen rows, $wave waves")
  }
}
