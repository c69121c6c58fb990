package graft.crawl

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

import graft.core.{Canon, Finding, Imaging, PageKernel, SynthWeb, XxHash64}
import graft.lake.{BucketedLakeTable, LakeTable, RunLog, SnapshotMeta}

/** Engine configuration. Conformance runs (vs RefSim) use
  * robots=false and perWaveHostQuota=None — those two are engine
  * extensions absent in the reference (SURVEY.md §2.8 D4); everything
  * else reproduces /root/reference/src/main.rs semantics. */
final case class CrawlConfig(
    web: SynthWeb.WebConfig,
    seeds: Seq[String],
    lakeRoot: String,
    depthLimit: Int = 4,          // src/main.rs:23; frontier_{k+1} = seen_{k+1} with depth < it
    // src/main.rs:24 (=> 257 admissions/host). The admission window's
    // skew bound needs hostVisitLimit + 1 <= 1000
    // (spark.sql.optimizer.windowGroupLimitThreshold); above that,
    // admission is still exact but the window's input is unbounded
    hostVisitLimit: Int = 256,
    bloom: Boolean = true,
    bloomExpectedItems: Long = 4L * 1000 * 1000,
    bloomFpp: Double = 0.01,
    // seen-table hash buckets (= bloom shards), fixed for a lake's
    // lifetime: every seen snapshot records it and a read checks it
    seenBuckets: Int = 32,
    // unused: nothing reads it; it stays for callers that pass it by
    // name. Admission's skew bound is the window's map-side group limit,
    // at every wave size (see hostVisitLimit)
    admitPreLimitMinRows: Long = 4L * 1000 * 1000,
    fetchPartitions: Int = 64,    // salted fetch-stage slots
    saltSlots: Int = 8,           // sub-slots one hot host spreads over
    robots: Boolean = false,      // engine extension: robots.txt cache table
    perWaveHostQuota: Option[Int] = None, // engine extension: token bucket
    maxWaves: Int = 100
)

/** One row of the frontier / admitted-wave tables. */
final case class FrontierRow(kind: String, url: String, depth: Int, host: String)

/** Outcome of fetching one admitted row. Pages and images share the row
  * type so one salted stage fetches both: a page carries its resolved
  * `children`, an image its payload and derived fields (empty for the
  * other kind and for failed fetches). */
final case class Fetched(
    kind: String, url: String, host: String, ok: Boolean,
    children: Seq[Finding],
    bytes: Array[Byte], w: Int, h: Int, fmt: String, caption: String,
    phash: Long, basename: String
)

/** Frontier k: the snapshot it reads (wave 0's seeds, else seen's wave-k
  * append under the depth gate), and from manifest k its size (the
  * `frontier` stat) and rows per metrics host bucket (candidate vector). */
final case class FrontierSnapshot(wave: Int, source: SnapshotMeta, totalRows: Long,
    candidates: Seq[Long])

/** The Spark-native wave engine. Each crawl wave is one typed Dataset
  * transform (SURVEY.md §3.2):
  *
  *   frontier_k --budget join+group-limited window--> admitted
  *     --salted mapPartitions(fetch pages AND images)--> fetched (cached)
  *   fetched --> images_{k+1}, budget_{k+1}
  *   fetched --explode--> children --one (kind,url,depth) exchange + agg-->
  *   candidates --bloom prefilter + left-anti(bucketed seen)--> novel
  *   seen += novel (bucketed append), read back as frontier_{k+1}
  *   fetched, novel --per-host-bucket sums--> metrics rows of manifest k+1
  *
  * All coordination state the reference keeps in driver HashMaps
  * (archive, host_visits — src/main.rs:51-52) lives in lake tables, so
  * the design point is the table size, not driver memory.
  *
  * Waves are bulk-synchronous, like the reference's loop
  * (src/main.rs:86-147): wave k reads every input from manifest k and
  * ends by writing manifest k+1, so a fresh, a continuing and a resumed
  * wave start alike. Concurrency stays inside a wave: the budget and
  * images commits overlap the novelty chain, and the bloom merge
  * overlaps the seen commit.
  */
object Crawler {
  /** Fixed observability granularity of the per-wave metrics rows —
    * independent of the storage bucketing (seenBuckets), which is a
    * layout knob; metrics stay comparable across configs. */
  val MetricsHostBuckets = 32

  /** The per-wave metrics counters, in column order. */
  private val Counters = Seq("candidates", "admitted", "fetch_ok", "fetch_err",
    "novel", "dup_dropped", "images_written", "robots_dropped")
  private val MetricsColumns = Seq("wave", "host_bucket") ++ Counters :+ "budget_dropped"

  /** Counter values by (metrics host bucket, counter name). */
  private type Cells = Map[(Int, String), Long]

  /** A wave's metrics rows in MetricsColumns order, one per host bucket
    * its frontier's candidate vector or any of its sums counts. */
  private def metricsRows(wave: Int, candidates: Seq[Long], sums: Cells): Seq[Map[String, Long]] = {
    val cells = sums ++
      candidates.zipWithIndex.collect { case (n, b) if n > 0 => (b, "candidates") -> n }
    cells.keys.map(_._1).toSeq.distinct.sorted.map { b =>
      val c = ListMap("wave" -> wave.toLong, "host_bucket" -> b.toLong) ++
        Counters.map(k => k -> cells.getOrElse((b, k), 0L))
      // robots-blocked rows never reached the budget window
      c + ("budget_dropped" -> (c("candidates") - c("admitted") - c("robots_dropped")))
    }
  }

  /** Fetch one admitted row. fetchFollowing mirrors reqwest's
    * <=10-redirect follow; page links resolve against the REQUEST url
    * r.url (pre-redirect), exactly the reference's quirk
    * (src/main.rs:157,163-164). A body of the other kind is a failed
    * fetch, as in RefSim. */
  private def fetch(r: FrontierRow, web: SynthWeb.WebConfig): Fetched = {
    val failed = Fetched(r.kind, r.url, r.host, ok = false, Seq.empty,
      Array.emptyByteArray, 0, 0, "", "", 0L, "")
    SynthWeb.fetchFollowing(r.url, web) match {
      case SynthWeb.PageBody(html) if r.kind == Finding.Page =>
        failed.copy(ok = true, children = PageKernel.processPage(r.url, html, r.depth).toSeq)
      case SynthWeb.ImageBody(bytes, iw, ih, fmt) if r.kind == Finding.Image =>
        failed.copy(ok = true, bytes = bytes, w = iw, h = ih, fmt = fmt,
          caption = SynthWeb.caption(r.url),
          phash = Imaging.aHash(Imaging.decode(bytes)),
          basename = r.url.substring(r.url.lastIndexOf('/') + 1))
      case _ => failed
    }
  }
}

class Crawler(spark: SparkSession, cfg: CrawlConfig) extends Serializable {
  import spark.implicits._

  // saltSlots > fetchPartitions would make the salted key a
  // pmod-by-zero (ANSI: DIVIDE_BY_ZERO at runtime; non-ANSI: null keys
  // collapsing the fetch stage into one partition) - reject up front
  require(cfg.saltSlots >= 1 && cfg.saltSlots <= cfg.fetchPartitions,
    s"saltSlots (${cfg.saltSlots}) must be in [1, fetchPartitions=${cfg.fetchPartitions}]")

  // the wave-0 frontier: the seeds, which seen never holds
  private val seedsT = new LakeTable(spark, cfg.lakeRoot, "frontier")
  // seen is hash-BUCKETED on the dedup key (SURVEY.md §2.5 J1): the
  // cumulative URL-seen set is never re-shuffled by the per-wave
  // anti-join — its scan reports the bucket partitioning and only the
  // wave's candidates are exchanged (PlanSpec asserts this).
  val seenT = new BucketedLakeTable(spark, cfg.lakeRoot, "seen",
    "kind STRING, url STRING, depth INT, url_hash BIGINT",
    Seq("kind", "url", "depth"), cfg.seenBuckets)
  val budgetT = new LakeTable(spark, cfg.lakeRoot, "host_budget")
  val imagesT = new LakeTable(spark, cfg.lakeRoot, "images")
  val robotsT = new LakeTable(spark, cfg.lakeRoot, "robots_cache")
  val runLog = new RunLog(cfg.lakeRoot)

  /** The frontier of each complete wave, a read view: wave 0's seeds,
    * then each wave's seen append under the depth gate. */
  object frontierT {
    def snapshot(wave: Int): Option[FrontierSnapshot] =
      (if (wave == 0) seedsT.snapshot(0) else seenT.snapshot(wave)).map(src =>
        FrontierSnapshot(wave, src, runLog.stats(wave)("frontier"), runLog.candidates(wave)))
    private[crawl] def read(f: FrontierSnapshot): DataFrame =
      if (f.wave == 0) seedsT.read(Seq(f.source)) else gated(seenT.read(Seq(f.source)))
    def readWave(wave: Int): DataFrame = read(snapshot(wave).getOrElse(
      throw new IllegalStateException(s"frontier: no snapshot for wave $wave")))
    def readAll(): DataFrame = seedsT.readAll().unionByName(gated(seenT.readAll()))
    def committedWaves: Seq[Int] = runLog.completeWaves
    private def gated(seen: DataFrame) = seen.filter($"depth" < cfg.depthLimit)
      .select($"kind", $"url", $"depth", hostCol($"url").as("host"))
  }

  /** host without port from a canonical URL — stays in codegen
    * (no UDF): scheme '://' then a bracketed IPv6 literal or everything
    * up to :, /, ?, # (mirrors Canon.hostOf on canonical urls). */
  private def hostCol(url: Column) =
    regexp_extract(url, "^[a-z][a-z0-9+.-]*://(\\[[^\\]]*\\]|[^/:?#]+)", 1)

  /** `counters` summed per metrics host bucket of `host`
    * (Crawler.MetricsHostBuckets): one collect. */
  private def bucketSums(df: DataFrame, host: Column,
                         counters: (String, Column)*): Crawler.Cells = {
    val sums = counters.map { case (name, c) => sum(c.cast("long")).as(name) }
    df.groupBy(pmod(xxhash64(host), lit(Crawler.MetricsHostBuckets)).cast("int"))
      .agg(sums.head, sums.tail: _*)
      .collect()
      .flatMap(r => counters.indices.map(i => (r.getInt(0), counters(i)._1) -> r.getLong(i + 1)))
      .toMap
  }

  /** Salted fetch-stage key: hot hosts spread over saltSlots sub-slots
    * while the admission window stays host-partitioned (SURVEY.md §4). */
  private def saltedKey =
    pmod(xxhash64(col("host")), lit(cfg.fetchPartitions / cfg.saltSlots)) *
      lit(cfg.saltSlots) + pmod(xxhash64(col("url")), lit(cfg.saltSlots))

  // ---------------------------------------------------------------- seeds

  /** S1+S2: seeds -> canonical distinct -> wave-0 frontier. Malformed
    * seed fails the job (the reference panics, src/main.rs:301-307).
    * Seeds are NOT written to `seen` — the reference never archives
    * them (src/main.rs:87-92), so a page linking back to a seed
    * re-enqueues it once. Their candidate vector is bucketed on the
    * driver, by the hash Spark's xxhash64 computes. */
  def initRun(): Long = {
    val rows = cfg.seeds.map { s =>
      val u = Canon.canonicalize(s).getOrElse(
        throw new IllegalArgumentException(s"malformed seed: $s"))
      FrontierRow(Finding.Page, u.render, 0, u.host)
    }.distinct
    val seeds = seedsT.commit(0, spark.createDataset(rows).toDF().repartition(1))
    val budget = budgetT.commit(0, Seq.empty[(String, Long)].toDF("host", "visits"))
    val robots =
      if (!cfg.robots) Nil
      else Seq(robotsT.commit(0, Seq.empty[(String, Seq[String])].toDF("host", "disallow")))
    val byBucket = rows.groupMapReduce(r =>
      Math.floorMod(XxHash64.hash(r.host), Crawler.MetricsHostBuckets))(_ => 1L)(_ + _)
    runLog.commit(0, seeds +: budget +: robots, Map("frontier" -> seeds.totalRows),
      candidates = Seq.tabulate(Crawler.MetricsHostBuckets)(byBucket.getOrElse(_, 0L)))
    seeds.totalRows
  }

  // ----------------------------------------------------------- one wave

  /** Runs wave k: reads its inputs from manifest k, consumes frontier_k,
    * stages the wave's appends to seen/budget/images (seen's is
    * frontier_{k+1}) and commits them with manifest k+1. Before it
    * returns or throws it joins every Future it started and releases
    * every cache it built, so nothing of wave k outlives it. Returns the
    * size of the next frontier. */
  def runWave(wave: Int, bloomState: PartitionedBloom): Long = {
    val waveT0 = System.nanoTime()
    val webCfg = cfg.web
    val frontierIn = frontierT.snapshot(wave).get
    val budgetIn = budgetT.snapshot(wave).get
    val robotsIn = if (cfg.robots) robotsT.snapshots(wave) else Nil
    val seenIn = seenT.snapshots(wave)
    val started = ArrayBuffer.empty[Future[Any]]
    val cached = ArrayBuffer.empty[Dataset[_]]
    def async[T](body: => T): Future[T] = { val f = Future(body); started += f; f }
    def persist[T](ds: Dataset[T]): Dataset[T] = {
      cached += ds
      ds.persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {
      val frontier = frontierT.read(frontierIn)
      val budget = budgetT.read(Seq(budgetIn))

      // --- engine extension: robots.txt cache + filter (OFF in conformance)
      val (afterRobots, robotsSums, robotsSnap) =
        if (!cfg.robots) (frontier, Map.empty: Crawler.Cells, Nil)
        else applyRobots(wave, frontier, robotsIn)

      // --- A3 + J2: budget-capped admission (Admission.admit).
      // Catalyst picks the budget join by the scan's recorded file bytes:
      // a broadcast while the budget is under autoBroadcastJoinThreshold,
      // else a shuffled join whose host partitioning the window reuses.
      val admitted = Admission.admit(afterRobots
        .filter($"host" =!= "")                              // P2 null-host drop
        .join(budget, Seq("host"), "left")
        .na.fill(0L, Seq("visits")), cfg.hostVisitLimit, cfg.perWaveHostQuota)
        .as[FrontierRow]

      // --- S3-S5 + M1..M5: ONE fetch stage for pages and images, salted by
      // host-hash so a hot host spreads over saltSlots slots. Every later
      // reader of the wave's fetch — budget merge, images commit and the
      // candidate explode — reads this one cache. The per-bucket sums
      // that warm it are the fetch metrics.
      val fetched = persist(admitted
        .repartition(cfg.fetchPartitions, saltedKey)
        .mapPartitions(_.map(Crawler.fetch(_, webCfg))))
      val isPage = $"kind" === Finding.Page
      val fetchedSums = bucketSums(fetched.toDF(), $"host", "admitted" -> lit(1),
        "fetch_ok" -> (isPage && $"ok"), "fetch_err" -> (isPage && !$"ok"),
        "images_written" -> ($"kind" === Finding.Image && $"ok"))
      val admittedCount = fetchedSums.collect { case ((_, "admitted"), n) => n }.sum

      // --- A2: merge admitted counts into the budget table (full rewrite;
      // the table is <= #hosts rows). Runs concurrently with the images
      // commit and the novelty chain, all off the fetched cache. The
      // aggregation's host exchange is the write's layout: AQE coalesces
      // it to one file while the budget is small.
      val budgetChain = async {
        budgetT.commit(wave + 1, budget.unionByName(fetched.select($"host", lit(1L).as("visits")))
          .groupBy($"host").agg(sum($"visits").as("visits")))
      }
      // PNG/JPEG payloads are already entropy-coded — snappy on top only
      // burns CPU, so the images table is written uncompressed
      val imagesChain = async {
        imagesT.commit(wave + 1, fetched.filter($"kind" === Finding.Image && $"ok")
          .select($"url".as("image_id"), $"bytes", $"w", $"h", $"fmt", $"caption",
            $"phash", $"basename"),
          writeOptions = Map("compression" -> "uncompressed"))
      }

      // --- U1: children across all pages; M4 per-page dedup already done
      // in processPage's Set. No parent depth is kept: seeds have depth 0,
      // child pages inherit their page's depth and images get 0
      // (PageKernel.processPage), so every parent of a candidate has its
      // depth and the reference's parent-depth gate is a gate on `depth`.
      val children = fetched.select(explode($"children").as("c"))
        .select($"c.kind".as("kind"), $"c.url".as("url"), $"c.depth".as("depth"))
      // ONE exchange: the raw children hash-partition on the dedup key to
      // seenBuckets partitions and aggregate on that partitioning, so
      // partition p holds exactly bucket p (bucketCol). Every downstream
      // stage — bloom probe, anti-join against the bucketed seen scan,
      // and the bucketed seen WRITE — reuses it: each write task holds
      // exactly one bucket (no small-file explosion).
      val cands = persist(children
        .repartition(cfg.seenBuckets, $"kind", $"url", $"depth")
        .groupBy($"kind", $"url", $"depth")
        .agg(count(lit(1)).as("refs"))
        .withColumn("url_hash", xxhash64($"kind", $"url", $"depth"))
        .withColumn("bucket", bloomState.bucketCol($"kind", $"url", $"depth"))) // both bloom branches read it

      // --- J1 (+A4): novelty = candidates minus seen. The partitioned
      // Bloom pre-filter routes definitely-new rows around the anti-join
      // (codegen might_contain, one bucket probe per row); only
      // maybe-seen rows probe the exact bucketed seen table, which is
      // scanned storage-partitioned — never shuffled.
      val seen = seenT.read(seenIn).select($"kind", $"url", $"depth")
      val novel0 =
        if (cfg.bloom && !bloomState.isEmpty) {
          val probe = bloomState.probeCol(spark, $"bucket", $"url_hash")
          val definitelyNew = cands.filter(!probe)
          val checked = cands.filter(probe)
            .join(seen, Seq("kind", "url", "depth"), "left_anti")
          definitelyNew.unionByName(checked)
        } else if (seenIn.isEmpty) cands // nothing is seen before the first commit
        else cands.join(seen, Seq("kind", "url", "depth"), "left_anti")
      // before the first seen commit novel IS the candidates' cache
      val novel = if (novel0 eq cands) cands else persist(novel0)
      // the job that materializes novel's cache also sums its metrics and
      // the next frontier's candidate vector
      val novelSums = bucketSums(novel, hostCol($"url"), "novel" -> lit(1),
        "dup_dropped" -> ($"refs" - 1), "frontier" -> ($"depth" < cfg.depthLimit))
      val novelCount = novelSums.collect { case ((_, "novel"), n) => n }.sum
      val nextCandidates =
        Seq.tabulate(Crawler.MetricsHostBuckets)(b => novelSums.getOrElse((b, "frontier"), 0L))

      // novel is cached: the bloom merge reads it in a Future while this
      // thread commits seen += novel, which the next wave's admission
      // reads as its frontier. ALL novel rows are archived, even those the
      // depth gate keeps out of the queue (src/main.rs:130-134). The write
      // inherits the candidates' bucket-aligned partitioning.
      val rebuild = cfg.bloom && novelCount > 0 && bloomState.wouldSaturate(novelCount)
      val merge =
        if (!cfg.bloom || novelCount == 0 || rebuild) Future.unit
        else async(bloomState.add(novel, $"bucket", $"url_hash", novelCount))
      val seenSnap = seenT.commit(wave + 1, novel.select($"kind", $"url", $"depth", $"url_hash"))
      // capacity crossing: grow and REBUILD from the full seen set, this
      // wave's staged append included. Without this, fixed-size filters
      // saturate at the 10^10 design point and the pre-filter silently
      // degrades to all-pass.
      if (rebuild) fillBloom(bloomState, seenIn :+ seenSnap)
      val imagesSnap = Await.result(imagesChain, Duration.Inf)
      val budgetSnap = Await.result(budgetChain, Duration.Inf)
      Await.result(merge, Duration.Inf)

      // manifest k+1: the resume contract (wave complete <=> ALL its
      // tables staged) and the next wave's only input
      val metrics =
        Crawler.metricsRows(wave, frontierIn.candidates, fetchedSums ++ novelSums ++ robotsSums)
      runLog.commit(wave + 1, Seq(budgetSnap, imagesSnap, seenSnap) ++ robotsSnap, Map(
        "frontier" -> nextCandidates.sum,
        "admitted" -> admittedCount,
        "novel" -> seenSnap.totalRows,
        "images" -> imagesSnap.totalRows,
        "wall_ms" -> (System.nanoTime() - waveT0) / 1000000L,
        // bloom fill observability: capacity vs items quantifies how
        // far the pre-filter is from its next adaptive rebuild
        "bloom_capacity" -> (if (cfg.bloom) bloomState.capacity else 0L),
        "bloom_items" -> (if (cfg.bloom) bloomState.itemsAdded else 0L)), metrics, nextCandidates)
      nextCandidates.sum
    } finally {
      started.foreach(Await.ready(_, Duration.Inf))
      cached.foreach(_.unpersist(false))
    }
  }

  /** Add all of seen's `snaps` to the bloom (one distributed
    * aggregation, the per-wave merge's shape), grown first if they would
    * overfill it. */
  private def fillBloom(bloom: PartitionedBloom, snaps: Seq[SnapshotMeta]): Unit = {
    val rows = snaps.map(_.totalRows).sum
    if (bloom.wouldSaturate(rows)) bloom.growTo(rows)
    bloom.add(seenT.read(snaps), bloom.bucketCol($"kind", $"url", $"depth"), $"url_hash", rows)
  }

  /** The per-wave, per-host-bucket metrics rows (the north rule's
    * lineage beyond the manifests' per-file row counts) of every
    * complete wave: manifest k+1 carries wave k's. */
  def metrics(): DataFrame =
    runLog.completeWaves.flatMap(runLog.metrics).map(m => Crawler.MetricsColumns.map(m)).toDF("row")
      .select(Crawler.MetricsColumns.zipWithIndex.map { case (c, i) =>
        $"row"(i).cast(if (c == "wave" || c == "host_bucket") "int" else "long").as(c) }: _*)

  /** Engine extension D4: consult/populate the robots cache table and
    * drop disallowed URLs BEFORE budget admission. The robots fetch for
    * new hosts runs INSIDE executors (mapPartitions over the
    * host-distinct Dataset) — at web scale (10^7+ hosts) a driver-side
    * collect+loop would serialize the wave. Returns the allowed rows,
    * the dropped ones' per-bucket sums and the cache's new snapshot. */
  private def applyRobots(wave: Int, frontier: DataFrame, known: Seq[SnapshotMeta])
      : (DataFrame, Crawler.Cells, Seq[SnapshotMeta]) = {
    val fetched = frontier.select($"host").distinct()
      .join(robotsT.read(known).select($"host"), Seq("host"), "left_anti")
      .as[String]
      .mapPartitions(_.map(h => (h, SynthWeb.robots(h))))
      .toDF("host", "disallow")
    // the distinct's host exchange is the write's layout, as for the budget
    val snap = robotsT.commit(wave + 1, fetched)
    val pathCol = regexp_replace($"url", "^[a-z][a-z0-9+.-]*://[^/]*", "")
    val joined = frontier.join(robotsT.read(known :+ snap), Seq("host"), "left")
      .withColumn("path", pathCol)
      .withColumn("blocked",
        coalesce(exists($"disallow", p => startswith($"path", p)), lit(false)))
    val allowed = joined.filter(!$"blocked").select($"kind", $"url", $"depth", $"host")
    (allowed, bucketSums(joined.filter($"blocked"), $"host", "robots_dropped" -> lit(1)), Seq(snap))
  }

  // ------------------------------------------------------------- driver

  /** Full run (or resume). The loop is thin: per wave one transform,
    * counts come from the manifests (no collect of data). A failure
    * surfaces from the wave that hit it, which has already joined its
    * Futures and released its caches. */
  def run(): CrawlSummary = {
    val bloomState = new PartitionedBloom(cfg.seenBuckets, cfg.bloomExpectedItems, cfg.bloomFpp)
    var wave = runLog.lastCompleteWave.getOrElse { initRun(); 0 }
    var frontierSize = frontierT.snapshot(wave).get.totalRows
    val seen = seenT.snapshots(wave)
    // a resumed run rebuilds the bloom from the complete waves. Skip it
    // when the frontier is empty - a finished crawl's re-run must be a
    // no-op, not a full-seen-table aggregation
    if (cfg.bloom && frontierSize > 0 && seen.exists(_.totalRows > 0)) fillBloom(bloomState, seen)
    while (frontierSize > 0 && wave < cfg.maxWaves) {
      frontierSize = runWave(wave, bloomState)
      wave += 1
    }
    CrawlSummary(wave, seenT.rowCountThrough(wave), imagesT.rowCountThrough(wave))
  }
}

final case class CrawlSummary(waves: Int, seenRows: Long, imageRows: Long)

/** Budget-capped admission, the window and filter `runWave` runs,
  * separated so AdmissionSpec tests the shipped expression. */
object Admission {
  /** `base` carries (kind, url, depth, host, visits). Admits each host's
    * `visitLimit + 1 - visits` first rows in the canonical (kind, url,
    * depth) order shared with RefSim (SURVEY.md §3.4), at most `quota`
    * of them (token bucket, engine extension).
    *
    * The skew bound (SURVEY.md §7 hard part 5): `rn <= visitLimit + 1`
    * is implied by the budget term (visits >= 0), but only a literal
    * rank limit lets Catalyst's InferWindowGroupLimit plan a map-side
    * `WindowGroupLimit … Partial` below the window's host exchange, so
    * a hot host ships at most (map tasks x min(quota, visitLimit + 1))
    * rows into its window instead of its whole candidate flood. The
    * rule needs that limit <= spark.sql.optimizer.windowGroupLimitThreshold
    * (1000). A shuffled budget join is itself the host exchange: the
    * window adds none, and the limit then trims only its input. */
  def admit(base: DataFrame, visitLimit: Int, quota: Option[Int]): DataFrame = {
    val w = Window.partitionBy(col("host")).orderBy(col("kind"), col("url"), col("depth"))
    val rn = col("rn")
    val cap = lit(visitLimit + 1)
    base
      .withColumn("rn", row_number().over(w))
      .filter(col("visits") + rn <= cap && rn <= cap && quota.fold(lit(true))(rn <= _))
      .select(col("kind"), col("url"), col("depth"), col("host"))
  }
}
