package graft.crawl

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

import graft.core.{Canon, Finding, HtmlTok, Imaging, PageKernel, SynthWeb}
import graft.lake.{BucketedLakeTable, LakeTable, RunLog, SnapshotMeta}

/** Engine configuration. Conformance runs (vs RefSim) use
  * robots=false and perWaveHostQuota=None — those two are engine
  * extensions absent in the reference (SURVEY.md §2.8 D4); everything
  * else reproduces /root/reference/src/main.rs semantics. */
final case class CrawlConfig(
    web: SynthWeb.WebConfig,
    seeds: Seq[String],
    lakeRoot: String,
    depthLimit: Int = 4,          // src/main.rs:23 (default 4; vacuous for >=1)
    hostVisitLimit: Int = 256,    // src/main.rs:24 (=> 257 admissions/host)
    bloom: Boolean = true,
    bloomExpectedItems: Long = 4L * 1000 * 1000,
    bloomFpp: Double = 0.01,
    seenBuckets: Int = 32,        // seen-table hash buckets (= bloom shards)
    // engage the budget-aware pre-limit before the admission window
    // only when the wave's frontier is big enough that one viral host's
    // window partition could actually straggle;
    // below this the pre-limit's extra exchange costs more than the
    // single-task sort it avoids (measured: ~25% admit overhead at
    // sandbox sizes). 0 forces it on (specs + conformance do this).
    admitPreLimitMinRows: Long = 4L * 1000 * 1000,
    fetchPartitions: Int = 64,    // salted fetch-stage slots
    saltSlots: Int = 8,           // sub-slots one hot host spreads over
    robots: Boolean = false,      // engine extension: robots.txt cache table
    perWaveHostQuota: Option[Int] = None, // engine extension: token bucket
    // broadcast the budget only while it's small: at 10^7+ hosts the
    // per-wave broadcast (hundreds of MB, deserialized on every
    // executor) and the repartition(1) budget rewrite both become the
    // wave's fixed cost. Above this row count the budget joins as a
    // plain shuffled join (the admission window shuffles by host
    // anyway, so the extra exchange is only the budget's own) and the
    // rewrite spreads over seenBuckets host-hashed files.
    budgetBroadcastMaxRows: Long = 4L * 1000 * 1000,
    maxWaves: Int = 100
)

/** One row of the frontier / admitted-wave tables. */
final case class FrontierRow(kind: String, url: String, depth: Int, host: String)

/** Outcome of fetching one admitted row. Pages and images share the row
  * type so one salted stage fetches both: a page carries its resolved
  * `children`, an image its payload and derived fields (empty for the
  * other kind and for failed fetches). */
final case class Fetched(
    kind: String, url: String, depth: Int, host: String, ok: Boolean,
    children: Seq[Finding],
    bytes: Array[Byte], w: Int, h: Int, fmt: String, caption: String,
    phash: Long, basename: String
)

/** The snapshots wave k reads: its frontier and budget, the robots
  * cache through k, and seen through k once the previous wave's seen
  * append and bloom merge are done. A wave hands its successor the ones
  * it staged; the first wave and a resumed one read them from manifest k. */
private final case class WaveInputs(wave: Int, frontier: SnapshotMeta, budget: SnapshotMeta,
    robots: Seq[SnapshotMeta], seenReady: Future[Seq[SnapshotMeta]])

/** The Spark-native wave engine. Each crawl wave is one typed Dataset
  * transform (SURVEY.md §3.2):
  *
  *   frontier_k --window+broadcast-join--> admitted
  *     --salted mapPartitions(fetch pages AND images)--> fetched (cached)
  *   fetched --> images_{k+1}, budget_{k+1}
  *   fetched --explode--> children --one (kind,url,depth) exchange + agg-->
  *   candidates --bloom prefilter + left-anti(bucketed seen)--> novel
  *   novel --depth gate--> frontier_{k+1};  seen += novel (bucketed append)
  *
  * All coordination state the reference keeps in driver HashMaps
  * (archive, host_visits — src/main.rs:51-52) lives in lake tables, so
  * the design point is the table size, not driver memory.
  */
object Crawler {
  /** Fixed observability granularity of the per-wave metrics rows —
    * independent of the storage bucketing (seenBuckets), which is a
    * layout knob; metrics stay comparable across configs. */
  val MetricsHostBuckets = 32

  /** The per-wave metrics counters, in table column order. */
  private val Counters = Seq("candidates", "admitted", "fetch_ok", "fetch_err",
    "novel", "dup_dropped", "images_written", "robots_dropped")

  /** Fetch one admitted row. fetchFollowing mirrors reqwest's
    * <=10-redirect follow; page links resolve against the REQUEST url
    * r.url (pre-redirect), exactly the reference's quirk
    * (src/main.rs:157,163-164). A body of the other kind is a failed
    * fetch, as in RefSim. */
  private def fetch(r: FrontierRow, web: SynthWeb.WebConfig): Fetched = {
    val failed = Fetched(r.kind, r.url, r.depth, r.host, ok = false, Seq.empty,
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

  val frontierT = new LakeTable(spark, cfg.lakeRoot, "frontier")
  // seen is hash-BUCKETED on the dedup key (SURVEY.md §2.5 J1): the
  // cumulative URL-seen set is never re-shuffled by the per-wave
  // anti-join — its scan reports the bucket partitioning and only the
  // wave's candidates are exchanged (PlanSpec asserts this).
  val seenT = new BucketedLakeTable(spark, cfg.lakeRoot, "seen",
    "kind STRING, url STRING, depth INT, url_hash BIGINT",
    Seq("kind", "url", "depth"), cfg.seenBuckets)
  val budgetT = new LakeTable(spark, cfg.lakeRoot, "host_budget")
  val imagesT = new LakeTable(spark, cfg.lakeRoot, "images")
  val metricsT = new LakeTable(spark, cfg.lakeRoot, "metrics")
  val robotsT = new LakeTable(spark, cfg.lakeRoot, "robots_cache")
  val runLog = new RunLog(cfg.lakeRoot)

  /** host without port from a canonical URL — stays in codegen
    * (no UDF): scheme '://' then a bracketed IPv6 literal or everything
    * up to :, /, ?, # (mirrors Canon.hostOf on canonical urls). */
  private def hostCol(url: Column) =
    regexp_extract(url, "^[a-z][a-z0-9+.-]*://(\\[[^\\]]*\\]|[^/:?#]+)", 1)

  /** Metrics host bucket of a host column (Crawler.MetricsHostBuckets). */
  private def hostBucket(host: Column): Column =
    pmod(xxhash64(host), lit(Crawler.MetricsHostBuckets)).cast("int")

  /** Salted fetch-stage key: hot hosts spread over saltSlots sub-slots
    * while the admission window stays host-partitioned (SURVEY.md §4). */
  private def saltedKey =
    pmod(xxhash64(col("host")), lit(cfg.fetchPartitions / math.max(1, cfg.saltSlots))) *
      lit(cfg.saltSlots) + pmod(xxhash64(col("url")), lit(cfg.saltSlots))

  // ---------------------------------------------------------------- seeds

  /** S1+S2: seeds -> canonical distinct -> wave-0 frontier. Malformed
    * seed fails the job (the reference panics, src/main.rs:301-307).
    * Seeds are NOT written to `seen` — the reference never archives
    * them (src/main.rs:87-92), so a page linking back to a seed
    * re-enqueues it once. */
  def initRun(): Long = {
    val rows = cfg.seeds.map { s =>
      val u = Canon.canonicalize(s).getOrElse(
        throw new IllegalArgumentException(s"malformed seed: $s"))
      FrontierRow(Finding.Page, u.render, 0, u.host)
    }.distinct
    val frontier = frontierT.commit(0, spark.createDataset(rows).toDF().repartition(1))
    val budget = budgetT.commit(0, Seq.empty[(String, Long)].toDF("host", "visits"))
    val robots =
      if (!cfg.robots) Nil
      else Seq(robotsT.commit(0, Seq.empty[(String, Seq[String])].toDF("host", "disallow")))
    runLog.commit(0, frontier +: budget +: robots, Map("frontier" -> frontier.totalRows))
    inputs = Some(WaveInputs(0, frontier, budget, robots, Future.successful(Nil)))
    frontier.totalRows
  }

  // ----------------------------------------------------------- one wave

  /** Runs wave k: consumes frontier_k, stages frontier_{k+1} and the
    * wave's appends to seen/budget/images/metrics, and (asynchronously)
    * commits them with manifest k+1. Returns the size of the next
    * frontier. */
  def runWave(wave: Int, bloomState: PartitionedBloom): Long = {
    val waveT0 = System.nanoTime()
    val webCfg = cfg.web
    val depthLimit = cfg.depthLimit
    val visitLimit = cfg.hostVisitLimit
    val in = inputsOf(wave)

    val frontier = frontierT.read(Seq(in.frontier))
    val budget = budgetT.read(Seq(in.budget))

    // --- engine extension: robots.txt cache + filter (OFF in conformance)
    val (afterRobots, robotsDropped, robotsSnap) =
      if (!cfg.robots) (frontier, frontier.limit(0), Nil)
      else applyRobots(wave, frontier, in.robots)

    // --- A3 + J2: budget-capped admission.
    // row_number per host in canonical (kind,url,depth) order — the
    // fixed linearization shared with RefSim (SURVEY.md §3.4); broadcast
    // the budget (bounded by #hosts, tiny next to the frontier).
    // adaptive dim-join strategy (see CrawlConfig.budgetBroadcastMaxRows)
    val smallBudget = in.budget.totalRows <= cfg.budgetBroadcastMaxRows
    val base = afterRobots
      .filter($"host" =!= "")                              // P2 null-host drop
      .join(if (smallBudget) broadcast(budget) else budget, Seq("host"), "left")
      .na.fill(0L, Seq("visits"))
    // Budget-aware PRE-LIMIT (SURVEY.md §7 hard part 5): a hot host's
    // candidates would otherwise all land in ONE window partition (the
    // wave's straggler at 100x). Within salted (host, psalt) partitions
    // keep only each host's `remaining`-smallest rows in canonical
    // order first — exact, because any row in the host's global top-r
    // is also in its salt-group's top-r — so the global window sees at
    // most saltSlots * remaining rows per host (AdmissionSpec asserts
    // the bound AND exactness). Engaged adaptively: the frontier row
    // count is free (snapshot footers), and below admitPreLimitMinRows
    // the single-task sort it avoids is cheaper than its extra exchange.
    val preLimited =
      if (in.frontier.totalRows < cfg.admitPreLimitMinRows) base
      else Admission.preLimit(base, visitLimit, cfg.saltSlots)
    val w = Window.partitionBy($"host").orderBy($"kind", $"url", $"depth")
    val ranked = preLimited.withColumn("rn", row_number().over(w))
    val quotaFilter = cfg.perWaveHostQuota
      .map(q => $"rn" <= q).getOrElse(lit(true))           // token bucket (ext.)
    val admitted = ranked
      .filter($"visits" + $"rn" <= lit(visitLimit + 1) && quotaFilter)
      .select($"kind", $"url", $"depth", $"host")
      .as[FrontierRow]

    // --- S3-S5 + M1..M5: ONE fetch stage for pages and images, salted by
    // host-hash so a hot host spreads over saltSlots slots. Every later
    // reader of the wave's fetch — budget merge, images commit, the
    // candidate explode and the metrics — reads this one cache.
    val fetched = persist(admitted
      .repartition(cfg.fetchPartitions, saltedKey)
      .mapPartitions(_.map(Crawler.fetch(_, webCfg))))
    // PIPELINE with the previous wave: admission + fetch depend only on
    // THIS wave's frontier and budget, not on the previous wave's seen
    // append / bloom merge, which may still be committing. Warm the
    // cache now; only the anti-join below awaits `in.seenReady`. This
    // overlaps the longest stage of wave k+1 with the commit tail of
    // wave k — at high core counts that tail is the non-scaling cost.
    val admittedCount = fetched.count()

    // target ~128k rows per committed file (64-file cap)
    def nFiles(rows: Long): Int = math.max(1, math.min(64, (rows / 131072L + 1L).toInt))

    // --- A2: merge admitted counts into the budget table (full rewrite;
    // the table is <= #hosts rows). Runs concurrently with the images
    // commit and the novelty chain, all off the fetched cache.
    val budgetChain = track(Future {
      val newBudget = budget.unionByName(fetched.select($"host", lit(1L).as("visits")))
        .groupBy($"host").agg(sum($"visits").as("visits"))
      // repartition(1), NOT coalesce(1): coalesce propagates up and would
      // run the whole aggregation single-task at any core count; a big
      // (10^7-host) budget instead spreads over host-hashed files
      val out =
        if (smallBudget) newBudget.repartition(1)
        else newBudget.repartition(cfg.seenBuckets, $"host")
      budgetT.commit(wave + 1, out)
    })
    // PNG/JPEG payloads are already entropy-coded — snappy on top only
    // burns CPU, so the images table is written uncompressed
    val imagesChain = track(Future {
      imagesT.commit(wave + 1, fetched.filter($"kind" === Finding.Image && $"ok")
        .select($"url".as("image_id"), $"bytes", $"w", $"h", $"fmt", $"caption",
          $"phash", $"basename"),
        writeOptions = Map("compression" -> "uncompressed"))
    })
    val seenSnaps = Await.result(in.seenReady, Duration.Inf)

    // --- U1: children across all pages; M4 per-page dedup already done
    // in processPage's Set. gate_depth = depth of the first parent in
    // canonical response order (only matters when depths differ, which
    // the reference's no-increment quirk makes impossible in practice).
    val children = fetched
      .select($"depth".as("pdepth"), $"host".as("phost"), $"url".as("purl"),
        explode($"children").as("c"))
      .select($"c.kind".as("kind"), $"c.url".as("url"), $"c.depth".as("depth"),
        $"pdepth", $"phost", $"purl")
    // ONE exchange: the raw children hash-partition on the dedup key to
    // seenBuckets partitions and aggregate on that partitioning, so
    // partition p holds exactly bucket p (bucketCol). Every downstream
    // stage — bloom probe, anti-join against the bucketed seen scan,
    // and the bucketed seen WRITE — reuses it: each write task holds
    // exactly one bucket (no small-file explosion).
    val cands = persist(children
      .repartition(cfg.seenBuckets, $"kind", $"url", $"depth")
      .groupBy($"kind", $"url", $"depth")
      .agg(
        min_by($"pdepth", struct($"phost", $"purl")).as("gate_depth"),
        count(lit(1)).as("refs"))
      .withColumn("url_hash", xxhash64($"kind", $"url", $"depth"))
      .withColumn("bucket", bloomState.bucketCol($"kind", $"url", $"depth"))) // both bloom branches read it

    // --- J1 (+A4): novelty = candidates minus seen. The partitioned
    // Bloom pre-filter routes definitely-new rows around the anti-join
    // (codegen might_contain, one bucket probe per row); only
    // maybe-seen rows probe the exact bucketed seen table, which is
    // scanned storage-partitioned — never shuffled. Seen wave k may be
    // only staged (its manifest lands after the previous wave's tail).
    val seen = seenT.read(seenSnaps).select($"kind", $"url", $"depth")
    val novel0 =
      if (cfg.bloom && !bloomState.isEmpty) {
        val probe = bloomState.probeCol(spark, $"bucket", $"url_hash")
        val definitelyNew = cands.filter(!probe)
        val checked = cands.filter(probe)
          .join(seen, Seq("kind", "url", "depth"), "left_anti")
        definitelyNew.unionByName(checked)
      } else if (seenSnaps.isEmpty) cands // nothing is seen before the first commit
      else cands.join(seen, Seq("kind", "url", "depth"), "left_anti")
    // before the first seen commit novel IS the candidates' cache
    val novel = if (novel0 eq cands) cands else persist(novel0)
    // novel's metrics counters are summed by the job that materializes
    // its cache: one job, where a later metrics read of novel would be a
    // second one
    val novelByBucket = novel
      .groupBy(hostBucket(hostCol($"url")).as("host_bucket"))
      .agg(count(lit(1)).as("novel"), sum($"refs" - 1).as("dup_dropped"))
      .as[(Int, Long, Long)]
      .collect()
    val novelCount = novelByBucket.map(_._2).sum

    // novel is cached: the bloom merge and the frontier commit are
    // independent reads of it — run them concurrently. The seen append
    // starts after both: only the next wave's anti-join, after its
    // fetch, needs it, while the next wave's admission waits for the
    // frontier commit (started alongside, it lengthened every wave)
    val seenRows = seenSnaps.map(_.totalRows).sum + novelCount
    val rebuild = cfg.bloom && novelCount > 0 && bloomState.wouldSaturate(novelCount)
    val fMerge =
      if (!cfg.bloom || novelCount == 0 || rebuild) Future.unit
      else track(Future(bloomState.add(novel, $"bucket", $"url_hash", novelCount)))
    // --- D2 depth gate -> frontier_{k+1}, on this thread meanwhile
    val frontierSnap = frontierT.commit(wave + 1, novel
      .filter($"gate_depth" < depthLimit)
      .select($"kind", $"url", $"depth", hostCol($"url").as("host"))
      .coalesce(nFiles(novelCount)))
    // --- commit seen += novel (ALL novel rows are archived, even those
    // the depth gate keeps out of the queue — src/main.rs:130-134).
    // The write inherits the candidates' bucket-aligned partitioning.
    val fSeen = track(fMerge.map { _ =>
      seenT.commit(wave + 1, novel.select($"kind", $"url", $"depth", $"url_hash"))
    })
    val fBloom =
      if (!rebuild) fMerge
      else track(fSeen.map { seenSnap =>
        // capacity crossing: grow and REBUILD from the full seen set
        // (one distributed aggregation, same shape as the per-wave
        // merge) — runs after this wave's seen append is staged so the
        // rebuilt filters cover it. Without this, fixed-size filters
        // saturate at the 10^10 design point and the pre-filter
        // silently degrades to all-pass.
        bloomState.growTo(seenRows)
        bloomState.add(seenT.read(seenSnaps :+ seenSnap),
          bloomState.bucketCol($"kind", $"url", $"depth"), $"url_hash", seenRows)
      })
    // the seen append + bloom merge escape this wave: the NEXT wave's
    // anti-join awaits them (its seenReady) right before it needs them
    val seenReady = for { seenSnap <- fSeen; _ <- fBloom } yield seenSnaps :+ seenSnap
    val imagesSnap = Await.result(imagesChain, Duration.Inf)
    val budgetSnap = Await.result(budgetChain, Duration.Inf)
    inputs = Some(WaveInputs(wave + 1, frontierSnap, budgetSnap, in.robots ++ robotsSnap, seenReady))

    // --- per-wave, per-host-bucket metrics (lineage beyond the
    // manifests' per-file row counts): ONE job — a union of one wide
    // row per source row (frontier, fetched, novel's per-bucket sums,
    // robots-dropped), one column per counter, summed per host bucket
    // with map-side combine. Committed ASYNCHRONOUSLY (chained, so
    // manifests land in wave order): metrics are outputs, never inputs
    // of a wave, so the next wave's compute overlaps this commit;
    // run()/awaitQuiesce joins the tail.
    def counters(df: DataFrame, bucket: Column, values: (String, Column)*): DataFrame = {
      val set = values.toMap
      df.select(bucket.as("host_bucket")
        +: Crawler.Counters.map(c => set.getOrElse(c, lit(0L)).cast("long").as(c)): _*)
    }
    val isPage = $"kind" === Finding.Page
    val raw = counters(frontier, hostBucket($"host"), "candidates" -> lit(1L))
      .union(counters(fetched.toDF(), hostBucket($"host"), "admitted" -> lit(1L),
        "fetch_ok" -> (isPage && $"ok"), "fetch_err" -> (isPage && !$"ok"),
        "images_written" -> ($"kind" === Finding.Image && $"ok")))
      .union(counters(novelByBucket.toSeq.toDF("host_bucket", "novel", "dup_dropped"),
        $"host_bucket", "novel" -> $"novel", "dup_dropped" -> $"dup_dropped"))
      .union(counters(robotsDropped, hostBucket($"host"), "robots_dropped" -> lit(1L)))
    val metrics = raw.groupBy($"host_bucket")
      .agg(sum(Crawler.Counters.head).as(Crawler.Counters.head),
        Crawler.Counters.tail.map(c => sum(c).as(c)): _*)
      // robots-blocked rows never reached the budget window - without
      // the subtraction they were misreported as budget drops
      .withColumn("budget_dropped", $"candidates" - $"admitted" - $"robots_dropped")
      .withColumn("wave", lit(wave))
    val waveWallMs = (System.nanoTime() - waveT0) / 1000000L
    val prevTail = pendingTail
    // the manifest (the resume contract: wave complete <=> ALL its
    // tables staged) and the cache releases must wait for the escaped
    // seen+bloom commits of this wave too
    pendingTail = track(for { _ <- prevTail; seenSnap <- fSeen; _ <- fBloom } yield {
      // cands releases FIRST in the tail — fSeen and fBloom are its only
      // escaped readers (seen append + bloom merge) and are done, and
      // sequencing the release BEFORE the metrics job launches keeps the
      // unpersist from racing an in-flight read (the r5 "Block rdd_N
      // does not exist" fix). Holding it past the metrics commit instead
      // kept wave k's candidate cache alive into wave k+1's fetch and
      // heap-OOM'd the 10k-host scale probe at wave 4 (metrics reads
      // fetched and novel's collected sums, never cands or novel).
      release(cands)
      val metricsSnap = metricsT.commit(wave + 1, metrics.repartition(1))
      runLog.commit(wave + 1,
        Seq(frontierSnap, budgetSnap, imagesSnap, seenSnap, metricsSnap) ++ robotsSnap, Map(
        "frontier" -> frontierSnap.totalRows,
        "admitted" -> admittedCount,
        "novel" -> seenSnap.totalRows,
        "images" -> imagesSnap.totalRows,
        "wall_ms" -> waveWallMs,
        // bloom fill observability: capacity vs items quantifies how
        // far the pre-filter is from its next adaptive rebuild
        "bloom_capacity" -> (if (cfg.bloom) bloomState.capacity else 0L),
        "bloom_items" -> (if (cfg.bloom) bloomState.itemsAdded else 0L)))
      release(fetched, novel)
    })
    frontierSnap.totalRows
  }

  // async tail of metrics commits + manifests, chained to stay ordered
  @transient private var pendingTail: Future[Unit] = Future.unit

  // the inputs the last runWave staged for the next one
  @transient private var inputs: Option[WaveInputs] = None
  // every commit Future not yet seen complete: run() joins them all
  // before it rethrows a failure, so none still writes to the lake
  @transient private var inFlight: List[Future[Any]] = Nil

  // the Datasets waves persisted and their tails have not released:
  // a failed run() releases them, leaving no cache behind
  @transient private var cached: List[Dataset[_]] = Nil

  private def track[T](f: Future[T]): Future[T] = {
    inFlight = f :: inFlight.filterNot(_.isCompleted)
    f
  }

  private def persist[T](ds: Dataset[T]): Dataset[T] = synchronized {
    cached = ds :: cached
    ds.persist(StorageLevel.MEMORY_AND_DISK)
  }

  private def release(dss: Dataset[_]*): Unit = synchronized {
    dss.foreach(_.unpersist(false))
    cached = cached.filterNot(c => dss.exists(_ eq c))
  }

  private def inputsOf(wave: Int): WaveInputs = inputs.filter(_.wave == wave).getOrElse {
    val in = WaveInputs(wave, frontierT.snapshot(wave).get, budgetT.snapshot(wave).get,
      if (cfg.robots) robotsT.snapshots(wave) else Nil, Future.successful(seenT.snapshots(wave)))
    inputs = Some(in)
    in
  }

  /** Join the async metrics/manifest tail (call before reading final
    * state or abandoning the Crawler). */
  def awaitQuiesce(): Unit = Await.result(pendingTail, Duration.Inf)

  /** Engine extension D4: consult/populate the robots cache table and
    * drop disallowed URLs BEFORE budget admission. The robots fetch for
    * new hosts runs INSIDE executors (mapPartitions over the
    * host-distinct Dataset) — at web scale (10^7+ hosts) a driver-side
    * collect+loop would serialize the wave. */
  private def applyRobots(wave: Int, frontier: DataFrame,
                          known: Seq[SnapshotMeta]): (DataFrame, DataFrame, Seq[SnapshotMeta]) = {
    val fetched = frontier.select($"host").distinct()
      .join(robotsT.read(known).select($"host"), Seq("host"), "left_anti")
      .as[String]
      .mapPartitions(_.map(h => (h, SynthWeb.robots(h))))
      .toDF("host", "disallow")
    val snap = robotsT.commit(wave + 1, fetched.repartition(1))
    val allRules = robotsT.read(known :+ snap)
    // same adaptive dim-join rule as the budget: per-host rules stop
    // broadcasting once the host space outgrows the threshold
    val rulesJoin =
      if ((known :+ snap).map(_.totalRows).sum <= cfg.budgetBroadcastMaxRows)
        broadcast(allRules)
      else allRules
    val pathCol = regexp_replace($"url", "^[a-z][a-z0-9+.-]*://[^/]*", "")
    val joined = frontier.join(rulesJoin, Seq("host"), "left")
      .withColumn("path", pathCol)
      .withColumn("blocked",
        coalesce(exists($"disallow", p => startswith($"path", p)), lit(false)))
    val allowed = joined.filter(!$"blocked").select($"kind", $"url", $"depth", $"host")
    val dropped = joined.filter($"blocked").select($"kind", $"url", $"depth", $"host")
    (allowed, dropped, Seq(snap))
  }

  // ------------------------------------------------------------- driver

  /** Full run (or resume). The loop is thin: per wave one transform,
    * counts come from parquet footers (no collect of data). */
  def run(): CrawlSummary = try {
    val bloomState = new PartitionedBloom(cfg.seenBuckets, cfg.bloomExpectedItems, cfg.bloomFpp)
    var wave = runLog.lastCompleteWave.getOrElse { initRun(); 0 }
    val in = inputsOf(wave)
    // a resumed run rebuilds the bloom from the complete waves. Skip it
    // when the frontier is empty - a finished crawl's re-run must be a
    // no-op, not a full-seen-table aggregation
    val seenSnaps = Await.result(in.seenReady, Duration.Inf)
    val seenRows = seenSnaps.map(_.totalRows).sum
    if (cfg.bloom && in.frontier.totalRows > 0 && seenRows > 0) {
      if (bloomState.wouldSaturate(seenRows)) bloomState.growTo(seenRows)
      bloomState.add(seenT.read(seenSnaps),
        bloomState.bucketCol($"kind", $"url", $"depth"), $"url_hash", seenRows)
    }
    var frontierSize = in.frontier.totalRows
    while (frontierSize > 0 && wave < cfg.maxWaves) {
      // fail fast: after a failed tail no later manifest can land
      pendingTail.value.foreach(_.get)
      frontierSize = runWave(wave, bloomState)
      wave += 1
    }
    awaitQuiesce()
    CrawlSummary(wave, seenT.rowCountThrough(wave), imagesT.rowCountThrough(wave))
  } catch {
    case NonFatal(e) =>
      inFlight.foreach(Await.ready(_, Duration.Inf))
      release(cached: _*)
      throw e
  }
}

final case class CrawlSummary(waves: Int, seenRows: Long, imageRows: Long)

/** The skew-safe admission pre-limit, separated for direct testing:
  * AdmissionSpec proves (a) the bound — at most saltSlots * remaining
  * rows per host survive into the global window — and (b) exactness —
  * the admitted set is bit-identical with and without it. */
object Admission {
  import org.apache.spark.sql.functions._

  /** `base` must carry (kind, url, depth, host, visits). Keeps each
    * host's `visitLimit + 1 - visits` smallest rows per salt slot in
    * canonical (kind, url, depth) order. */
  def preLimit(base: DataFrame, visitLimit: Int, saltSlots: Int): DataFrame = {
    val pw = Window.partitionBy(col("host"), col("psalt"))
      .orderBy(col("kind"), col("url"), col("depth"))
    base
      .withColumn("psalt", pmod(xxhash64(col("url")), lit(math.max(1, saltSlots))))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= lit(visitLimit + 1).cast("long") - col("visits"))
      .drop("psalt", "prn")
  }
}
