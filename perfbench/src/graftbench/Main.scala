package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Canon, HtmlTok, Imaging, PageKernel, SynthWeb}
import graft.crawl.{CrawlConfig, Crawler, PartitionedBloom}
import graft.lake.{BucketedLakeTable, LakeTable, RunLog}

/** The repository benchmark. One JVM, `local[4]`, one closed loop per
  * workload: the next pass starts only when the previous one returned.
  *
  *   java ... graftbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --root <checkout> --run-dir <work dir>
  *
  * Prints human-readable lines, then one `RESULT {json}` line with the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  * `--freeze <what>` instead writes the frozen digests the checks use.
  */
object Main {
  val Cores = 4
  val SetupReps = 3
  val DefaultSeed = 42L

  final case class Metric(name: String, unit: String, better: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("throughput_per_s", "1/s", "higher"),
    Metric("pass_s", "s", "lower"),
    Metric("step_geomean_s", "s", "lower"),
    Metric("setup_s", "s", "lower"),
    Metric("live_heap_mb", "MB", "lower"))

  val CoreKernels = Seq("fetch_page", "fetch_image", "html_extract", "process_page", "canon",
    "image_decode", "ahash")

  def perLayer(queries: Seq[String]): Seq[Metric] = {
    def m(n: String, u: String, b: String = "lower") = Metric(n, u, b)
    CoreKernels.map(k => m(s"core.${k}_us", "us")) ++
      Seq(m("core.page_items", "count", "higher"), m("core.image_items", "count", "higher"),
        m("core.href_items", "count", "higher")) ++
      Seq(m("spark.jobs", "count"), m("spark.stages", "count"), m("spark.tasks", "count"),
        m("spark.task_cpu_s", "s"), m("spark.task_run_s", "s"),
        m("spark.shuffle_write_bytes", "bytes"), m("spark.shuffle_read_bytes", "bytes"),
        m("spark.shuffle_records", "count"), m("spark.spill_bytes", "bytes"),
        m("spark.output_bytes", "bytes"), m("spark.gc_s", "s"), m("spark.task_skew", "ratio"),
        m("spark.exchanges", "count"), m("spark.reused_exchanges", "count", "higher"),
        m("spark.busy_frac", "ratio", "higher"), m("spark.sched_wait_s", "s")) ++
      Seq(m("crawl.jobs", "count"), m("crawl.job_s", "s"), m("crawl.waves", "count"),
        m("crawl.admitted", "count", "higher"), m("crawl.novel", "count", "higher"),
        m("crawl.images", "count", "higher"), m("crawl.resume_s", "s"),
        m("refsim.urls_per_s", "1/s", "higher")) ++
      Seq(m("lake.jobs", "count"), m("lake.job_s", "s"), m("lake.files", "count"),
        m("lake.seen_files", "count"), m("lake.bytes", "bytes"), m("lake.open_s", "s"),
        m("lake.read_seen_s", "s")) ++
      Seq(m("bloom.jobs", "count"), m("bloom.job_s", "s"), m("bloom.build_s", "s"),
        m("bloom.fp_rate", "ratio"), m("bloom.capacity", "count"), m("bloom.items", "count")) ++
      queries.map(q => m(s"ops.${q}_s", "s")) ++ Seq(m("ops.cold_pass_s", "s")) ++
      Seq(m("trace.overhead_frac", "ratio"))
  }

  // ------------------------------------------------------------ context

  final class Run(val root: Path, val dir: Path, val seed: Long) {
    private var lakes = 0
    def newLake(): String = { lakes += 1; dir.resolve(s"lakes/l$lakes").toString }
    def digests: Path = root.resolve("perfbench/digests")
  }

  def session(run: Run, k: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (Cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", run.dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", run.dir.resolve("warehouse").toString)
      // a fresh index lake per session: no run or setup reuses another's
      // IVF / postings builds
      .config("spark.graft.indexRoot", run.dir.resolve(s"index-$k").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toVector
    all.reverse.foreach(Files.deleteIfExists)
  }

  /** Peak heap occupancy right after a full collection, sampled at the
    * end of setup and of every pass (outside the timed sections). A
    * sample is the lowest of three collections 200 ms apart: Spark's
    * context cleaner releases broadcasts and shuffles only after a
    * collection found their handles unreachable. */
  object Heap {
    private var peak = 0L
    private def afterGc(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    def sample(): Unit = {
      val used = (0 until 3).map { i => if (i > 0) Thread.sleep(200); afterGc() }
      peak = math.max(peak, used.min)
    }
    def peakMb: Double = peak / 1048576.0
  }

  /** Sees waves become complete from outside the program: polls the
    * crawl's run log, recording when each `wave-k` mark appears. */
  final class WavePoller {
    @volatile private var log: RunLog = _
    @volatile private var before = Set.empty[Int]
    private val marks = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    @volatile private var running = true
    private val thread = new Thread(() => {
      while (running) {
        val l = log
        if (l != null) poll(l)
        Thread.sleep(2)
      }
    }, "wave-poller")
    thread.setDaemon(true)
    thread.start()

    private def poll(l: RunLog): Unit = {
      val now = System.nanoTime()
      l.completeWaves.foreach(w => marks.putIfAbsent(w, now))
    }

    /** Marks already present (an earlier leg's waves) are not timed. */
    def watch(lakeRoot: String): Unit = {
      marks.clear()
      val l = new RunLog(lakeRoot)
      before = l.completeWaves.toSet
      log = l
    }

    /** Stops watching; returns the completion time of every wave that
      * completed while watched, by wave. */
    def stop(): Seq[(Int, Long)] = {
      val l = log
      log = null
      if (l != null) poll(l)
      marks.asScala.toSeq.map { case (w, t) => (w.intValue, t.longValue) }
        .filterNot { case (w, _) => before(w) }.sortBy(_._1)
    }

    def close(): Unit = { running = false; thread.join() }
  }

  /** Intervals between successive waves completing within one leg. */
  def intervals(marks: Seq[(Int, Long)]): Seq[Double] =
    marks.sliding(2).collect { case Seq((w0, t0), (w1, t1)) if w1 == w0 + 1 => (t1 - t0) / 1e9 }.toSeq

  // ----------------------------------------------------------- workloads

  /** One closed-loop pass: `work` units done in `workS` seconds, the
    * pass's whole wall time, and its step durations keyed by step. */
  final case class Pass(passS: Double, work: Double, workS: Double, steps: Seq[(String, Double)],
                        layer: Map[String, Double], attempted: Int, failed: Int,
                        problems: Seq[String])

  trait Workload {
    def name: String
    /** The web the kernel microbench draws its items from. */
    def web(seed: Long): SynthWeb.WebConfig
    def setup(spark: SparkSession, run: Run, tracer: Tracer): Unit
    /** Whether one untimed pass runs before the timed loop. */
    def warmPass: Boolean = false
    def pass(spark: SparkSession, run: Run, tracer: Tracer, idx: Int): Pass
    /** Output checks after measuring: problems found (empty = correct)
      * and per-layer values the check computed. */
    def check(spark: SparkSession, run: Run, tracer: Tracer): (Seq[String], Map[String, Double])
    /** Lake and bloom probes on the last output (traced runs only). */
    def probes(spark: SparkSession, run: Run, tracer: Tracer): Map[String, Double] = Map.empty
  }

  val poller = new WavePoller

  /** Throughput case: every host seeded, 14 links and 2 images a page,
    * 5% of links to a hot host, every host capped at 257 admissions.
    * Each pass crawls a fresh lake in two legs, the way a checkpointed
    * crawl runs: leg A stops after wave 2, a fresh Crawler resumes it
    * (which only rebuilds the bloom filter: the resume probe), and leg B
    * is another fresh Crawler that runs to completion. */
  object CrawlWide extends Workload {
    val name = "crawl_wide"
    val Hosts = 16
    val LegAWaves = 2

    def web(seed: Long): SynthWeb.WebConfig = SynthWeb.WebConfig(
      nHosts = Hosts, pagesPerHost = 400, imagesPerHost = 200, linksPerPage = 14,
      imagesPerPage = 2, hotFrac = 0.05, imgMinDim = 64, imgMaxDim = 128, seed = seed)

    def config(seed: Long, lake: String): CrawlConfig =
      CrawlConfig(web = web(seed), seeds = SynthWeb.seeds(Hosts), lakeRoot = lake,
        fetchPartitions = Cores * 2, saltSlots = 8, seenBuckets = Cores * 2)

    private var lastLake: Option[String] = None
    private val admittedSeen = mutable.LinkedHashSet.empty[Long]

    /** A one-wave crawl of 4 hosts, so JIT and codegen are warm before
      * anything is timed. */
    def setup(spark: SparkSession, run: Run, tracer: Tracer): Unit = {
      val lake = run.newLake()
      val c = config(run.seed, lake)
      val warm = c.copy(web = c.web.copy(nHosts = 4), seeds = SynthWeb.seeds(4), maxWaves = 1)
      new Crawler(spark, warm).run()
      deleteTree(Paths.get(lake))
    }

    private def leg(spark: SparkSession, cfg: CrawlConfig, tracer: Tracer, name: String)
        : (Double, Seq[Double]) = {
      poller.watch(cfg.lakeRoot)
      val t0 = System.nanoTime()
      tracer.span(name, "crawl")(new Crawler(spark, cfg).run())
      val dt = secs(t0)
      (dt, intervals(poller.stop()))
    }

    def pass(spark: SparkSession, run: Run, tracer: Tracer, idx: Int): Pass = {
      lastLake.foreach(l => deleteTree(Paths.get(l)))
      val lake = run.newLake()
      lastLake = Some(lake)
      val full = config(run.seed, lake)
      val t0 = System.nanoTime()
      val (ta, sa) = leg(spark, full.copy(maxWaves = LegAWaves), tracer, "crawl leg A")
      val r0 = System.nanoTime()
      tracer.span("resume probe", "crawl")(new Crawler(spark, full.copy(maxWaves = LegAWaves)).run())
      val resumeS = secs(r0)
      val (tb, sb) = leg(spark, full, tracer, "crawl leg B")
      val passS = secs(t0)
      val log = new RunLog(lake)
      val admitted = log.completeWaves.filter(_ > 0).map(w => log.stats(w).getOrElse("admitted", 0L)).sum
      admittedSeen += admitted
      val problems =
        if (admittedSeen.size > 1) Seq(s"admitted differs between passes: ${admittedSeen.mkString(", ")}")
        else Nil
      Pass(passS, admitted.toDouble, ta + tb, (sa ++ sb).zipWithIndex.map { case (s, i) => (s"p$idx.$i", s) },
        Map("crawl.resume_s" -> resumeS), 1, if (problems.isEmpty) 0 else 1, problems)
    }

    /** Checks the last pass's lake against the frozen RefSim digest of
      * this seed; a seed with no frozen digest runs RefSim here. Traced
      * runs always run RefSim, for its single-threaded URLs/s. */
    def check(spark: SparkSession, run: Run, tracer: Tracer): (Seq[String], Map[String, Double]) = {
      val cfg = config(run.seed, lastLake.get)
      val frozen = Checks.readJson(run.digests.resolve(s"$name/seed-${run.seed}.json"))
      val problems = Seq.newBuilder[String]
      var refRate = 0.0
      val expected =
        if (frozen.nonEmpty && !tracer.on) frozen
        else {
          val t0 = System.nanoTime()
          val sim = tracer.span("refsim", "check")(Checks.runRef(cfg))
          refRate = sim.admissions.size / secs(t0)
          val ref = Checks.refDigest(sim).toMap
          if (frozen.nonEmpty && frozen != ref) problems += s"RefSim $ref != frozen $frozen"
          ref
        }
      val (got, found) = tracer.span("output check", "check")(Checks.checkCrawl(spark, cfg, expected))
      problems ++= found
      (problems.result(), Map(
        "crawl.waves" -> got.waves.toDouble, "crawl.admitted" -> got.admitted.toDouble,
        "crawl.novel" -> got.seenN.toDouble, "crawl.images" -> got.imagesN.toDouble,
        "refsim.urls_per_s" -> refRate))
    }

    override def probes(spark: SparkSession, run: Run, tracer: Tracer): Map[String, Double] = {
      import spark.implicits._
      val cfg = config(run.seed, lastLake.get)
      val root = Paths.get(cfg.lakeRoot)
      val last = new RunLog(cfg.lakeRoot).lastCompleteWave.get
      val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toVector
      val parquet = files.filter(_.toString.endsWith(".parquet"))
      def timed(name: String, layer: String)(f: => Unit): Double = {
        val t0 = System.nanoTime(); tracer.span(name, layer)(f); secs(t0)
      }
      def seenTable() = new BucketedLakeTable(spark, cfg.lakeRoot, "seen",
        "kind STRING, url STRING, depth INT, url_hash BIGINT", Seq("kind", "url", "depth"), cfg.seenBuckets)
      val openS = timed("lake open", "lake") {
        Seq("frontier", "host_budget", "images", "metrics").foreach { t =>
          val tab = new LakeTable(spark, cfg.lakeRoot, t)
          tab.committedWaves.foreach(tab.snapshot)
          tab.rowCountThrough(last)
        }
        val s = seenTable()
        s.committedWaves.foreach(s.snapshot)
        s.rowCountThrough(last)
      }
      val seenT = seenTable()
      val readS = timed("lake read seen", "lake")(seenT.readThrough(last).count())
      val bloom = new PartitionedBloom(cfg.seenBuckets, cfg.bloomExpectedItems, cfg.bloomFpp)
      val rows = seenT.rowCountThrough(last)
      val buildS = timed("bloom build", "bloom") {
        if (bloom.wouldSaturate(rows)) bloom.growTo(rows)
        bloom.add(seenT.readThrough(last), bloom.bucketCol($"kind", $"url", $"depth"), $"url_hash", rows)
      }
      // keys on hosts past nHosts cannot have been seen
      val nKeys = 20000
      val unseen = (0 until nKeys).map(i =>
        ("page", SynthWeb.pageUrl(cfg.web.nHosts + i % 500, i / 500), 0)).toDF("kind", "url", "depth")
        .withColumn("url_hash", xxhash64($"kind", $"url", $"depth"))
        .withColumn("bucket", bloom.bucketCol($"kind", $"url", $"depth"))
      var positives = 0L
      tracer.span("bloom fp probe", "bloom") {
        positives = unseen.filter(bloom.probeCol(spark, $"bucket", $"url_hash")).count()
      }
      Map("lake.files" -> parquet.size.toDouble,
        "lake.seen_files" -> parquet.count(_.startsWith(root.resolve("seen"))).toDouble,
        "lake.bytes" -> files.map(Files.size).sum.toDouble,
        "lake.open_s" -> openS, "lake.read_seen_s" -> readS, "bloom.build_s" -> buildS,
        "bloom.fp_rate" -> positives.toDouble / nKeys,
        "bloom.capacity" -> bloom.capacity.toDouble, "bloom.items" -> bloom.itemsAdded.toDouble)
    }
  }


  /** The operator layer: a fixed set of declared queries over the
    * bundled sf0.01 tables, one action per query that computes every
    * output column, checked against the frozen digests. The seed has no
    * effect on this workload. One pass over all 68 declared queries
    * takes 40-70 s on a 4-core box, more than a run can afford, so the
    * sweep keeps one or two queries per operator family the crawl never
    * touches: the LSH, shingle, banding and hamming near-dup joins, IVF
    * and PQ search, TF-IDF, text statistics, sketches and
    * sessionization. Index-backed queries are left out: every set-up
    * would rebuild their indexes. */
  object CurateSweep extends Workload {
    val name = "curate_sweep"
    val Queries: Seq[String] = Seq(
      "q_semdedup", "q_decontaminate_ngram", "q_ngram_jaccard", "q_minhash_neardup",
      "q_simhash_neardup", "q_lsh_ann", "q_ivf_ann", "q_pq_ann", "q_tfidf_terms", "q_lm_oov",
      "q_approx_distinct", "q_sessionize").sorted
    def web(seed: Long): SynthWeb.WebConfig = CrawlWide.web(seed)
    private var frozen: Map[String, String] = Map.empty
    def sfDir(run: Run): String = run.root.resolve("perfbench/data/sf0.01").toString

    /** The first pass in a JVM runs at about half speed (code generation
      * and JIT for every query plan), so it is a warm-up: checked, and
      * reported as `ops.cold_pass_s`, but not timed as a pass. */
    override def warmPass: Boolean = true

    /** Warms the parquet scan, aggregation and adaptive planning paths
      * with a query outside the sweep. */
    def setup(spark: SparkSession, run: Run, tracer: Tracer): Unit =
      Checks.frameDigest(SparkEntry.queries("q1_agg")(spark, sfDir(run)))

    def pass(spark: SparkSession, run: Run, tracer: Tracer, idx: Int): Pass = {
      if (frozen.isEmpty) frozen = Checks.readJson(run.digests.resolve("sweep.json"))
      val t0 = System.nanoTime()
      val problems = Seq.newBuilder[String]
      var failed = 0
      val steps = Queries.map { q =>
        spark.catalog.clearCache()
        val want = frozen(q)
        val q0 = System.nanoTime()
        val got = try {
          val d = tracer.span(q, "ops")(Checks.frameDigest(SparkEntry.queries(q)(spark, sfDir(run))))
          Checks.digestString(d, rowsOnly = want.startsWith("rows=") && !want.contains(" "))
        } catch { case t: Throwable => s"threw ${t.getClass.getSimpleName}: ${t.getMessage}" }
        val dt = secs(q0)
        if (got != want) { failed += 1; problems += s"$q: got $got, frozen $want" }
        (q, dt)
      }
      val total = steps.map(_._2).sum
      Pass(secs(t0), steps.size.toDouble, total, steps,
        steps.map { case (q, t) => s"ops.${q}_s" -> t }.toMap, steps.size, failed, problems.result())
    }

    def check(spark: SparkSession, run: Run, tracer: Tracer): (Seq[String], Map[String, Double]) =
      (Nil, Map.empty)
  }

  val Workloads: Map[String, Workload] =
    Seq(CrawlWide, CurateSweep).map(w => w.name -> w).toMap

  // ------------------------------------------------------------- kernels

  /** Single-threaded µs per item for each core kernel over items from
    * the workload's web, after warm-up: median of timed repetitions. */
  def microbench(web: SynthWeb.WebConfig, tracer: Tracer): Map[String, Double] = {
    val it = Checks.items(web, 400)
    val decoded = it.imageBytes.map(Imaging.decode)
    var sink = 0L
    def us(name: String, n: Int)(body: => Unit): (String, Double) = {
      (0 until 2).foreach(_ => body)
      val reps = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        tracer.span(s"kernel $name", "core")(body)
        (System.nanoTime() - t0) / 1e3 / n
      }
      s"core.${name}_us" -> SparkObs.median(reps)
    }
    val out = Map(
      us("fetch_page", it.pageUrls.size)(it.pageUrls.foreach(u => sink += SynthWeb.fetchFollowing(u, web).hashCode)),
      us("fetch_image", it.imageUrls.size)(it.imageUrls.foreach(u => sink += SynthWeb.fetchFollowing(u, web).hashCode)),
      us("html_extract", it.htmls.size)(it.htmls.foreach(h => sink += HtmlTok.extract(h).pageLinks.size)),
      us("process_page", it.htmls.size)(it.pageUrls.zip(it.htmls).foreach { case (u, h) =>
        sink += PageKernel.processPage(u, h, 0).size }),
      us("canon", it.hrefs.size)(it.hrefs.foreach(h => sink += Canon.canonicalize(h).size)),
      us("image_decode", it.imageBytes.size)(it.imageBytes.foreach(b => sink += Imaging.decode(b).getWidth)),
      us("ahash", decoded.size)(decoded.foreach(d => sink += Imaging.aHash(d))))
    if (sink == 42) println("") // keeps the work observable
    out ++ Map("core.page_items" -> it.pageUrls.size.toDouble,
      "core.image_items" -> it.imageUrls.size.toDouble, "core.href_items" -> it.hrefs.size.toDouble)
  }

  /** Kernel outputs on a fixed item set must match the frozen digest. */
  def kernelItems: Checks.Items = Checks.items(SynthWeb.WebConfig(
    nHosts = 8, pagesPerHost = 400, imagesPerHost = 200, linksPerPage = 14, imagesPerPage = 2,
    hotFrac = 0.05, imgMinDim = 64, imgMaxDim = 128, seed = DefaultSeed), 120)

  // ---------------------------------------------------------- statistics

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  // ---------------------------------------------------------------- main

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: Path, runDir: Path, freeze: Option[String], seeds: Seq[Long])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("workload", ""), m.get("seed").map(_.toLong).getOrElse(DefaultSeed),
      m.get("seconds").map(_.toDouble).getOrElse(10.0), m.get("trace").contains("1"),
      Paths.get(m("root")).toAbsolutePath, Paths.get(m("run-dir")).toAbsolutePath, m.get("freeze"),
      m.get("seeds").toSeq.flatMap(_.split(",")).map(_.toLong))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.freeze match {
      case Some(what) => Freeze.run(what, a)
      case None       => measure(a)
    }
    poller.close()
  }

  def measure(a: Args): Unit = {
    val w = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload '${a.workload}'; one of ${Workloads.keys.mkString(", ")}"))
    val run = new Run(a.root, a.runDir, a.seed)
    val tracer = new Tracer(a.trace)
    val runId = s"${w.name}-seed${a.seed}-${System.currentTimeMillis()}"

    // set-up, repeated: a fresh session, index lake and warm-up each time
    var spark: SparkSession = null
    val setupTimes = (0 until SetupReps).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      tracer.span(s"setup $k", "setup") {
        spark = session(run, k)
        w.setup(spark, run, tracer)
      }
      secs(t0)
    }
    Heap.sample()
    val warm = if (w.warmPass) Some(tracer.span("warm-up pass", "bench")(w.pass(spark, run, tracer, -1))) else None

    def loop(seconds: Double, tr: Tracer): Seq[Pass] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[Pass]
      while (out.isEmpty || secs(t0) + out.last.passS * 0.5 < seconds) {
        out += tr.span(s"pass ${out.size}", "bench")(w.pass(spark, run, tr, out.size))
        Heap.sample()
      }
      out.toSeq
    }

    val obs = new SparkObs(spark)
    if (a.trace) obs.register()
    val m0 = System.nanoTime()
    val passes = loop(a.seconds, tracer)
    val measureWall = secs(m0)
    // Spark counters cover the timed loop only; later check and probe
    // jobs still become spans
    val sparkCounters = if (a.trace) { obs.drain(); obs.counters(measureWall, Cores) } else Map.empty

    val (checkProblems, checkLayer) = w.check(spark, run, tracer)
    val kernelProblems = {
      val got = Checks.kernelDigest(kernelItems)
      val want = Checks.readJson(run.digests.resolve("kernels.json"))
      if (got == want) Nil else Seq(s"kernel outputs differ from frozen digests: $got vs $want")
    }
    val allPasses = warm.toSeq ++ passes
    val problems = allPasses.flatMap(_.problems) ++ checkProblems ++ kernelProblems
    val attempted = allPasses.map(_.attempted).sum + 2
    val failed = allPasses.map(_.failed).sum + (if (checkProblems.isEmpty) 0 else 1) +
      (if (kernelProblems.isEmpty) 0 else 1)

    // steps: median per step key over passes (the sweep's queries), or
    // every interval pooled (a crawl's wave keys are unique per pass)
    val steps = passes.flatMap(_.steps).groupBy(_._1).values.map(v => SparkObs.median(v.map(_._2))).toSeq
    val e2e = Map(
      "throughput_per_s" -> SparkObs.median(passes.map(p => p.work / p.workS)),
      "pass_s" -> SparkObs.median(passes.map(_.passS)),
      "step_geomean_s" -> geomean(steps),
      "setup_s" -> SparkObs.median(setupTimes),
      "live_heap_mb" -> Heap.peakMb)

    println(f"workload ${w.name} seed ${a.seed}: ${passes.size} passes, ${steps.size} steps, " +
      s"setups ${setupTimes.map(t => f"$t%.2f").mkString(" ")} s, passes ${passes.map(p => f"${p.passS}%.2f").mkString(" ")} s")
    problems.foreach(p => println(s"CHECK FAILED: $p"))

    val metrics: Seq[(Metric, Double)] =
      if (!a.trace) EndToEnd.map(m => m -> e2e(m.name))
      else {
        val layer = mutable.Map.empty[String, Double]
        layer ++= sparkCounters
        passes.flatMap(_.layer.keys).distinct.foreach { k =>
          layer(k) = SparkObs.median(passes.flatMap(_.layer.get(k)))
        }
        layer ++= checkLayer
        warm.foreach(p => layer("ops.cold_pass_s") = p.passS)
        layer ++= w.probes(spark, run, tracer)
        layer ++= microbench(w.web(a.seed), tracer)
        val overhead = untracedPassS(a).map(u => e2e("pass_s") / u - 1)
        layer("trace.overhead_frac") = overhead.getOrElse(0.0)
        val spans = tracer.spans
        obs.drain()
        val all = spans ++ obs.sparkSpans(spans, spans.size)
        writeTrace(a, runId, all, overhead, e2e)
        val names = perLayer(CurateSweep.Queries)
        names.map(m => m -> layer.getOrElse(m.name, 0.0))
      }
    if (!a.trace && problems.isEmpty) recordUntraced(a, e2e("pass_s"))
    metrics.foreach { case (m, v) => println(f"  ${m.name}%-32s $v%14.6f ${m.unit}") }
    spark.stop()
    val nonFinite = metrics.collect { case (m, v) if !v.isFinite => s"${m.name} is $v" }
    nonFinite.foreach(p => println(s"CHECK FAILED: $p"))

    def num(v: Double): String =
      if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
    val json = metrics.map { case (m, v) =>
      s""""${m.name}": {"value": ${num(if (v.isFinite) v else 0.0)}, "unit": "${m.unit}"}"""
    }.mkString("{", ", ", "}")
    val correct = problems.isEmpty && nonFinite.isEmpty
    println(s"""RESULT {"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
  }

  /** Untraced runs record their pass time; a traced run of the same
    * workload compares its own against the latest one: the difference
    * is the cost of tracing. */
  private def untracedFile(a: Args): Path = a.root.resolve(s".bench_out/untraced-${a.workload}.json")

  def recordUntraced(a: Args, passS: Double): Unit =
    Checks.writeJson(untracedFile(a), Map("seed" -> a.seed.toString, "pass_s" -> passS.toString))

  def untracedPassS(a: Args): Option[Double] =
    Checks.readJson(untracedFile(a)).get("pass_s").map(_.toDouble)

  /** Span dump of a traced run, self time per layer and tracing cost. */
  def writeTrace(a: Args, runId: String, spans: Seq[Span], overhead: Option[Double],
                 e2e: Map[String, Double]): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val m = Checks.mapper
    val node = m.createObjectNode()
    node.put("run_id", runId).put("workload", a.workload).put("seed", a.seed)
    node.put("traced_pass_s", e2e("pass_s"))
    untracedPassS(a).foreach(u => node.put("untraced_pass_s", u))
    overhead.foreach(o => node.put("overhead_frac", o))
    val self = node.putObject("self_time_s")
    SparkObs.selfTimeByLayer(spans).toSeq.sortBy(_._1).foreach { case (l, s) => self.put(l, s) }
    val arr = node.putArray("spans")
    spans.foreach { s =>
      arr.addObject().put("id", s.id).put("name", s.name).put("layer", s.layer)
        .put("start_us", (s.start - t0) / 1000).put("end_us", (s.end - t0) / 1000)
        .put("parent", s.parent).put("run_id", runId)
    }
    val out = a.root.resolve(s".bench_out/trace-${a.workload}-seed${a.seed}.json")
    Files.createDirectories(out.getParent)
    Files.writeString(out, m.writeValueAsString(node))
    println(s"trace: ${spans.size} spans -> $out")
  }
}

/** Writes the frozen digests the checks compare against. */
object Freeze {
  import Main._

  def run(what: String, a: Args): Unit = what match {
    case "metrics" =>
      // the per-layer list BENCHMARK.json declares
      println(perLayer(CurateSweep.Queries).map(m =>
        s"""{"name": "${m.name}", "unit": "${m.unit}", "better": "${m.better}"}""").mkString("METRICS [", ", ", "]"))
    case "kernels" =>
      Checks.writeJson(a.root.resolve("perfbench/digests/kernels.json"), Checks.kernelDigest(kernelItems))
    case "crawl" =>
      // RefSim, the single-threaded literal simulator, for this seed
      for (seed <- a.seeds; w <- Seq(CrawlWide)) {
        val cfg = w.config(seed, "unused")
        val t0 = System.nanoTime()
        val d = Checks.refDigest(Checks.runRef(cfg))
        Checks.writeJson(a.root.resolve(s"perfbench/digests/${w.name}/seed-$seed.json"), d.toMap)
        println(f"${w.name} seed $seed: ${d.admitted} admitted in ${d.waves} waves, RefSim ${secs(t0)}%.2f s")
      }
    case "sweep" =>
      // digests of the query outputs Verify wrote (which the DuckDB
      // oracles are compared against), and of the live frames
      val run = new Run(a.root, a.runDir, a.seed)
      // kept after the run: freeze.py compares it with the DuckDB oracles
      val out = a.root.resolve(".bench_build/verify").toString
      val sf = CurateSweep.sfDir(run)
      session(run, 0) // Verify's getOrCreate picks up this configuration
      graft.Verify.main(Array(sf, out))
      val s2 = session(run, 1)
      val oracle = SparkEntry.oracleSql.keySet
      val digests = SparkEntry.queries.keys.toSeq.sorted.filter(_ != "q_crawl_smoke").map { q =>
        val rowsOnly = !oracle(q)
        val written = Checks.digestString(Checks.frameDigest(s2.read.parquet(s"$out/$q")), rowsOnly)
        val live = Checks.digestString(Checks.frameDigest(SparkEntry.queries(q)(s2, sf)), rowsOnly)
        require(written == live, s"$q: written $written != live $live")
        q -> live
      }.toMap
      Checks.writeJson(a.root.resolve("perfbench/digests/sweep.json"), digests)
      println(s"sweep digests: ${digests.size} queries; verify output in $out")
      s2.stop()
  }
}
