package graft.ops

import graft.{Plans, SparkTestBase}
import graft.Plans.{captured, nodes, scans, withConf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-quality gates (the 100 TB checklist): filters reach the
  * parquet scan, projections prune columns, small dims broadcast, and
  * the hot paths stay inside whole-stage codegen. These assert on
  * `explain(formatted)` text so a regression in plan shape fails CI,
  * not just a benchmark. */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  /** Plans.groupLimitedExchanges over `df`'s plan: the number of
    * group-limited exchanges checked. */
  private def groupLimitedExchanges(df: DataFrame): Int =
    Plans.groupLimitedExchanges(df.queryExecution.executedPlan).size

  test("substring filter is pushed into the parquet scan") {
    val p = plan(Relational.substringFilter(spark, dir))
    assert(p.contains("PushedFilters"), p)
    // contains() compiles to a pushable StringContains filter
    assert(p.contains("StringContains") || p.contains("*Contains*") || p.contains("ur"), p)
  }

  test("q1 scan prunes to the referenced columns only, partial agg before shuffle") {
    val p = plan(Relational.q1Agg(spark, dir))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>"),
      "scan not pruned to 2 columns:\n" + p)
    assert(p.contains("partial_sum"), "no map-side combine:\n" + p)
  }

  test("dimension join broadcasts the small side") {
    val p = plan(Relational.broadcastJoin(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("anti-join compiles to a hash anti join, filter pushed to orders scan") {
    val p = plan(Relational.antiJoin(spark, dir))
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("GreaterThan(o_totalprice"), p)
  }

  test("admission window partitions by user and stays codegen'd around the window") {
    val p = plan(Relational.budgetAdmission(spark, dir))
    assert(p.contains("Window"), p)
    // partial aggregation before the final count (map-side combine)
    assert(p.contains("HashAggregate"), p)
  }

  test("ngram jaccard and minhash near-dup stay equi-join shaped (no all-pairs fallback)") {
    for ((name, df) <- Seq(
        "ngram" -> Dedup.ngramJaccard(spark, dir),
        "minhash" -> Dedup.minhashNearDup(spark, dir),
        "simhash" -> Dedup.simhashNearDup(spark, dir),
        "phash" -> Multimodal.phashNearDup(Multimodal.syntheticImages(spark, 64)),
        "lshTopK" -> Similarity.lshTopK(spark, dir))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name fell back to an all-pairs join:\n" + p)
    }
  }

  test("banding collapse: emit-once plans never aggregate pairs, capped plans exactly once") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // aggregates grouping on both pair ids, in the optimized plan (a
    // `distinct` is an Aggregate there, before it splits into partial
    // and final physical stages)
    def pairAggs(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case a: Aggregate if Set("a_id", "b_id").subsetOf(
          a.groupingExpressions.flatMap(_.references.map(_.name)).toSet) => a
      }.size
    for ((name, df) <- Seq(
        "cosineNearDup" -> Similarity.cosineNearDup(spark, dir),
        "lshTopK" -> Similarity.lshTopK(spark, dir)))
      assert(pairAggs(df) == 0, s"$name: uncapped banding must collapse by first agreement:\n" +
        df.queryExecution.optimizedPlan)
    for ((name, df) <- Seq(
        "minhash" -> Dedup.minhashNearDup(spark, dir),
        "simhash" -> Dedup.simhashNearDup(spark, dir),
        "phash" -> Multimodal.phashNearDup(Multimodal.syntheticImages(spark, 64))))
      assert(pairAggs(df) == 1, s"$name: capped banding must collapse with one distinct:\n" +
        df.queryExecution.optimizedPlan)
  }

  test("similarity scoring uses the codegen float_dot, not interpreted higher-order folds") {
    val p = plan(Similarity.ivfTopK(spark, dir))
    assert(p.contains("float_dot"), "FloatDot expression missing from the plan:\n" + p)
    // the interpreted higher-order shapes it replaced must not come back
    assert(!p.contains("aggregate(zip_with") && !p.contains("lambdafunction"),
      "interpreted higher-order fold back in the scoring path:\n" + p)
    // codegen probe (AQE hides codegen markers pre-execution in the big
    // plan): a float_dot filter must land inside a codegen'd stage
    import org.apache.spark.sql.functions._
    val micro = spark.range(100)
      .select(org.apache.spark.sql.functions.array(
        col("id").cast("float"), lit(2f)).as("a"))
    val mp = plan(micro.filter(graft.functions.FloatDot(col("a"), col("a")) > 1.0))
    assert("\\* Filter".r.findFirstIn(mp).isDefined && mp.contains("[codegen id"),
      "float_dot filter not codegen'd:\n" + mp)
  }

  test("as-of join is one key shuffle + window, never an inequality join") {
    val p = plan(Relational.asofJoin(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of fell back to an inequality join:\n" + p)
    // union + window: exactly one exchange on the key
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n" + p)
    assert(p.contains("Window"), p)
  }

  test("range join rides the user equi-key; the interval is a join-side filter") {
    val p = plan(Relational.rangeJoin(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "range join fell back to an all-pairs join:\n" + p)
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("rollup computes all grouping sets with map-side partial aggregation") {
    val p = plan(Relational.rollupAgg(spark, dir))
    assert(p.contains("Expand"), p) // grouping-set expansion, one pass
    assert(p.contains("partial_"), "no map-side combine:\n" + p)
  }

  test("token count runs scan->project with no shuffle at all") {
    val p = plan(TextOps.tokenCount(spark, dir))
    assert(!p.contains("Exchange"), "unexpected shuffle:\n" + p)
  }

  test("exact dedup is a single hash-shuffle with partial aggregation") {
    val p = plan(Dedup.exactDedup(spark, dir))
    // formatted explain prints each node once in the tree and once in the
    // detail list — count the numbered detail headers
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n" + p)
    assert(p.contains("partial_"), "no map-side combine:\n" + p)
  }

  test("line dedup: line-keyed anti join, no self-join, bounded shuffles") {
    val p = plan(TextOps.lineDedup(spark, dir))
    // shuffles: the per-line df aggregation, the anti-join's probe side
    // (the hot set reuses the agg partitioning), the doc_id reassembly,
    // and the totals side of the doc_id join. A boilerplate line in f
    // docs costs f anti-join rows, never f² — there must be no
    // line×line self-join and nothing cartesian.
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 4, s"expected <=4 shuffles, got $exchanges:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), "hot-line removal is not an anti join:\n" + p)
    assert(p.contains("partial_count"), "no map-side combine on the df agg:\n" + p)
  }

  test("dup spans: semi join + one doc window, no self-join, bounded shuffles") {
    val p = plan(graft.ops.Dedup.dupSpans(spark, dir))
    // a shingle in f docs is f semi-join rows, never f² — the coverage
    // is a running-gap window, not an explode per covered token
    val ex = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(ex <= 5, s"expected <=5 shuffles, got $ex:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), "dup-window filter is not a semi join:\n" + p)
  }

  test("PII redaction runs scan->project with no shuffle at all") {
    val p = plan(TextOps.piiRedact(spark, dir))
    assert(!p.contains("Exchange"), "unexpected shuffle:\n" + p)
    assert(p.contains("codegen id"), "regex pass fell out of codegen:\n" + p)
  }

  test("IVF inverted-list probe prunes partitions at the scan") {
    val pruned = Similarity.ivfPrunedScan(spark, dir, nCentroids = 16, clusters = Seq(0, 1))
    val p = plan(pruned)
    assert(p.contains("PartitionFilters") && p.contains("cluster"), p)
    // the filter must actually drop files, not just annotate the scan:
    // the executed scan's numFiles metric counts only selected
    // partitions (inputFiles would ignore the filter)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val filesRead = scan.metrics("numFiles").value
    val allFiles = pruned.sparkSession.read
      .parquet(scan.relation.location.rootPaths.head.toString).inputFiles.length
    assert(filesRead < allFiles, s"pruned=$filesRead all=$allFiles")
    // salted write layout: total file count bounded by clusters ×
    // slots, independent of the build scan's parallelism
    assert(allFiles <= 16 * Similarity.IvfSaltSlots, s"files=$allFiles")
  }

  test("sessionize rides ONE user_id shuffle end to end") {
    // the window partitions by user_id; the final (user_id, sess_id)
    // groupBy is satisfied by that same HashPartitioning(user_id) —
    // hash keys are a subset of the grouping keys — so no second
    // exchange appears. The 100 TB shape: one shuffle of the events.
    val p = plan(graft.streaming.EventStream.sessionizeBatch(spark, dir))
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n" + p)
    assert(p.contains("Window"), p)
  }

  test("HLL registers: one shuffle with map-side partial max") {
    val p = plan(Sketches.approxDistinct(spark, dir))
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n" + p)
    assert(p.contains("partial_max"), "no map-side combine:\n" + p)
  }

  test("histogram percentile: full-data pass is one count shuffle; windows run sketch-sized") {
    val p = plan(Sketches.histogramPercentile(spark, dir))
    // shuffle 1: the (event_type, bucket) count over the full table
    // (map-side partial_count); shuffle 2 repartitions only the
    // <= types x 1000-row histogram for the cumulative window
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 shuffles (1 full-data + 1 sketch-sized), got $exchanges:\n" + p)
    assert(p.contains("partial_count"), "no map-side combine on the full-data pass:\n" + p)
  }

  test("pinned-values pivot: one full-data shuffle + one sketch-sized pivot shuffle") {
    val p = plan(Relational.pivotCounts(spark, dir))
    // phase 1 aggregates the full table by (dow, event_type) with
    // map-side partials; phase 2 (PivotFirst) shuffles only the
    // reduced dow x type table — an unpinned pivot would ALSO run a
    // full-table distinct job just to discover the columns
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 shuffles (1 full-data + 1 sketch-sized), got $exchanges:\n" + p)
    assert(p.contains("partial_"), "no map-side combine on the full-data pass:\n" + p)
  }

  test("intersect compiles to a semi-join family plan, no all-pairs fallback") {
    val p = plan(Relational.intersectKeys(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Semi") || p.contains("Join"), p)
  }

  test("sequence packing: range-partitioned two-phase scan, NO per-source window task") {
    // a Window.partitionBy(source) cumsum would put a whole stratum in
    // one task; the shipped shape is one RANGE exchange (a giant
    // source spans partitions) + broadcast prefix offsets. Since r5 the
    // range exchange lives INSIDE the persisted RDD that pins one
    // partitioning across both phases (the r4 coalesce/TaskContext
    // fix), so the output SQL plan is a bare scan of that RDD — the
    // shuffle count is asserted on the RDD lineage instead.
    val df = TextOps.sequencePacking(spark, dir)
    val p = plan(df)
    assert(!p.contains("Window"), "per-source window crept back in:\n" + p)
    assert(!p.contains("Exchange"),
      "output side must reuse the pinned RDD partitioning, not re-shuffle:\n" + p)
    // exactly one shuffle in the whole job, and it is range-partitioned
    def deps(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.Dependency[_]] =
      r.dependencies ++ r.dependencies.flatMap(d => deps(d.rdd))
    val shuffles = deps(df.queryExecution.toRdd)
      .collect { case s: org.apache.spark.ShuffleDependency[_, _, _] => s }
    assert(shuffles.size == 1, s"expected exactly 1 (range) shuffle in the lineage, got ${shuffles.size}")
    // ...and it is a RANGE partitioning (SQL exchanges surface only a
    // PartitionIdPassthrough at the RDD level, so assert the range
    // PROPERTY): per-partition (source, doc_id) spans must be disjoint
    // and ordered — hash partitioning interleaves them
    val spans = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val rows = it.map(r => (r.getUTF8String(1).toString, r.getLong(0))).toSeq
      if (rows.isEmpty) Iterator.empty
      else Iterator((pid, rows.head, rows.last))
    }.collect().sortBy(_._1).map { case (_, lo, hi) => (lo, hi) }
    assert(spans.nonEmpty)
    spans.foreach { case (lo, hi) => assert(implicitly[Ordering[(String, Long)]].lteq(lo, hi)) }
    spans.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) =>
        assert(implicitly[Ordering[(String, Long)]].lt(hiA, loB),
          s"partition spans overlap ($hiA >= $loB): not range-partitioned")
      case _ =>
    }
  }

  test("hash sample never shuffles; stratified = one group-limited window shuffle") {
    val p1 = plan(Sampling.hashSample(spark, dir))
    assert(!p1.contains("Exchange"), "bernoulli-by-hash must not shuffle:\n" + p1)
    val pm = plan(Sampling.mixSources(spark, dir))
    assert(!pm.contains("Exchange"), "weighted mix must not shuffle:\n" + pm)
    // the skew-proof shape: one source shuffle, fed by a map-side
    // group limit - an unlimited window would sort a whole stratum in
    // one task
    val s = Sampling.stratifiedSample(spark, dir)
    val p2 = plan(s)
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p2).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n" + p2)
    assert(groupLimitedExchanges(s) == 1)
    // the bottom-k sketch rides the same one-window shape
    val b = graft.ops.Sketches.bottomkQuantile(spark, dir)
    val p3 = plan(b)
    val ex3 = "\\(\\d+\\) Exchange".r.findAllIn(p3).size
    assert(ex3 == 1, s"expected 1 shuffle, got $ex3:\n" + p3)
    assert(groupLimitedExchanges(b) == 1)
  }

  test("count-min: full-data + item-sized shuffles only; point query broadcasts the sketch") {
    val p = plan(graft.ops.Sketches.countMin(spark, dir))
    // shuffle 1 collapses the raw events to per-item counts (map-side
    // partial_count); shuffle 2 runs over the depth-exploded DISTINCT
    // items only, landing on the fixed depth x width grid — the explode
    // must never run over the raw event stream
    val ex = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(ex == 2, s"expected 2 shuffles (per-item + grid), got $ex:\n" + p)
    assert(p.contains("partial_count"), "no map-side combine on the item counts:\n" + p)
    val items = spark.read.parquet(s"$dir/events.parquet").select("user_id").distinct()
    val pq = plan(graft.ops.Sketches.cmEstimates(spark, dir, items))
    assert(pq.contains("BroadcastHashJoin"),
      "sketch (<= depth x width rows) must broadcast to the probes:\n" + pq)
  }

  test("curation pipeline composes without any quadratic operator") {
    val p = plan(graft.ops.Curation.curate(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "composition introduced an all-pairs operator:\n" + p)
    // stages: fp groupBy+join-back (dedup) + the repetition aggregation
    // pair + one doc_id join — composing must not multiply shuffles
    // beyond the standalone operators' own
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 6, s"composition shuffle count crept up ($exchanges):\n" + p)
  }

  test("exact-dedup stages in curate/image dedup partial-aggregate, never window a group") {
    // r6 (verdict #2): min/count over Window.partitionBy(fp) buffers an
    // entire duplicate group in ONE task — a pre-dedup mega-duplicate
    // cluster becomes a single-task sort. The shipped shape must be a
    // groupBy with map-side partial aggregation + join back.
    val pc = plan(graft.ops.Curation.curate(spark, dir))
    assert(!pc.contains("Window"), "per-fp window back in curate:\n" + pc)
    assert(pc.contains("partial_min"), "fp dedup lost its map-side partial:\n" + pc)
    val spark0 = spark
    import spark0.implicits._
    // planted mega-dup: one hash with 10k members among singletons
    val mega = ((0 until 10000).map(i => (f"m$i%05d", "hashA")) ++
      Seq(("x1", "hashB"), ("x2", "hashC"))).toDF("image_id", "content_hash")
    val pi = plan(Multimodal.imageDedupOf(mega))
    assert(!pi.contains("Window"), "per-hash window back in image dedup:\n" + pi)
    assert(pi.contains("partial_min") && pi.contains("partial_count"),
      "image dedup lost its map-side partials:\n" + pi)
    val rows = Multimodal.imageDedupOf(mega).collect()
    assert(rows.length == 10002)
    val megaRows = rows.filter(_.getString(1) == "hashA")
    assert(megaRows.forall(_.getLong(2) == 10000L))
    assert(megaRows.count(_.getBoolean(3)) == 1 &&
      megaRows.filter(_.getBoolean(3)).head.getString(0) == "m00000",
      "keeper must be the lexicographic-min id of the mega group")
  }

  test("PQ encoding is a zero-shuffle corpus map; ADC scan is broadcast-only + one window") {
    val pc = plan(Quantization.pqCodes(spark, dir))
    assert(!pc.contains("Exchange"), "PQ encoding must not shuffle the corpus:\n" + pc)
    val pa = plan(Quantization.pqAnn(spark, dir))
    // the probe list and the four LUTs broadcast; the code-table scan
    // is the ONLY corpus-wide pass and the per-probe top-k window the
    // only exchange (AQE may stage the tiny broadcast builds but the
    // big side must never hash-shuffle into a join)
    assert(!pa.contains("CartesianProduct"), "ADC scan fell back to a cartesian:\n" + pa)
    val bcast = "BroadcastNestedLoopJoin".r.findAllIn(pa).size
    assert(bcast >= 1, "probe scan must be a broadcast nested loop:\n" + pa)
    val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(pa).size
    assert(shuffles <= 1, s"expected <=1 shuffle (top-k window), got $shuffles:\n" + pa)
  }

  test("textrank graph build: one tokenize pass (no self-union), bounded shuffles") {
    val p = plan(Ranking.cooccurrenceEdges(
      spark.read.parquet(s"$dir/documents.parquet")))
    assert(!p.contains("Union"),
      "edge mirroring must be one explode, not a self-union re-running the tokenize:\n" + p)
    val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    // (src,dst) count + src outw regroup (+ the outw join may reuse);
    // anything more means the corpus is being re-scanned per stage
    assert(shuffles <= 3, s"expected <=3 shuffles, got $shuffles:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_"),
      "edge weighting lost its map-side combine:\n" + p)
  }

  test("cosine near-dup plan has no cartesian product") {
    val p = plan(Similarity.cosineNearDup(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "near-dup must route candidates via the band equi-join:\n" + p)
  }

  test("seen anti-join is storage-partitioned: NO exchange on the seen side") {
    import graft.core.SynthWeb
    import graft.crawl.{CrawlConfig, Crawler}
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val cfg = CrawlConfig(
      web = SynthWeb.WebConfig(nHosts = 3, pagesPerHost = 10, imagesPerHost = 4),
      seeds = SynthWeb.seeds(2), lakeRoot = tmpDir("planlake"),
      fetchPartitions = 8, saltSlots = 2)
    val crawler = new Crawler(spark, cfg)
    val qes = captured(spark)(crawler.run())
    // a small host space: Catalyst broadcasts the budget by its scan's
    // recorded size, with no hint in any wave's plan
    val budgetJoins = qes.flatMap(qe => nodes(qe.executedPlan))
      .collect { case j: BaseJoinExec if scans(j.right, "host_budget") => j }
    assert(budgetJoins.nonEmpty && budgetJoins.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      s"budget joins: ${budgetJoins.map(_.nodeName).distinct}")
    val hints = qes.flatMap(_.analyzed.collect { case h: ResolvedHint => h.hints })
    assert(hints.isEmpty, "a crawl query carries a join hint")
    // the admission skew bound: past a broadcast budget join, every
    // admission window's host exchange reads a map-side group limit at
    // hostVisitLimit + 1, so a hot host ships at most (map tasks x 257)
    // rows into its window
    val admissions = qes.map(_.executedPlan).filter(Plans.rankWindows(_).nonEmpty)
    assert(admissions.nonEmpty, "no admission window ran")
    admissions.foreach { p =>
      val limited = Plans.groupLimitedExchanges(p)
      assert(limited.size == Plans.rankWindows(p).size, "an admission window has no exchange:\n" + p)
      limited.foreach { case (_, g) =>
        assert(g.partitionSpec.map(_.sql) == Seq("host") && g.limit == cfg.hostVisitLimit + 1,
          s"admission group limit on ${g.partitionSpec.map(_.sql)} at ${g.limit}")
      }
    }
    val k = crawler.seenT.latestWave.get
    // the at-scale join shape: candidates exchanged to the bucket count,
    // the cumulative seen scan NEVER shuffled (and never broadcast)
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
      val cands = Seq(("page", "http://h0.test/p0", 0), ("page", "http://h9.test/p9", 0))
        .toDF("kind", "url", "depth")
        .repartition(crawler.seenT.buckets, $"kind", $"url", $"depth")
      val j = cands.join(crawler.seenT.readThrough(k).select($"kind", $"url", $"depth"),
        Seq("kind", "url", "depth"), "left_anti")
      val p = plan(j)
      assert(p.contains("Bucketed: true"), "seen scan not bucketed:\n" + p)
      val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
      assert(exchanges <= 1, s"seen side must not shuffle (expected <=1 exchange, candidates only):\n$p")
      assert(j.count() == 1)
    }
  }

  test("warm wave shape: one salted fetch stage, one candidate exchange, bounded jobs") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.GraftTestBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter}
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
    import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec, exchange}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledJoin}
    import graft.core.SynthWeb
    import graft.crawl.{CrawlConfig, Crawler, PartitionedBloom}

    val cfg = CrawlConfig(
      web = SynthWeb.WebConfig(nHosts = 3, pagesPerHost = 10, imagesPerHost = 4),
      seeds = SynthWeb.seeds(2), lakeRoot = tmpDir("waveshape"),
      fetchPartitions = 8, saltSlots = 2, seenBuckets = 8)
    val crawler = new Crawler(spark, cfg)
    val bloom = new PartitionedBloom(cfg.seenBuckets, cfg.bloomExpectedItems, cfg.bloomFpp)
    crawler.initRun()
    crawler.runWave(0, bloom)
    crawler.runWave(1, bloom)
    assert(crawler.frontierT.snapshot(2).get.totalRows > 0 && !bloom.isEmpty,
      "wave 2 must be a warm wave: a frontier to crawl and a bloom to probe")

    val jobs = new AtomicInteger
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    // the at-scale join shape: seen and budget past the broadcast threshold
    val qes = withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
      GraftTestBus.drain(sc)
      sc.addSparkListener(jl)
      try captured(spark)(crawler.runWave(2, bloom))
      finally sc.removeSparkListener(jl)
    }

    // cached plans are shared by every query reading them, so nodes are
    // de-duplicated by identity: one node = one operator the wave ran
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val ran = qes.map(_.executedPlan).flatMap(nodes).filter(seen.add)
    val exchanges = ran.collect { case e: ShuffleExchangeExec => e }
    def keyNames(e: ShuffleExchangeExec): Option[(Seq[String], Int)] = e.outputPartitioning match {
      case h: HashPartitioning => Some((h.expressions.map(_.sql), h.numPartitions))
      case _ => None
    }

    // pages and images: ONE fetch operator over ONE salted exchange,
    // whose url-hash term spreads a hot host over saltSlots slots
    val fetches = ran.collect { case m: MapPartitionsExec => m }
    assert(fetches.size == 1, s"expected one fetch stage, got ${fetches.size}")
    val salted = exchanges.filter(e => keyNames(e).exists { case (ks, n) =>
      n == cfg.fetchPartitions && ks.exists(_.contains(s"pmod(xxhash64(url), ${cfg.saltSlots}L)")) })
    assert(salted.size == 1, s"expected one salted fetch exchange, got ${salted.size}")
    val firstBelowFetch = nodes(fetches.head).collectFirst { case e: ShuffleExchangeExec => e }
    assert(firstBelowFetch.exists(_ eq salted.head), "the fetch does not read the salted exchange")

    // candidates: ONE exchange on the dedup key, to the bucket count
    val onKey = exchanges.filter(e => keyNames(e).exists(_._1 == Seq("kind", "url", "depth")))
    assert(onKey.size == 1 && keyNames(onKey.head).get._2 == cfg.seenBuckets,
      s"expected one (kind, url, depth) exchange to ${cfg.seenBuckets}, got ${onKey.map(keyNames)}")
    // the anti-join's seen side: a bucketed scan, no exchange
    val anti = ran.collect { case j: BaseJoinExec if j.joinType == LeftAnti => j }
    assert(anti.size == 1, s"expected one seen anti-join, got ${anti.size}")
    val seenSide = nodes(anti.head.right)
    assert(!seenSide.exists(_.isInstanceOf[exchange.Exchange]), "seen side exchanged")
    assert(seenSide.exists {
      case s: FileSourceScanExec => s.bucketedScan
      case _ => false
    }, "seen scan is not bucketed")

    // the budget, past the threshold, joins shuffled on host, and the
    // admission window reads that join's partitioning: no exchange of
    // its own between the two (its group limits are unary nodes)
    val budgetJoins = ran.collect { case j: BaseJoinExec if scans(j.right, "host_budget") => j }
    assert(budgetJoins.size == 1, s"expected one budget join, got ${budgetJoins.map(_.nodeName)}")
    val budgetJoin = budgetJoins.head
    assert(budgetJoin.isInstanceOf[ShuffledJoin] && budgetJoin.joinType == LeftOuter,
      s"budget join is ${budgetJoin.nodeName} ${budgetJoin.joinType}, not a shuffled LeftOuter")
    val windows = ran.collect { case w: WindowExec => w }
    assert(windows.size == 1, s"expected one admission window, got ${windows.size}")
    def toJoin(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case u: UnaryExecNode if !(u eq budgetJoin) => toJoin(u.child)
      case _ => Nil
    })
    val feed = toJoin(windows.head.child)
    assert((feed.last eq budgetJoin) && !feed.exists(_.isInstanceOf[exchange.Exchange]),
      s"the admission window reads ${feed.map(_.nodeName).mkString(" <- ")}, not the budget join")
    // no write funnels through a single-partition exchange
    val single = exchanges.filter(_.outputPartitioning == SinglePartition)
    assert(single.isEmpty, s"${single.size} SinglePartition exchanges in the wave")

    // the wave's fixed cost in jobs (each adaptive query stage and each
    // cache build is one): fetch sums, novel sums, bloom merge, and the
    // budget, images and seen commits; the next frontier and the
    // metrics are derived, never written. Measured: 18.
    assert(jobs.get <= 18, s"${jobs.get} jobs in one warm wave (measured: 18)")
  }

  test("bloom probe expression stays inside whole-stage codegen") {
    import graft.crawl.PartitionedBloom
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val pb = new PartitionedBloom(4, 4096, 0.01)
    // spark.range, not a LocalRelation: ConvertToLocalRelation would
    // fold the probe away at plan time and hide its physical shape
    val df = spark.range(100).select($"id".as("h"))
      .withColumn("bucket", pmod(hash($"h"), lit(4)))
    pb.add(df, $"bucket", $"h", 100L)
    val probed = df.filter(pb.probeCol(spark, $"bucket", $"h"))
    val p = plan(probed)
    assert(p.contains("bloom_probe"), p)
    // formatted explain marks codegen'd nodes with '*' + a codegen id;
    // the Filter carrying the probe must be one of them
    assert("\\* Filter".r.findFirstIn(p).isDefined && p.contains("[codegen id"),
      "probe fell out of codegen:\n" + p)
    // every inserted hash must probe true (blooms have no false negatives)
    assert(probed.count() == 100)
  }

  test("keyword search prunes the postings scan to the query terms' buckets") {
    val pruned = Search.prunedPostingsScan(spark, dir, Search.QueryTerms)
    val p = plan(pruned)
    assert(p.contains("PartitionFilters") && p.contains("bucket"), p)
    // the bucket IN-filter must drop files, not just annotate the scan
    // (the IVF probe gate's pattern — numFiles counts selected
    // partitions only)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val filesRead = scan.metrics("numFiles").value
    val allFiles = pruned.sparkSession.read
      .parquet(scan.relation.location.rootPaths.head.toString).inputFiles.length
    assert(filesRead < allFiles, s"pruned=$filesRead all=$allFiles")
  }

  test("keyword search top-k is a distributed sort-limit, never a full-data window") {
    val p = plan(Search.keywordSearch(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      "global top-k must be per-partition heads + driver merge:\n" + p)
  }

  test("shard assign: NO per-shard window task; exactly 3 lineage shuffles") {
    // a Window.partitionBy(shard) would put a shard's whole membership
    // in ONE task (NShards tasks total) — positions must come from the
    // two-phase prefix scan. Like sequence packing, the output SQL
    // plan is a bare scan of the pinned RDD, so shuffles are counted
    // on the RDD lineage: packing range + window groupBy + shard range.
    val df = TextOps.shardAssign(spark, dir, 8)
    val p = plan(df)
    assert(!p.contains("Window"), "per-shard window straggler:\n" + p)
    assert(!p.contains("Exchange"),
      "output side must reuse the pinned RDD partitioning, not re-shuffle:\n" + p)
    def deps(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.Dependency[_]] =
      r.dependencies ++ r.dependencies.flatMap(d => deps(d.rdd))
    val shuffles = deps(df.queryExecution.toRdd)
      .collect { case s: org.apache.spark.ShuffleDependency[_, _, _] => s }
    assert(shuffles.size <= 3, s"expected <=3 lineage shuffles, got ${shuffles.size}")
  }

  test("cluster sample: kernel assignment + one group-limited window shuffle") {
    val s = Sampling.clusterSample(spark, dir)
    val p = plan(s)
    // assignment is a broadcast-centroid map over the embeddings scan;
    // the window's cluster shuffle is the only exchange
    val ex = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(ex <= 1, s"expected <=1 shuffle, got $ex:\n" + p)
    assert(groupLimitedExchanges(s) == 1)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("lm oov: f-linear bigram stages, no self-join, bounded shuffles") {
    val p = plan(TextOps.lmOov(spark, dir))
    // counts shuffle, model df shuffle, join-side reshuffle, per-doc
    // agg — every stage linear in corpus bigrams, never bigram-pairs
    val ex = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(ex <= 5, s"expected <=5 shuffles, got $ex:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "no map-side combine:\n" + p)
  }

  test("tfidf: a map-side group limit bounds the rank window; no cartesian") {
    val t = Search.tfidfTerms(spark, dir)
    val p = plan(t)
    // the window sees <= (map tasks x k) rows per source, never the
    // source's whole vocabulary
    assert(groupLimitedExchanges(t) == 1)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("spark-only top-k queries keep the map-side group limit under the rank window") {
    // no hand-rolled pre-limit in these: the bound is Catalyst's alone
    for (q <- Seq("q_topk_per_group", "q_lsh_ann", "q_ivf_ann", "q_ivf_partitioned"))
      assert(groupLimitedExchanges(graft.SparkEntry.queries(q)(spark, dir)) == 1, q)
  }

  test("image quality gate is a pure scan->map pipeline (zero shuffles)") {
    val p = plan(Multimodal.imageQualityOf(
      Multimodal.imageStats(Multimodal.curationImages(spark, 64))))
    // one corpus-generation exchange is the fixture's own repartition;
    // nothing downstream of the stats map may shuffle
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected <=1 exchange (fixture repartition only):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }
}
