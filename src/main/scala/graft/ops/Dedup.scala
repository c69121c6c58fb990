package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.XxHash64

/** Deduplication operators over the `documents` table — the pieces a
  * training-data pipeline needs at 100 TB:
  *
  *  - exact dedup: hash-groupBy (one shuffle on the fingerprint)
  *  - n-gram Jaccard: explode-shingles + equi-join formulation (NOT
  *    array-intersect cross join) so similarity is a shuffle on the
  *    shingle key — the only formulation that survives a 100× scale-up
  *  - MinHash + LSH: signature via one groupBy(min×K), banding via
  *    explode + bucket equi-join; candidates then verified exactly
  *  - SimHash: pure scalar function per doc (embarrassingly parallel,
  *    zero shuffle), near-dup candidates via 16-bit chunk banding
  */
object Dedup {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Exact dedup by normalized-text fingerprint. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .groupBy(md5(lower(trim($"text"))).as("text_fp"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("copies"))
  }

  /** Distinct word 3-gram shingles per doc: (doc_id, source, shingle).
    * element_at is 1-based like the DuckDB oracle's array indexing. */
  private[graft] def shinglesOf(corpus: DataFrame, n: Int = 3): DataFrame =
    shinglesRaw(corpus, n).distinct()

  /** The raw (non-distinct) shingle stream — shared by [[shinglesOf]]
    * and [[shinglesKeyedBy]]. */
  private def shinglesRaw(corpus: DataFrame, n: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .select($"doc_id", $"source", split(trim($"text"), "\\s+").as("w"))
      .filter(size($"w") >= n)
      .select($"doc_id", $"source", explode(
        transform(sequence(lit(1), size($"w") - (n - 1)), i =>
          concat_ws(" ", (0 until n).map(o => element_at(col("w"), i + o)): _*))
      ).as("shingle"))
  }

  /** Distinct shingles exchanged ONCE on `keys` (a subset of (doc_id,
    * source, shingle)) — the r6 shuffle-removal shape (guide §2.4):
    * HashPartitioning on a subset of an aggregation's grouping keys /
    * a join's equi-keys satisfies its clustering requirement, so the
    * dedup aggregation AND every downstream groupBy/join keyed on
    * `keys` ride this single exchange; within one action the several
    * consumers share it via ReusedExchange. The old shape paid a
    * distinct exchange on all three columns plus per-consumer
    * re-exchanges, and cached the distinct rows — re-scanning a
    * string-heavy InMemoryRelation is the r5-documented 2-4x
    * cache-scan trap. */
  private[graft] def shinglesKeyedBy(corpus: DataFrame, keys: Seq[String],
                                   n: Int = 3): DataFrame =
    shinglesRaw(corpus, n).repartition(keys.map(col): _*).distinct()

  /** Exact n-gram Jaccard pairs within a `source` block: intersection
    * via shingle equi-join + pair count; union by inclusion-exclusion.
    * Integer outputs so the DuckDB oracle compares exactly.
    *
    * `maxDf` guards the self-join against hot stop-shingles: a shingle
    * occurring in f docs contributes f² join pairs, so one "of the
    * and"-class shingle is quadratic at 100 TB. Shingles with
    * df > maxDf are dropped from the JOIN ONLY (doc shingle-set sizes
    * keep them), and the SAME cap is in the oracle SQL, so engine and
    * oracle agree bit-for-bit even when the cap binds. */
  val MaxShingleDf = 1000

  /** The df-capped shingle-equi-join pair core shared by
    * [[ngramJaccard]] (which decorates it with set sizes) and
    * [[dedupClusters]] (which needs only the pair ids): (a_id, b_id,
    * inter) for same-source doc pairs sharing >= minInter surviving
    * shingles. */
  private def interPairs(sh: DataFrame, minInter: Int, maxDf: Int): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val dfOk = sh.groupBy($"source", $"shingle")
      .agg(count(lit(1)).as("df")).filter($"df" <= maxDf)
      .select($"source", $"shingle")
    // merge hints (r6, guide §3.1): with `sh` keyed on (source,
    // shingle), the cap filter AND both self-join sides are already
    // co-partitioned, so sort-merge joins need NO exchange — while the
    // planner's own choice was to BROADCAST the million-row string
    // sides (a single-threaded driver collect + hash build, measured
    // 1.7s -> 1.0s for the pair core). Spills gracefully at scale,
    // unlike a corpus-sized broadcast.
    val shJ = sh.join(dfOk.hint("merge"), Seq("source", "shingle"))
    shJ.as("a").join(shJ.hint("merge").as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .filter($"inter" >= minInter)
  }

  def ngramJaccard(spark: SparkSession, dir: String, minInter: Int = 3,
                   maxDf: Int = MaxShingleDf): DataFrame = {
    import spark.implicits._
    // keyed on the join/cap key, NOT persisted: the df cap, both
    // self-join sides and the sizes agg all reuse the one exchange
    val sh = shinglesKeyedBy(docs(spark, dir), Seq("source", "shingle"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = interPairs(sh, minInter, maxDf)
    inter
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_sh", "a_sh"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_sh", "b_sh"), "b_id")
      .select($"a_id", $"b_id", $"inter",
        ($"a_sh" + $"b_sh" - $"inter").as("uni"))
  }

  /** Hot-bucket guard for the decontamination fp self-join, same
    * pattern as [[MaxShingleDf]]: a fingerprint duplicated f times
    * across the corpus is f² join pairs, and a pre-dedup mega-duplicate
    * cluster (which belongs to exact dedup, upstream) would otherwise
    * go quadratic here. The SAME cap is in the oracle SQL. */
  val MaxFpDf = 1000

  /** The corpus the driver's decontamination queries run over:
    * `documents` plus a derived 'zbench' benchmark source (every 7th
    * doc relabeled, ids offset out of the natural range). The natural
    * fixture corpus has NO cross-source exact duplicates, so without
    * the planted benchmark the exact report is vacuously empty (0 = 0
    * passed every round while proving nothing — r4 verdict); the
    * derived source makes every sourceᵢ×zbench cell non-empty and the
    * oracle SQL builds the identical corpus. */
  private[ops] def benchCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir).select($"doc_id", $"source", $"text")
    d.unionByName(d.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 10000000L).as("doc_id"), lit("zbench").as("source"), $"text"))
  }

  /** Cross-source CONTAMINATION report — the decontamination step of a
    * training pipeline (does corpus A contain benchmark B's documents?):
    * per ordered source pair, how many exact-duplicate document pairs
    * and how many distinct shared fingerprints cross the boundary. The
    * output is bounded by sources² regardless of input size, and the
    * fingerprint equi-join is the exact-dedup shuffle shape;
    * fingerprints duplicated more than `maxDf` times are dropped from
    * the join ([[Banding.capHot]] — mirrored in the oracle), so a
    * pre-dedup mega-duplicate is bounded instead of quadratic. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateCorpus(benchCorpus(spark, dir))

  def decontaminateCorpus(corpus: DataFrame, maxDf: Int = MaxFpDf): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // NOT the interPairs keyed+merge rework (tried in r6, reverted):
    // measured 0.40 -> 0.48-0.54 s — at bench scale the fp/cap sides
    // are tiny and AQE's broadcasts beat the extra repartition + SMJ
    // sorts, and unlike the shingle joins there is no scale cliff here
    // (a corpus-sized fp side exceeds the broadcast threshold, so the
    // planner falls back to exchanges on its own).
    val fp = Banding.capHot(
      corpus.select($"doc_id", $"source", md5(lower(trim($"text"))).as("fp")),
      Seq("fp"), maxDf)
    fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("a.fp")).as("n_shared_fps"))
  }

  /** N-GRAM-overlap decontamination — the realistic contamination case
    * exact fingerprints miss: a benchmark doc paraphrased into the
    * corpus still shares most of its word 3-grams. Per cross-source doc
    * pair, the count of shared distinct shingles, kept at >= minShared.
    * Same scale shape as [[ngramJaccard]]: the shingle equi-join
    * carries the one shuffle and [[MaxShingleDf]] caps hot
    * stop-shingles (mirrored in the oracle). Runs on the NATURAL corpus
    * — cross-source phrase reuse in the fixtures makes it non-vacuous
    * without planting. */
  def decontaminateNgram(spark: SparkSession, dir: String,
                         minShared: Int = 3,
                         maxDf: Int = MaxShingleDf): DataFrame =
    decontaminateNgramCorpus(
      docs(spark, dir).select("doc_id", "source", "text"), minShared, maxDf)

  def decontaminateNgramCorpus(corpus: DataFrame, minShared: Int = 3,
                               maxDf: Int = MaxShingleDf): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // cross-source df cap: keyed on shingle alone (the join key) —
    // cross-boundary overlap means the per-source df split is
    // irrelevant to the pair blowup. One shingle-keyed exchange feeds
    // the cap count and both join sides (r6, guide §2.4).
    val sh = shinglesKeyedBy(corpus, Seq("shingle"))
    val dfOk = sh.groupBy($"shingle")
      .agg(count(lit(1)).as("df")).filter($"df" <= maxDf)
      .select($"shingle")
    // merge hints: same co-partitioned no-exchange rationale as
    // interPairs (the planner would broadcast the string-heavy sides)
    val shJ = sh.join(dfOk.hint("merge"), Seq("shingle"))
    shJ.as("a").join(shJ.hint("merge").as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minShared)
  }

  /** Duplicate-CLUSTER resolution — the step that turns near-dup PAIRS
    * into the keep/drop decision a dedup pipeline actually applies:
    * connected components over the [[ngramJaccard]] pair graph, each
    * doc labeled with its component's min doc_id (`cluster`) and
    * `keep = (doc_id == cluster)` — one canonical survivor per
    * duplicate cluster, every other member dropped. Docs in no pair
    * are their own singleton cluster (kept).
    *
    * Components via min-label propagation to fixpoint: each round,
    * every node takes the min of its own and its neighbors' labels —
    * one equi-join + min-aggregation shuffle per round, rounds =
    * O(component diameter). Near-dup components are near-cliques
    * (members pairwise share shingles), so diameter ≈ 2-3 and this
    * converges in a handful of rounds regardless of corpus size — the
    * pathological long-chain case that motivates large-star/small-star
    * contraction does not arise from similarity edges. The fixpoint
    * label is the component minimum whatever the round count, so the
    * output is oracle-exact (DuckDB replays it as recursive
    * reachability + min). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // keyed like ngramJaccard (one exchange feeds cap + both join
    // sides); nothing to unpersist — clusterLabels materializes the
    // edge set once and the shingle stream is never re-executed
    val sh = shinglesKeyedBy(docs(spark, dir), Seq("source", "shingle"))
    clusterLabels(
      docs(spark, dir).select($"doc_id"),
      interPairs(sh, minInter = 3, maxDf = MaxShingleDf).select($"a_id", $"b_id"))
  }

  /** Edge-count threshold below which components are resolved by a
    * driver-side union-find instead of the distributed loop: a pair
    * graph under ~4M edges is tens of MB of driver-bounded metadata
    * and resolves in milliseconds, where every distributed round pays
    * fresh codegen + scheduling (~1s/round measured). Both paths
    * compute the identical fixpoint (component min), asserted in
    * OpsSpec on the same topology. */
  val ClusterDriverMaxEdges = 4000000L

  /** Resolve components over an undirected pair graph: every node in a
    * pair labeled with its component's min id; split out so tests can
    * plant multi-hop chain topologies directly (and force either path
    * via `driverMaxEdges`). */
  def clusterLabels(nodes: DataFrame, pairs: DataFrame,
                    driverMaxEdges: Long = ClusterDriverMaxEdges): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // mirror each pair via explode, NOT a self-union: a union's two
    // branches each execute the (uncached) upstream pair plan — for
    // dedupClusters that ran the whole shingle join twice per call
    val edges = pairs.select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    // both paths touch ONLY edge-touched nodes: duplicate-graph
    // membership is bounded by 2x the pair count, so the working set is
    // the dup graph, not the corpus — at the design point the corpus is
    // 10^9+ docs and the graph a sliver of it; singletons join the
    // output once at the end (one anti-join, no per-round cost)
    val eCount = edges.count()
    val labels =
      if (eCount <= driverMaxEdges) driverComponents(spark, edges)
      else distributedComponents(edges)
    edges.unpersist()
    val clustered = labels.select(col("node").as("doc_id"), col("label").as("cluster"),
      (col("node") === col("label")).as("keep"))
    val singles = nodes.join(labels.select(col("node").as("doc_id")), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"doc_id".as("cluster"), lit(true).as("keep"))
    clustered.unionByName(singles)
  }

  /** Small-graph path: union-find with path compression on the driver,
    * then one pass mapping each root to its component min —
    * deterministic and identical to the distributed fixpoint. */
  /** Union-find with path compression, generic in the id type — Long
    * doc ids and String image ids cluster through the same kernel.
    * The representative is the component MIN under the type's natural
    * ordering (for strings: code-unit order, which coincides with
    * DuckDB's binary collation on the ASCII ids the corpus emits). */
  private def unionFind[T](es: Iterable[(T, T)])(implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val compMin = scala.collection.mutable.HashMap.empty[T, T]
    parent.keys.foreach { n =>
      val r = find(n)
      compMin(r) = ord.min(compMin.getOrElse(r, n), n)
    }
    parent.keys.toSeq.sorted.map(n => (n, compMin(find(n))))
  }

  private def driverComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    edges.schema.head.dataType match {
      case org.apache.spark.sql.types.StringType =>
        unionFind(edges.as[(String, String)].collect()).toDF("node", "label")
      case _ =>
        unionFind(edges.as[(Long, Long)].collect()).toDF("node", "label")
    }
  }

  /** Scale path: min-label propagation with pointer jumping.
    *
    * Every round\'s labels are LINEAGE-TRUNCATED (localCheckpoint):
    * `labels` appears twice in a round\'s plan, so without truncation
    * the logical tree DOUBLES per round — 2^rounds copies of the
    * upstream pair computation, and the session dies regenerating plan
    * strings long before any data is big (the same retained-plan
    * blowup as the crawler\'s cross-wave cached-DF hang; measured here
    * as a driver OOM inside AQE\'s explainString at sf0.1). The
    * checkpoint data is a few rows per graph node and is already
    * materialized by the convergence count. */
  /** Rounds the last [[distributedComponents]] run took — exposed so
    * the spec can evidence the O(log diameter) convergence claim on a
    * planted long chain (test-only observability, not a semantic). */
  private[ops] val lastDistributedRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  private def distributedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    var labels = edges.select($"src".as("node")).distinct()
      .select($"node", $"node".as("label")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    // the cap is a runaway guard, not a semantic: jumping converges in
    // O(log diameter) rounds and the fixpoint label is the component
    // min whatever the round count
    while (changed > 0 && rounds < 64) {
      // propagate: take the min of own and neighbor labels...
      val nbrMin = edges.join(labels, edges("src") === labels("node"))
        .groupBy($"dst").agg(min($"label").as("nlbl"))
        .withColumnRenamed("dst", "node")
      val prop = labels.join(nbrMin, Seq("node"), "left_outer")
        .select($"node",
          least($"label", coalesce($"nlbl", $"label")).as("label"),
          $"label".as("prev"))
      // ...then POINTER-JUMP label <- label(label): paths to the
      // component min halve each round, so chain-shaped components
      // converge in O(log diameter) rounds instead of O(diameter)
      // (the sf0.1 corpus has diameter-7 chains: 7 rounds flat, 4
      // with jumping). Labels always name graph nodes, so the jump
      // join is total. `improved` rides the checkpoint so convergence
      // is a filter-count over materialized rows, not another join job.
      val upd = prop.as("c")
        .join(prop.select($"node".as("pnode"), $"label".as("plabel")),
          col("c.label") === col("pnode"))
        .select($"node", $"plabel".as("label"), ($"plabel" < $"prev").as("improved"))
        .localCheckpoint()
      changed = upd.filter($"improved").count()
      labels.unpersist()
      labels = upd.drop("improved")
      rounds += 1
    }
    lastDistributedRounds.set(rounds)
    labels
  }

  // ------------------------------------------------------------ MinHash

  val MinHashK = 32   // signature length
  val Bands = 8       // 8 bands x 4 rows
  val RowsPerBand = 4

  /** MinHash signatures: one aggregation computing all K mins at once
    * (single shuffle by doc_id). Hash family: the BUILT-IN xxhash64
    * with a per-member salt column — stays inside whole-stage codegen,
    * where a Scala UDF (K=32 calls per shingle) would interpreter-bounce
    * the pipeline's hottest path. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NOT shinglesKeyedBy(doc_id) (tried in r6): the distinct exchange
    // dedups map-side and the 32-min aggregation partial-aggregates
    // before its exchange, so the classic shape moves fewer bytes than
    // one raw doc_id repartition — measured 1.31s vs 1.49s
    val sh = shinglesOf(docs(spark, dir))
    val mins = (0 until MinHashK).map(i =>
      min(xxhash64(lit(1000L + i), $"shingle")).as(s"h$i"))
    sh.groupBy($"doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH banding: explode each signature into (band, band_hash) keys,
    * self-join on the bucket, verify candidates with exact Jaccard on
    * the shingle sets, keep pairs over the threshold (as intersection /
    * union integer counts). */
  /** (doc_id, band, bh) LSH bucket keys — shared by [[minhashNearDup]]
    * and the aux oracle dump, so DuckDB replays exactly this banding. */
  def minhashBands(spark: SparkSession, dir: String): DataFrame =
    Banding.explodeBands(minhashSignatures(spark, dir), Seq("doc_id"), "bh",
      (0 until Bands).map(b =>
        xxhash64((0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}")): _*)))

  /** Hot-bucket guard for the LSH band join, same pattern as
    * [[MaxShingleDf]]/[[MaxChunkDf]]: a band bucket of f docs is f²
    * candidate pairs, and a mega-cluster of byte-identical docs (which
    * belongs to EXACT dedup, upstream) would otherwise go quadratic
    * here. The SAME cap is in the aux-band oracle SQL. */
  val MaxBandDf = 1000

  def minhashNearDup(spark: SparkSession, dir: String, minJaccardPct: Int = 50,
                     maxDf: Int = MaxBandDf): DataFrame = {
    import spark.implicits._
    val cands = Banding.candidatePairs(
      minhashBands(spark, dir), "doc_id", "bh", Banding.Capped(maxDf))()
    // exact verification touches ONLY candidate pairs: per-doc shingle
    // sets are small (bounded by doc length), so array_intersect on the
    // joined pair beats re-running the full pairwise shingle join
    val sets = shinglesOf(docs(spark, dir)).groupBy($"doc_id")
      .agg(collect_set($"shingle").as("shset"))
    cands
      .join(sets.select($"doc_id".as("a_id"), $"shset".as("sa")), "a_id")
      .join(sets.select($"doc_id".as("b_id"), $"shset".as("sb")), "b_id")
      .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("bigint"))
      .withColumn("uni", (size($"sa") + size($"sb")).cast("bigint") - $"inter")
      .filter($"inter" * 100 >= $"uni" * minJaccardPct)
      .select($"a_id", $"b_id", $"inter", $"uni")
  }

  // ------------------------------------------------------------ SimHash

  /** 64-bit SimHash of whitespace tokens — pure scalar function, no
    * shuffle; the natural 100 TB shape (map-only over the scan). */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    var start = 0
    val t = text.trim
    val n = t.length
    var i = 0
    def feed(tok: String): Unit = {
      if (tok.nonEmpty) {
        val h = XxHash64.hash(tok)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    while (i <= n) {
      if (i == n || t.charAt(i).isWhitespace) {
        if (i > start) feed(t.substring(start, i))
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** (doc_id, simhash) signatures — a mapPartitions KERNEL over the
    * text column, not a Scala UDF: this is the map-side signature
    * extraction of a 100 TB stage, and the repo's measured pecking
    * order (codegen Expression > fold > UDF; per-row UDF invocation
    * pays boxing + SerDe) applies exactly as it did to the SRP/IVF
    * kernels. Shared by [[simhashNearDup]] and the aux oracle dump, so
    * the DuckDB side replays exactly these signatures. */
  def simhashDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, simhash64(t)) })
      .toDF("doc_id", "simhash")
  }

  /** Hot-bucket guard for the chunk banding (same pattern and rationale
    * as [[MaxShingleDf]]): one degenerate common 16-bit chunk (e.g.
    * near-empty docs hashing alike) is f² join pairs with no cap. The
    * SAME cap is interpolated into the oracle SQL. */
  val MaxChunkDf = 1000

  /** SimHash near-dup: band the 64-bit signature into 4×16-bit chunks;
    * any pair agreeing on a chunk is a candidate (complete for hamming
    * distance <= 3, rejected above); verify by popcount.
    * Buckets with df > maxDf are dropped from the join. */
  def simhashNearDup(spark: SparkSession, dir: String, maxHamming: Int = 3,
                     maxDf: Int = MaxChunkDf): DataFrame =
    simhashNearDupFromSigs(simhashDf(spark, dir), maxHamming, maxDf)

  /** The banding + verify stage over a (doc_id, simhash) signature
    * table — split out so tests can plant adversarial signatures (hot
    * buckets) directly. */
  def simhashNearDupFromSigs(sig: DataFrame, maxHamming: Int = 3,
                             maxDf: Int = MaxChunkDf): DataFrame =
    Banding.hammingPairs(sig, "doc_id", "simhash", chunks = 4, perKey = 1, maxHamming, maxDf)

  // ------------------------------------------------------- semantic dedup

  /** SemDeDup (Abbas et al. 2023): collapse groups of EMBEDDING-space
    * near-duplicates to one representative — the semantic sibling of
    * [[dedupClusters]]'s lexical components, over the same
    * [[clusterLabels]] engine (driver union-find under the edge bound,
    * distributed min-label + pointer jumping above). Edges come from
    * [[Similarity.cosineNearDup]] — SRP-banded candidates, exact
    * cosine verification, never an all-pairs join — so the oracle
    * replays banding from the aux key dump and components via the
    * recursive CTE, both contracts it already has. Keep = component
    * min, deterministic. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id".as("doc_id"))
    clusterLabels(nodes, Similarity.cosineNearDup(spark, dir))
      .select($"doc_id".as("vec_id"), $"cluster", $"keep")
  }

  // ------------------------------------------------ duplicated-span profile

  /** Window width for the duplicated-span profile — 3 words, matching
    * the shingle family (production uses ~50-token windows with the
    * identical plan shape; cf. Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", whose suffix-array
    * measurement this re-expresses relationally). */
  val DupSpanN = 3

  /** Per-doc duplicated-token coverage: how many of a doc's tokens sit
    * inside at least one word n-gram that also occurs in ANOTHER
    * document of the corpus (cross-doc only — a shingle repeated
    * solely within one doc is intra-doc repetition, `repetition`'s
    * job). Runs over [[benchCorpus]] so the planted every-7th-doc
    * duplicates guarantee full-coverage rows (dup_tokens = n_tokens)
    * next to the natural partial overlaps — non-vacuous by
    * construction.
    *
    * Coverage is the union length of the fixed-width windows, computed
    * as a running-gap sum (each dup window past the first adds
    * min(n, i - prev_i) newly covered tokens) — gaps-and-islands over
    * one doc_id window, never an explode of n rows per covered
    * position. A shingle duplicated across f docs costs f semi-join
    * rows, never f²: there is no self-join in this operator. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpansOf(benchCorpus(spark, dir))

  private[ops] def dupSpansOf(corpus: DataFrame, n: Int = DupSpanN): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val wins = corpus
      .select($"doc_id", split(trim($"text"), "\\s+").as("w"))
      .filter(size($"w") >= n)
      .select($"doc_id", explode(
        transform(sequence(lit(1), size($"w") - (n - 1)), i =>
          struct(i.as("i"), concat_ws(" ",
            (0 until n).map(o => element_at(col("w"), i + o)): _*).as("shingle")))
      ).as("x"))
      .select($"doc_id", $"x.i".as("i"), $"x.shingle".as("shingle"))
    // NOT persisted (r6, advisor finding): the cache was never released
    // — a session-lifetime InMemoryRelation leak for Verify and library
    // callers — and both consumers shuffle wins by `shingle` anyway, so
    // within the one action they share the exchange via ReusedExchange
    // instead of re-scanning a cached string table.
    val dup = wins.groupBy($"shingle")
      .agg(countDistinct($"doc_id").as("ddf"))
      .filter($"ddf" >= 2).select($"shingle")
    val ow = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"i")
    val cov = wins.join(dup, Seq("shingle"), "left_semi")
      .withColumn("prev", lag($"i", 1).over(ow))
      .select($"doc_id",
        when($"prev".isNull, lit(n.toLong))
          .otherwise(least(lit(n.toLong), ($"i" - $"prev").cast("bigint"))).as("add"))
      .groupBy($"doc_id").agg(sum($"add").as("dup_tokens"))
    corpus
      .select($"doc_id",
        size(split(trim($"text"), "\\s+")).cast("bigint").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"n_tokens",
        coalesce($"dup_tokens", lit(0L)).as("dup_tokens"))
  }

  val oracle: Map[String, String] = Map(
    "q_semdedup" ->
      """WITH RECURSIVE keys AS (SELECT * FROM read_parquet('{AUX}/neardup_bands/*.parquet')),
        |cands AS (
        |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM keys a JOIN keys b ON a.band = b.band AND a.bk = b.bk
        |       AND a.vec_id < b.vec_id),
        |pairs AS (
        |  SELECT c.a_id, c.b_id
        |  FROM cands c JOIN embeddings a ON a.vec_id = c.a_id
        |  JOIN embeddings b ON b.vec_id = c.b_id
        |  WHERE list_dot_product(a.embedding, b.embedding) /
        |    (sqrt(list_dot_product(a.embedding, a.embedding)) *
        |     sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.4),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |          UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(node, label) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
        |SELECT node AS vec_id, min(label) AS cluster,
        |  min(label) = node AS keep
        |FROM reach GROUP BY 1""".stripMargin,
    "q_dup_spans" -> {
      val shingleSql = (0 until DupSpanN).map(o => s"w[i+$o]").mkString(" || ' ' || ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 7 = 0),
         |toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM corpus),
         |wins AS (
         |  SELECT doc_id, i, $shingleSql AS shingle
         |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - ${DupSpanN - 1})) AS i
         |        FROM toks WHERE len(w) >= $DupSpanN)),
         |dup AS (SELECT shingle FROM wins GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         |lagged AS (
         |  SELECT doc_id, i, lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
         |  FROM wins WHERE shingle IN (SELECT shingle FROM dup)),
         |cov AS (
         |  SELECT doc_id, CAST(sum(CASE WHEN prev IS NULL THEN $DupSpanN
         |    ELSE least($DupSpanN, i - prev) END) AS BIGINT) AS dup_tokens
         |  FROM lagged GROUP BY 1),
         |tot AS (SELECT doc_id,
         |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM corpus)
         |SELECT t.doc_id, t.n_tokens,
         |  CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens
         |FROM tot t LEFT JOIN cov c ON c.doc_id = t.doc_id""".stripMargin
    },
    "q_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS text_fp, min(doc_id) AS keep_id,
        |count(*) AS copies FROM documents GROUP BY 1""".stripMargin,
    "q_decontaminate" ->
      ("""WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, 'zbench' AS source, text FROM documents
        |  WHERE doc_id % 7 = 0),
        |fp0 AS (SELECT doc_id, source, md5(lower(trim(text))) AS fp FROM corpus),
        |ok AS (SELECT fp FROM fp0 GROUP BY 1 HAVING count(*) <= """.stripMargin +
      MaxFpDf.toString + """),
        |fp AS (SELECT fp0.* FROM fp0 JOIN ok USING (fp))
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_pairs,
        |  CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared_fps
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin),
    "q_decontaminate_ngram" ->
      ("""WITH toks AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        |  FROM (SELECT doc_id, source, w, unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM toks WHERE len(w) >= 3)),
        |ok AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= """.stripMargin +
      MaxShingleDf.toString + """),
        |shj AS (SELECT sh.* FROM sh JOIN ok USING (shingle))
        |SELECT a.source AS src_a, b.source AS src_b,
        |  a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
        |FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.source < b.source
        |GROUP BY 1, 2, 3, 4 HAVING count(*) >= 3""".stripMargin),
    // connected components replayed as recursive reachability: label of
    // a node = min doc_id that reaches it over the (undirected) pair
    // graph — the same fixpoint min-label propagation converges to,
    // independent of round count. Edge set = the q_ngram_jaccard pair
    // CTE (same MaxShingleDf cap).
    "q_dedup_clusters" ->
      ("""WITH RECURSIVE toks AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        |  FROM (SELECT doc_id, source, w, unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM toks WHERE len(w) >= 3)),
        |df_ok AS (SELECT source, shingle FROM sh GROUP BY 1, 2 HAVING count(*) <= """.stripMargin +
      MaxShingleDf.toString + """),
        |shj AS (SELECT sh.* FROM sh JOIN df_ok USING (source, shingle)),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.source = b.source
        |       AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM inter
        |          UNION ALL SELECT b_id, a_id FROM inter),
        |reach(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
        |SELECT node AS doc_id, min(label) AS cluster,
        |  min(label) = node AS keep
        |FROM reach GROUP BY 1""".stripMargin),
    "q_ngram_jaccard" ->
      ("""WITH toks AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source,
        |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        |  FROM (SELECT doc_id, source, w, unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM toks WHERE len(w) >= 3)),
        |df_ok AS (SELECT source, shingle FROM sh GROUP BY 1, 2 HAVING count(*) <= """.stripMargin +
      MaxShingleDf.toString + """),
        |shj AS (SELECT sh.* FROM sh JOIN df_ok USING (source, shingle)),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.source = b.source
        |       AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT i.a_id, i.b_id, i.inter, sa.n_sh + sb.n_sh - i.inter AS uni
        |FROM inter i JOIN sizes sa ON sa.doc_id = i.a_id
        |JOIN sizes sb ON sb.doc_id = i.b_id""".stripMargin),
    // {AUX} oracles: the xxhash64-based signatures aren't expressible in
    // SQL, but everything AFTER signature extraction is — Verify dumps
    // the deterministic signature/band keys as parquet and DuckDB
    // replays the banding + exact verify bit-for-bit (corpus-
    // independent: the oracle checks what the engine emits, not an
    // empirically-equal approximation).
    "q_simhash_neardup" ->
      ("""WITH sig AS (SELECT * FROM read_parquet('{AUX}/simhash_sigs/*.parquet')),
        |b AS (
        |  SELECT doc_id, simhash, c, (simhash >> (16 * c)) & 65535 AS ch
        |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS c)),
        |ok AS (SELECT c, ch FROM b GROUP BY 1, 2 HAVING count(*) <= """.stripMargin +
      MaxChunkDf.toString + """),
        |bj AS (SELECT b.* FROM b JOIN ok USING (c, ch))
        |SELECT DISTINCT a.doc_id AS a_id, b2.doc_id AS b_id,
        |  CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT) AS hamming
        |FROM bj a JOIN bj b2 ON a.c = b2.c AND a.ch = b2.ch
        |     AND a.doc_id < b2.doc_id
        |WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3""".stripMargin),
    "q_minhash_neardup" ->
      ("""WITH keys AS (SELECT * FROM read_parquet('{AUX}/minhash_bands/*.parquet')),
        |ok AS (SELECT band, bh FROM keys GROUP BY 1, 2 HAVING count(*) <= """.stripMargin +
      MaxBandDf.toString + """),
        |kj AS (SELECT keys.* FROM keys JOIN ok USING (band, bh)),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM kj a JOIN kj b ON a.band = b.band AND a.bh = b.bh
        |       AND a.doc_id < b.doc_id),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM toks WHERE len(w) >= 3)),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT c.a_id, c.b_id, count(*) AS inter
        |  FROM cands c JOIN sh a ON a.doc_id = c.a_id
        |  JOIN sh b ON b.doc_id = c.b_id AND a.shingle = b.shingle
        |  GROUP BY 1, 2)
        |SELECT i.a_id, i.b_id, i.inter, sa.n_sh + sb.n_sh - i.inter AS uni
        |FROM inter i JOIN sizes sa ON sa.doc_id = i.a_id
        |JOIN sizes sb ON sb.doc_id = i.b_id
        |WHERE i.inter * 100 >= (sa.n_sh + sb.n_sh - i.inter) * 50""".stripMargin)
  )
}
