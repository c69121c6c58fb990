package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic sampling — the data-mixing primitives of a training
  * pipeline. Both are HASH-based, not RNG-based: the same corpus
  * always yields the same sample (reproducible mixes, resumable jobs,
  * and an exact DuckDB oracle via the shared hash dump), and the
  * decision is a pure per-row predicate — no coordinator, no
  * pass-ordering dependence, the only sampling that works on 100 TB
  * spread over 1000 executors.
  */
object Sampling {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Sign-cleared sampling hash of the doc id (seed disjoint from the
    * HLL/minhash families) — shared by both samplers and the aux dump,
    * so the oracle replays exactly these draws. */
  private def sampleHash(c: Column): Column =
    xxhash64(lit(7L), c).bitwiseAND(lit(Long.MaxValue))

  /** (doc_id, source, h) dump for the {AUX} oracles. */
  def sampleHashesAux(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select($"doc_id", $"source", sampleHash($"doc_id").as("h"))
  }

  /** Bernoulli-by-hash sample: keep a row iff h mod 100 < pct. Scan →
    * filter, ZERO shuffles (plan-gated); rate changes re-use prior
    * draws (pct=10 is a superset of pct=5 — stable incremental
    * sampling, unlike rand()). */
  def hashSample(spark: SparkSession, dir: String, pct: Int = 10): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id", $"source", sampleHash($"doc_id").as("h"))
      .filter($"h" % 100 < pct)
      .select($"doc_id", $"source")
  }

  /** Stratified quota sample: the `quota` lowest-hash docs per source —
    * the per-source data-mixing shape (equal representation regardless
    * of stratum size). Ties broken by doc_id so the draw is
    * total-ordered and exact.
    *
    * A giant stratum (10^9 docs/source) reaches its window as at most
    * (map tasks x quota) rows because quota is a literal <= 1000
    * (spark.sql.optimizer.windowGroupLimitThreshold): Catalyst then
    * keeps each map task's `quota` smallest rows per source below the
    * exchange. The crawler's admission window leans on the same rule
    * through its literal `rn <= hostVisitLimit + 1` conjunct. */
  def stratifiedSample(spark: SparkSession, dir: String, quota: Int = 50): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"h", $"doc_id")
    docs(spark, dir)
      .select($"doc_id", $"source", sampleHash($"doc_id").as("h"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter($"rnk" <= quota)
      .select($"doc_id", $"source", $"rnk")
  }

  /** The round's declared data-mix: per-source keep rates in percent
    * (deterministic function of the source index, so sf0.001 and sf0.1
    * declare the same mix). ONE Scala value interpolated into both the
    * operator and the oracle CASE — the mix can't silently drift
    * between engine and check. */
  val MixRates: Seq[(String, Int)] =
    (0 until 20).map(i => s"src$i" -> (10 + (i * 7) % 90))

  /** Weighted source mixing — the data-mixing step of corpus assembly
    * (upsample curated sources, downsample bulk crawl): per-source
    * Bernoulli keep rates over the SAME hash draw as [[hashSample]],
    * evaluated as one codegen'd CASE predicate per row. Zero shuffles
    * (plan-gated), reproducible, and rate-monotone per source (raising
    * a source's rate keeps every previously kept doc — stable
    * incremental remixes, unlike rand()). */
  def mixSources(spark: SparkSession, dir: String,
                 rates: Seq[(String, Int)] = MixRates,
                 defaultPct: Int = 10): DataFrame = {
    import spark.implicits._
    val rate = rates.foldLeft(lit(defaultPct)) { case (acc, (src, r)) =>
      when($"source" === src, lit(r)).otherwise(acc)
    }
    docs(spark, dir)
      .select($"doc_id", $"source", sampleHash($"doc_id").as("h"))
      .filter($"h" % 100 < rate)
      .select($"doc_id", $"source")
  }

  /** Per-cluster quota for [[clusterSample]] (one value, shared with
    * the oracle — declared above it). */
  val ClusterQuota = 40

  /** Sign-cleared sampling hash of a vector id (seed 17, disjoint from
    * every other hash family) — shared by [[clusterSample]] and its
    * {AUX} dump. */
  private def clusterHash(c: Column): Column =
    xxhash64(lit(17L), c).bitwiseAND(lit(Long.MaxValue))

  /** (vec_id, cluster, h) for the {AUX} oracle: the IVF coarse
    * assignment (the SAME kernel + Lloyd centroids as the ANN
    * operators — one assignment definition corpus-wide) plus the
    * sampling hash. */
  def clusterSampleAux(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.ivfAssignAux(spark, dir)
      .select($"vec_id", $"cluster", clusterHash($"vec_id").as("h"))
  }

  /** Cluster-balanced embedding sample: the `quota` lowest-hash
    * vectors per IVF cluster — semantic-diversity subsampling (equal
    * representation per embedding-space region regardless of region
    * density, the SemDeDup-adjacent curation step). Skew-bounded like
    * [[stratifiedSample]], under the same literal-quota <= 1000
    * condition. */
  def clusterSample(spark: SparkSession, dir: String, quota: Int = ClusterQuota): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"cluster").orderBy($"h", $"vec_id")
    clusterSampleAux(spark, dir)
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter($"rnk" <= quota)
      .select($"vec_id", $"cluster", $"rnk")
  }

  val oracle: Map[String, String] = Map(
    "q_cluster_sample" ->
      s"""SELECT vec_id, cluster, rnk FROM (
         |  SELECT vec_id, cluster,
         |    row_number() OVER (PARTITION BY cluster ORDER BY h, vec_id) AS rnk
         |  FROM read_parquet('{AUX}/cluster_sample_hashes/*.parquet'))
         |WHERE rnk <= $ClusterQuota""".stripMargin,
    "q_mix_sources" -> {
      val cases = MixRates.map { case (s, r) => s"WHEN '$s' THEN $r" }.mkString(" ")
      s"""SELECT doc_id, source
         |FROM read_parquet('{AUX}/sample_hashes/*.parquet')
         |WHERE h % 100 < CASE source $cases ELSE 10 END""".stripMargin
    },
    "q_hash_sample" ->
      """SELECT doc_id, source
        |FROM read_parquet('{AUX}/sample_hashes/*.parquet')
        |WHERE h % 100 < 10""".stripMargin,
    "q_stratified_sample" ->
      """SELECT doc_id, source, rnk FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rnk
        |  FROM read_parquet('{AUX}/sample_hashes/*.parquet'))
        |WHERE rnk <= 50""".stripMargin
  )
}
