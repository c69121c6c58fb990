package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-metrics sketches, built for hash-exact oracle checking:
  * instead of shipping Spark's built-in `approx_count_distinct` /
  * `approx_percentile` (whose HLL++/KLL internals DuckDB cannot
  * replay), the sketches themselves are deterministic integer
  * DataFrames — an HLL register table and an equi-width histogram —
  * so the DuckDB oracle recomputes them bit-for-bit. The registers ARE
  * the distributed object (mergeable, fixed-size, map-side
  * combinable); turning them into a scalar estimate is a driver-side
  * epilogue ([[hllEstimate]], exercised in OpsSpec against true
  * counts).
  */
object Sketches {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")

  // ------------------------------------------------------------- HLL

  /** 64 registers (p=6). Error ~ 1.04/sqrt(64) = 13% — sized down so
    * the sf0.01 register table stays small; production would use
    * p=12-14 with the identical plan shape. */
  val HllP = 6
  val HllM = 64

  /** Sign-cleared xxhash64 of the deduplicated text — shared by
    * [[approxDistinct]] and the aux dump, so the oracle replays
    * exactly these hashes. The mask keeps the value non-negative:
    * `>>` is arithmetic in both engines, and on non-negative inputs
    * arithmetic == logical, so the bucket/rho bit ops below agree
    * across Spark and DuckDB without an unsigned-shift function. */
  private def hashCol(c: Column): Column =
    xxhash64(lit(42L), c).bitwiseAND(lit(Long.MaxValue))

  /** (source, h) hash dump for the {AUX} oracle. */
  def distinctHashesAux(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select($"source", hashCol($"text").as("h"))
  }

  /** Per-source HLL register table: bucket = low p bits of the hash,
    * rho = 1 + trailing zeros of the remaining bits (a geometric
    * variable with the same law as the classic leading-zero rank —
    * computed as bit_count(s XOR (s-1)), pure codegen'd integer ops),
    * registers = max rho per bucket. One shuffle on (source, bucket)
    * with map-side partial max — the fixed-size mergeable shape that
    * survives 100 TB (the register table is at most sources × 64 rows
    * regardless of input size). Empty buckets are simply absent
    * (sparse representation); [[hllEstimate]] treats them as 0. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = hashCol($"text")
    val suffix = shiftright(h, HllP) // non-negative: arithmetic == logical
    docs(spark, dir)
      .select($"source",
        h.bitwiseAND(lit((HllM - 1).toLong)).as("bucket"),
        call_function("bit_count", suffix.bitwiseXOR(suffix - 1)).as("rho"))
      .groupBy($"source", $"bucket")
      .agg(max($"rho").as("max_rho"))
  }

  /** Driver-side HLL estimate from a collected register table
    * (alpha_64 small-range-corrected estimator). */
  def hllEstimate(registers: Seq[(Long, Int)]): Double = {
    val m = HllM
    val alpha = 0.709 // alpha_64
    val regs = new Array[Int](m)
    registers.foreach { case (b, r) => regs(b.toInt) = math.max(regs(b.toInt), r) }
    val z = 1.0 / regs.map(r => math.pow(2.0, -r)).sum
    val raw = alpha * m * m * z
    val zeros = regs.count(_ == 0)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
  }

  // ------------------------------------------------- histogram percentile

  /** Histogram resolution: 1-unit value buckets, capped. */
  val HistMaxBucket = 999L

  /** WINDOWED approximate p50/p95 of `value` per (tumbling hour,
    * event type) from an equi-width integer histogram: bucket =
    * min(floor(value), cap), one count shuffle over the full table
    * (map-side combinable, fixed-size state per window — the only
    * percentile shape that is one pass + mergeable at 100 TB), then
    * the percentile = the lowest bucket whose cumulative count reaches
    * the q-th rank. Output is the bucket lower bound — resolution is
    * the bucket width by construction, like any fixed-histogram
    * quantile. */
  def histogramPercentile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = events(spark, dir)
      .select(date_trunc("hour", $"ts").as("hour"), $"event_type",
        least(floor($"value").cast("bigint"), lit(HistMaxBucket)).as("bucket"))
      .groupBy($"hour", $"event_type", $"bucket")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"hour", $"event_type").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy($"hour", $"event_type")
    val cum = counts
      .withColumn("cum", sum($"n").over(w))
      .withColumn("total", sum($"n").over(tot))
    // the rank inequality cum >= ceil(total*p/100) is evaluated as
    // cum*100 >= total*p — pure integer multiplication, so Spark and
    // DuckDB agree without any division-semantics fine print
    cum
      .select($"hour", $"event_type", $"bucket", $"cum", $"total",
        explode(array(lit(50L), lit(95L))).as("p"))
      .filter($"cum" * 100 >= $"total" * $"p")
      .groupBy($"hour", $"event_type", $"p")
      .agg(min($"bucket").as("bucket_lo"))
  }

  // ------------------------------------------------- bottom-k sample sketch

  /** Sample size per group: 64 draws — rank-space standard error
    * sqrt(p(1-p)/64) ≈ 6% at the median; production would raise k with
    * the identical plan shape. */
  val BottomK = 64

  /** Sign-cleared sampling hash of the event id (seed disjoint from
    * the HLL/minhash/sampling families) — shared by [[bottomkQuantile]]
    * and the aux dump, so the oracle replays exactly these draws. */
  private def bkHash(c: Column): Column =
    xxhash64(lit(13L), c).bitwiseAND(lit(Long.MaxValue))

  /** Values in integer cents: a double running through both engines'
    * windowed machinery drifts in the last ulp, integers never do
    * (same rationale as the running total). */
  private def valCents(c: Column): Column =
    floor(c * 100).cast("bigint")

  /** (event_id, event_type, h, val_cents): the rows [[bottomkQuantile]]
    * ranks, dumped for the {AUX} oracle. */
  def bottomkHashesAux(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir).select($"event_id", $"event_type",
      bkHash($"event_id").as("h"), valCents($"value").as("val_cents"))
  }

  /** Bottom-k sample sketch of `value` per event type: the k rows with
    * the smallest sampling hash — a fixed-size uniform sample that is
    * MERGEABLE (bottom-k of a union = bottom-k of the per-part
    * bottom-k's), the property that makes it a sketch rather than a
    * limit: shards sketch independently and a combiner keeps the k
    * smallest, exactly like the KMV distinct sketch's keep-k-minima
    * shape. Complements the histogram percentile: no value-range cap,
    * resolution adapts to the data, and the same sample answers ANY
    * quantile after the fact. The sketch rows ARE the output (r4
    * pattern: that is what makes an approx operator oracle-exact);
    * [[bottomkQuantileEstimate]] is the driver-side epilogue.
    *
    * Skew-bounded like [[Sampling.stratifiedSample]], under the same
    * condition: k is a literal <= 1000, so Catalyst keeps each map
    * task's k smallest per type below the window's exchange. */
  def bottomkQuantile(spark: SparkSession, dir: String, k: Int = BottomK): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"h", $"event_id")
    bottomkHashesAux(spark, dir)
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter($"rnk" <= k)
      .select($"event_type", $"rnk", $"h", $"val_cents")
  }

  /** Driver-side quantile estimate from one group's collected sketch:
    * the p-th order statistic of the uniform sample (nearest-rank). */
  def bottomkQuantileEstimate(valCents: Seq[Long], p: Double): Long = {
    val sorted = valCents.sorted
    sorted(math.min(sorted.size - 1, math.max(0, math.ceil(p * sorted.size).toInt - 1)))
  }

  // ------------------------------------------------- count-min sketch

  /** Depth 4 × width 256. Point-query error is an OVERestimate only,
    * bounded per row by the colliding mass (expected N/w), taken min
    * over the 4 independent rows; production widens w with the
    * identical plan shape. */
  val CmDepth = 4
  val CmWidth = 256

  /** Row-r bucket of an item — ONE shared expression for the operator,
    * the aux dump, and the point query, so the oracle contract cannot
    * drift. Seeds disjoint from the HLL (42) / bottom-k (13) /
    * sampling families; pmod keeps the bucket non-negative for the raw
    * signed hash. */
  private def cmBucket(c: Column, r: Int): Column =
    pmod(xxhash64(lit(1000L + r), c), lit(CmWidth.toLong))

  /** The d (r, bucket) probes of one item, as an exploded column. */
  private def cmProbes(c: Column): Column =
    explode(array((0 until CmDepth).map(r =>
      struct(lit(r).as("r"), cmBucket(c, r).as("bucket"))): _*))

  /** (user_id, r, bucket) dump for the {AUX} oracle — the oracle
    * recomputes the per-user counts itself and replays only the
    * bucket routing (xxhash64 is not a DuckDB function). */
  def cmBucketsAux(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir).select($"user_id").distinct()
      .select($"user_id", cmProbes($"user_id").as("rb"))
      .select($"user_id", $"rb.r".as("r"), $"rb.bucket".as("bucket"))
  }

  /** Count-min sketch of per-user event counts: counter (r, bucket) =
    * total count of the items row r hashes there. Like the HLL
    * registers, the counter grid IS the output — deterministic integer
    * sums, mergeable (sketch of a union = sum of sketches), at most
    * depth × width rows regardless of input size — which is what makes
    * an "approx" operator oracle-exact; estimates are epilogues
    * ([[cmEstimates]]).
    *
    * Plan: ONE full-data shuffle collapsing to per-item counts
    * (map-side combine), then the depth-way explode runs over DISTINCT
    * items only — never depth × the raw events — and collapses onto
    * the fixed grid (second, item-sized shuffle). Empty counters are
    * absent (sparse), consistently in both engines. */
  def countMin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir).groupBy($"user_id").agg(count(lit(1)).as("n"))
      .select($"n", cmProbes($"user_id").as("rb"))
      .groupBy($"rb.r".as("r"), $"rb.bucket".as("bucket"))
      .agg(sum($"n").as("cnt"))
  }

  /** Distributed point query: re-derive each queried item's d probes
    * with the shared [[cmBucket]], broadcast the fixed-size sketch
    * (≤ depth × width rows by construction — always broadcastable),
    * and take the min counter over rows. Never an overcount-free
    * estimate, never an undercount. */
  def cmEstimates(spark: SparkSession, dir: String, items: DataFrame): DataFrame = {
    val spark0 = items.sparkSession
    import spark0.implicits._
    items
      .select($"user_id", cmProbes($"user_id").as("rb"))
      .select($"user_id", $"rb.r".as("r"), $"rb.bucket".as("bucket"))
      .join(broadcast(countMin(spark, dir)), Seq("r", "bucket"))
      .groupBy($"user_id").agg(min($"cnt").as("est"))
  }

  val oracle: Map[String, String] = Map(
    "q_countmin" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |b AS (SELECT * FROM read_parquet('{AUX}/cm_buckets/*.parquet'))
        |SELECT b.r, b.bucket, CAST(sum(c.n) AS BIGINT) AS cnt
        |FROM c JOIN b ON c.user_id = b.user_id
        |GROUP BY 1, 2""".stripMargin,
    "q_bottomk_quantile" ->
      ("""SELECT event_type, rnk, h, val_cents FROM (
        |  SELECT event_type, h, val_cents,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY h, event_id)
        |      AS BIGINT) AS rnk
        |  FROM read_parquet('{AUX}/bottomk_hashes/*.parquet'))
        |WHERE rnk <= """.stripMargin + BottomK.toString),
    "q_approx_distinct" ->
      """WITH h AS (SELECT * FROM read_parquet('{AUX}/distinct_hashes/*.parquet')),
        |r AS (
        |  SELECT source, h & {MASK} AS bucket,
        |    CAST(bit_count(xor(h >> {P}, (h >> {P}) - 1)) AS INT) AS rho
        |  FROM h)
        |SELECT source, bucket, max(rho) AS max_rho
        |FROM r GROUP BY 1, 2""".stripMargin
        .replace("{MASK}", (HllM - 1).toString).replace("{P}", HllP.toString),
    "q_histogram_percentile" ->
      """WITH b AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |    least(CAST(floor(value) AS BIGINT), {CAP}) AS bucket
        |  FROM events),
        |c AS (SELECT hour, event_type, bucket, count(*) AS n FROM b GROUP BY 1, 2, 3),
        |s AS (
        |  SELECT hour, event_type, bucket,
        |    CAST(sum(n) OVER (PARTITION BY hour, event_type ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(n) OVER (PARTITION BY hour, event_type) AS BIGINT) AS total
        |  FROM c)
        |SELECT hour, event_type, CAST(p AS BIGINT) AS p, min(bucket) AS bucket_lo
        |FROM s, (SELECT unnest([50, 95]) AS p)
        |WHERE cum * 100 >= total * p
        |GROUP BY 1, 2, 3""".stripMargin
        .replace("{CAP}", HistMaxBucket.toString)
  )
}
