package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over the documents table: a MATERIALIZED
  * inverted index (term postings as a bucket-partitioned
  * [[graft.lake.IndexTable]], the text sibling of the IVF inverted
  * lists) serving keyword search with partition-pruned scans, plus a
  * tf/df distinctive-terms ranking — both in exact integer arithmetic
  * so the DuckDB oracles replay them bit-for-bit.
  *
  * Scale shape: the index is built ONCE per corpus snapshot (one
  * tokenize + one (term, doc_id) shuffle over the corpus — the same
  * cost as any dedup pass) and every query after that reads only the
  * term-buckets of its query terms (buckets/NBuckets of the files,
  * file pruning plan-gated). The search itself never shuffles the
  * corpus: matched postings collapse to per-doc scores and the global
  * top-k is a distributed sort-limit (per-partition top-k, driver
  * merge), never a single-partition window.
  */
object Search {

  /** Tokenizer shared with TextOps: whitespace split of trimmed text —
    * `split(trim(text), '\s+')` ≡ DuckDB `regexp_split_to_array`. */
  private[ops] def tokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"source", explode(split(trim($"text"), "\\s+")).as("term"))
  }

  /** Term-bucket count for the postings layout. At web scale the vocab
    * is unbounded, so partitioning by raw term would explode the
    * partition count — terms hash into a fixed bucket space instead,
    * and a query prunes to the union of its terms' buckets. */
  val NBuckets = 64

  /** The inverted index rows: one posting per (term, doc) with its
    * term frequency, bucketed by term hash. */
  private[ops] def postings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    tokens(spark, dir)
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64($"term"), lit(NBuckets.toLong)))
  }

  /** Bucket ids of the query terms — the same xxhash64 the postings
    * writer used, evaluated by Spark on a terms-sized local dataset
    * (metadata-sized driver work, like the IVF query batch). */
  private def termBuckets(spark: SparkSession, terms: Seq[String]): Seq[Long] = {
    import spark.implicits._
    spark.createDataset(terms)
      .select(pmod(xxhash64($"value"), lit(NBuckets.toLong)))
      .as[Long].collect().distinct.toSeq
  }

  /** Write-layout salt slots: bounds the postings index to at most
    * NBuckets × SaltSlots files (see
    * [[graft.lake.IndexTable.writeLayout]]) while keeping SaltSlots
    * parallel writers inside a hot bucket. */
  val SaltSlots = 4

  /** The postings index as a maintained lake table, resolved like the
    * IVF inverted lists ([[Similarity.indexDir]]): keyed on the
    * documents parquet's snapshot, reused across JVMs while it is
    * unchanged, rebuilt whole on any change. */
  private[ops] def postingsIndexDir(spark: SparkSession, dir: String): String =
    Similarity.indexDir(spark, "post", dir, "documents.parquet", s"|nb=$NBuckets|ls=$SaltSlots",
      "bucket", NBuckets, SaltSlots, "term")(postings(spark, dir))

  /** Matched postings via the index, scanning ONLY the query terms'
    * buckets (the literal bucket IN-filter reaches the partitioned
    * scan; PlanSpec asserts actual file pruning like the IVF probe). */
  private[ops] def prunedPostingsScan(spark: SparkSession, dir: String,
                                      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val buckets = termBuckets(spark, terms)
    spark.read.parquet(postingsIndexDir(spark, dir))
      .filter($"bucket".isin(buckets: _*) && $"term".isin(terms: _*))
  }

  /** The driver query's fixed term set — ONE Scala value interpolated
    * into both the operator and the oracle SQL (the mix-sources
    * pattern), chosen from the corpus vocabulary so the search is
    * non-vacuous at every fixture scale. */
  val QueryTerms = Seq("join", "hash", "vector")
  val TopK = 10

  /** Index-accelerated keyword search: sum-of-tf scoring over the
    * matched postings, global top-k by (score desc, doc_id) — a total
    * order, so ranks are deterministic. The top-k is orderBy+limit
    * (TakeOrderedAndProject: per-partition heads, driver merge), and
    * the rank window runs over ≤ k rows — no full-data single-task
    * window anywhere. Results are independent of the index layout:
    * the oracle recomputes the same scores straight from the
    * documents table in DuckDB. */
  def keywordSearch(spark: SparkSession, dir: String,
                    terms: Seq[String] = QueryTerms, k: Int = TopK): DataFrame = {
    import spark.implicits._
    val scored = prunedPostingsScan(spark, dir, terms)
      .groupBy($"doc_id")
      .agg(sum($"tf").as("score"), count(lit(1)).as("n_terms"))
      .orderBy($"score".desc, $"doc_id")
      .limit(k)
    scored
      .withColumn("rnk", row_number()
        .over(Window.orderBy($"score".desc, $"doc_id")).cast("bigint"))
      .select($"rnk", $"doc_id", $"score", $"n_terms")
  }

  /** Index-free reference formulation for the equality spec: the same
    * scores straight from the token stream. */
  private[ops] def keywordSearchBrute(spark: SparkSession, dir: String,
                                      terms: Seq[String] = QueryTerms,
                                      k: Int = TopK): DataFrame = {
    import spark.implicits._
    val scored = tokens(spark, dir)
      .filter($"term".isin(terms: _*))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .groupBy($"doc_id")
      .agg(sum($"tf").as("score"), count(lit(1)).as("n_terms"))
      .orderBy($"score".desc, $"doc_id")
      .limit(k)
    scored
      .withColumn("rnk", row_number()
        .over(Window.orderBy($"score".desc, $"doc_id")).cast("bigint"))
      .select($"rnk", $"doc_id", $"score", $"n_terms")
  }

  /** Fixed-point tf·idf scale and per-source cutoff. */
  val TfidfScale = 1000000L
  val TfidfTopK = 5

  /** Distinctive terms per source: tf = term occurrences inside the
    * source, df = distinct docs containing the term corpus-wide,
    * score = (tf · 10^6) div df — integer division, truncation on
    * non-negatives in both engines (the TextRank `div` ≡ `//`
    * contract), so the ranking is bit-exact cross-engine. Top-k per
    * source by (score desc, term) — a total order.
    *
    * Scale shape: two token shuffles (tf on (source, term), df on
    * term), then the vocab-sized df side joins tf (AQE broadcasts
    * it). A source's vocabulary (up to 10^8 terms) reaches the rank
    * window as at most (map tasks x k) rows because k is a literal
    * <= 1000 (spark.sql.optimizer.windowGroupLimitThreshold): Catalyst
    * then keeps each map task's k best per source below the exchange. */
  def tfidfTerms(spark: SparkSession, dir: String, k: Int = TfidfTopK): DataFrame = {
    import spark.implicits._
    val toks = tokens(spark, dir)
    val tf = toks.groupBy($"source", $"term").agg(count(lit(1)).as("tf"))
    val df = toks.groupBy($"term").agg(countDistinct($"doc_id").as("df"))
    val w = Window.partitionBy($"source").orderBy($"score".desc, $"term")
    tf.join(df, Seq("term"))
      .withColumn("score", expr(s"(tf * $TfidfScale) div df"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter($"rnk" <= k)
      .select($"source", $"term", $"tf", $"df", $"score", $"rnk")
  }

  private def sqlTermList(terms: Seq[String]): String =
    terms.map(t => s"'$t'").mkString(", ")

  val oracle: Map[String, String] = Map(
    "q_keyword_search" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks
         |  WHERE term IN (${sqlTermList(QueryTerms)}) GROUP BY 1, 2),
         |s AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score,
         |    CAST(count(*) AS BIGINT) AS n_terms
         |  FROM m GROUP BY 1),
         |r AS (
         |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM s)
         |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, score, n_terms
         |FROM r WHERE rnk <= $TopK""".stripMargin,
    "q_tfidf_terms" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |       FROM toks GROUP BY 1),
         |s AS (
         |  SELECT source, term, tf, df,
         |    CAST((tf * $TfidfScale) // df AS BIGINT) AS score
         |  FROM tf JOIN df USING (term)),
         |r AS (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY source ORDER BY score DESC, term) AS rnk
         |  FROM s)
         |SELECT source, term, tf, df, score, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= $TfidfTopK""".stripMargin
  )
}
