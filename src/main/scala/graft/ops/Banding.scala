package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one LSH banding kernel behind the near-duplicate family
  * (MinHash, SimHash, pHash, cosine near-dup, LSH ANN): band rows in,
  * candidate pairs out. Rows agreeing on (band, key) share a bucket and
  * the bucket equi-join is the only pair generator — never an
  * all-pairs join. A pair agreeing on several bands surfaces once per
  * band; which collapse rule is sound depends on whether buckets are
  * capped, so the [[Cap]] argument's TYPE picks it. */
private[ops] object Banding {

  sealed trait Cap

  /** Buckets holding more than `maxDf` rows are dropped from the join
    * (a bucket of f rows is f² pairs); the SAME cap is interpolated into
    * the oracle. A pair's first agreeing band may sit in a dropped
    * bucket, so emit-once would lose pairs the capped candidates still
    * hold: capped pairs collapse with a `distinct`. */
  final case class Capped(maxDf: Int) extends Cap

  /** Every bucket joins, so a pair is KEPT ONLY IN ITS FIRST AGREEING
    * BAND (emit-once, r6): a codegen'd filter instead of an exchange of
    * the candidate-pair stream. Rows carry their full key vector in the
    * `carriers` columns, laid out as [[pack]] does. */
  final case class Uncapped(nBands: Int, keyBits: Int, carriers: Seq[String]) extends Cap

  /** One row per band: the `keep` columns plus (band, `key`) = (b, keys(b)). */
  def explodeBands(rows: DataFrame, keep: Seq[String], key: String,
                   keys: Seq[Column]): DataFrame = {
    val bands = keys.zipWithIndex.map { case (k, b) => struct(lit(b).as("band"), k.as(key)) }
    rows.select(keep.map(col) :+ explode(array(bands: _*)).as("bb"): _*)
      .select(keep.map(col) :+ col("bb.band") :+ col(s"bb.$key"): _*)
  }

  /** Band keys packed `64 / keyBits` to a long: band b's key at bits
    * keyBits·(b mod k) of carrier b div k, k = 64 / keyBits. A signature
    * whose bands are its own bit slices is already its own carrier. */
  def pack(keys: Array[Int], keyBits: Int): Array[Long] = {
    val k = 64 / keyBits
    val out = new Array[Long]((keys.length + k - 1) / k)
    var b = 0
    while (b < keys.length) { out(b / k) |= keys(b).toLong << (keyBits * (b % k)); b += 1 }
    out
  }

  /** Index of the first band whose key agrees between sides `a` and
    * `b`: one flat CASE over the carriers' XOR (band b agrees iff its
    * keyBits bits are zero) — codegen'd, no higher-order function or
    * UDF. Never NULL on joined rows: the joined band itself agrees. */
  private def firstAgree(u: Uncapped): Column = {
    val k = 64 / u.keyBits
    def agrees(b: Int) = {
      val c = u.carriers(b / k)
      shiftright(col(s"a.$c").bitwiseXOR(col(s"b.$c")), u.keyBits * (b % k))
        .bitwiseAND(lit((1L << u.keyBits) - 1)) === 0L
    }
    (1 until u.nBands).foldLeft(when(agrees(0), lit(0)))((c, b) => c.when(agrees(b), lit(b)))
  }

  /** Drops the rows of buckets on `keys` holding more than `maxDf` rows. */
  def capHot(rows: DataFrame, keys: Seq[String], maxDf: Int): DataFrame = {
    val ok = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
      .select(keys.map(col): _*)
    rows.join(ok, keys)
  }

  /** Candidate pairs (a_id, b_id, out...) from band rows holding `id`,
    * `band`, `key` and the payload `out` reads through the `a.`/`b.`
    * aliases (evaluated before the collapse). Pairs are a.id < b.id, or
    * both orders with `bothOrders` (a per-query top-k). */
  def candidatePairs(rows: DataFrame, id: String, key: String, cap: Cap,
                     bothOrders: Boolean = false)(out: Column*): DataFrame = {
    val buckets = cap match {
      case Capped(maxDf) => capHot(rows, Seq("band", key), maxDf)
      case _: Uncapped => rows
    }
    val (aId, bId) = (col(s"a.$id"), col(s"b.$id"))
    val joined = buckets.as("a").join(buckets.as("b"),
      col("a.band") === col("b.band") && col(s"a.$key") === col(s"b.$key") &&
        (if (bothOrders) aId =!= bId else aId < bId))
    val pairs = aId.as("a_id") +: bId.as("b_id") +: out
    cap match {
      case _: Capped => joined.select(pairs: _*).distinct()
      case u: Uncapped => joined.filter(firstAgree(u) === col("a.band")).select(pairs: _*)
    }
  }

  /** Hamming near-dup pairs (a_id, b_id, hamming) over a 64-bit
    * signature: it splits into `chunks` equal chunks and each band key
    * concatenates one combination of `perKey` of them. A pair within
    * hamming h differs in at most h chunks, so banding is complete
    * exactly while h <= chunks - perKey (SimHash 4×1 → 3, pHash 8×2 →
    * 6); past that it would silently miss pairs, hence the require. */
  def hammingPairs(sigs: DataFrame, id: String, sig: String, chunks: Int, perKey: Int,
                   maxHamming: Int, maxDf: Int): DataFrame = {
    require(maxHamming <= chunks - perKey, s"$chunks-chunk banding with $perKey chunk(s) " +
      s"per key is only complete for hamming <= ${chunks - perKey}, got $maxHamming")
    val width = 64 / chunks
    def chunk(c: Int) = shiftright(col(sig), c * width).bitwiseAND(lit((1L << width) - 1))
    val keys = (0 until chunks).combinations(perKey).map(_.zipWithIndex.map {
      case (c, 0) => chunk(c)
      case (c, j) => shiftleft(chunk(c), j * width)
    }.reduce(_.bitwiseOR(_))).toSeq
    // bit_count(a XOR b) stays inside whole-stage codegen, unlike a UDF
    candidatePairs(explodeBands(sigs, Seq(id, sig), "key", keys), id, "key", Capped(maxDf))(
      bit_count(col(s"a.$sig").bitwiseXOR(col(s"b.$sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
