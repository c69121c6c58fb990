package graft.ops

import graft.SparkTestBase
import graft.core.Imaging

/** Exact verification for the operators whose driver-side check is
  * rows-only (hash-based / approximate): MinHash-LSH, SimHash, SRP-LSH
  * ANN, multimodal features. Controlled corpora with known near-dups
  * are written to temp parquet and the ops run over them. */
class OpsSpec extends SparkTestBase {

  /** A doc corpus with planted near-duplicates: pairs (2k, 2k+1) share
    * all but one word; singles are distinct. */
  private lazy val docsDir: String = {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("docs")
    // vocab of 500; word choice hashed per (seed, position) so different
    // seeds give nearly-disjoint shingle sets
    def text(seed: Int, n: Int): String =
      (0 until n).map(i =>
        "w" + math.floorMod(graft.core.XxHash64.mix(seed.toLong, i.toLong), 500L)).mkString(" ")
    val rows = (0 until 40).map { k =>
      val base = text(k / 2, 30)
      val t = if (k % 2 == 0) base else base + " extraword"
      (k.toLong, t, "en", s"src${k % 4}", t.length.toLong)
    } ++ (40 until 60).map { k =>
      val t = text(k + 100, 25)
      (k.toLong, t, "en", s"src${k % 4}", t.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** Embeddings with planted clusters: 10 clusters x 8 near-identical
    * members + 20 random singles. */
  private lazy val embDir: String = {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("emb")
    def vec(seed: Long): Array[Float] =
      Array.tabulate(64)(d => (((graft.core.XxHash64.mix(seed, d.toLong) % 1000L) / 500.0) - 1.0).toFloat)
    def jitter(v: Array[Float], seed: Long): Array[Float] =
      v.zipWithIndex.map { case (x, d) =>
        x + (((graft.core.XxHash64.mix(seed * 7919L, d.toLong) % 100L) / 5000.0)).toFloat }
    val rows = (0 until 10).flatMap { c =>
      val center = vec(c.toLong)
      (0 until 8).map(m => ((c * 8 + m).toLong, jitter(center, (c * 8 + m).toLong).toSeq, c))
    } ++ (80 until 100).map(k => (k.toLong, vec(k * 131L).toSeq, -1))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  // -------------------------------------------------------------- dedup

  test("minhash LSH finds the planted near-dup pairs with exact inter/uni") {
    val rows = Dedup.minhashNearDup(spark, docsDir, minJaccardPct = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val res = rows.toSet
    // `.toSet` would hide a pair emitted twice (a wrong collapse rule)
    assert(rows.length == res.size, s"duplicate pairs: ${rows.diff(rows.distinct).toSeq}")
    // planted pairs (2k, 2k+1) share a long prefix => jaccard >= 0.5
    val expected = (0 until 40 by 2).map(k => (k.toLong, (k + 1).toLong)).toSet
    assert(expected.subsetOf(res), s"missing: ${expected -- res}")
    // soundness vs an in-test exact jaccard over word-3-gram sets
    // (NO source blocking, matching minhashNearDup's scope)
    val texts = spark.read.parquet(s"$docsDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").sliding(3).map(_.mkString(" ")).toSet)
      .toMap
    res.foreach { case (a, b) =>
      val (sa, sb) = (texts(a), texts(b))
      val inter = (sa & sb).size; val uni = (sa | sb).size
      assert(inter * 100 >= uni * 50, s"unsound pair ($a,$b): $inter/$uni")
    }
  }

  test("simhash chunk-banding catches ALL pairs within hamming 3 (brute check)") {
    val sigs = Dedup.simhashDf(spark, docsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val rows = Dedup.simhashNearDup(spark, docsDir, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val res = rows.toSet
    assert(rows.length == res.size, s"duplicate pairs: ${rows.diff(rows.distinct).toSeq}")
    assert(res == brute, s"banding diff: missing=${brute -- res} extra=${res -- brute}")
    assert(brute.nonEmpty, "test corpus should contain simhash near-dups")
    // 4 single-chunk bands are complete only up to hamming 3: a pair at
    // hamming 4 can differ in every chunk, so a wider search must fail
    // loudly instead of silently missing pairs
    val spark0 = spark
    import spark0.implicits._
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupFromSigs(sigs.toSeq.toDF("doc_id", "simhash"), maxHamming = 4)
    }
  }

  test("ngram jaccard df cap drops hot shingles from the join only (sizes keep them)") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("hotdocs")
    // one stop-shingle ("x y z") in EVERY doc; each pair (2k,2k+1) also
    // shares 4 private shingles => 6 shingle-words of private overlap
    def priv(k: Int, i: Int) = s"p${k}_$i"
    val rows = (0 until 8).map { d =>
      val k = d / 2
      (d.toLong, s"x y z ${priv(k, 0)} ${priv(k, 1)} ${priv(k, 2)} ${priv(k, 3)} end$d", "en", "s0", 10L)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // maxDf=2: the stop-shingle (df=8) is dropped from the join; each
    // pair's private shingles (df=2) survive. In-test brute oracle with
    // the SAME cap over word-3-grams:
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val all = rows.map(r => r._1 -> sh(r._2)).toMap
    val df = all.values.flatten.groupBy(identity).map { case (s, o) => s -> o.size }
    val expected = (for {
      a <- all.keys; b <- all.keys if a < b
      inter = (all(a) & all(b)).count(s => df(s) <= 2)
      if inter >= 3
    } yield (a, b, inter.toLong, (all(a).size + all(b).size - inter).toLong)).toSet
    val res = Dedup.ngramJaccard(spark, dir, minInter = 3, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(res == expected, s"missing=${expected -- res} extra=${res -- expected}")
    assert(expected.nonEmpty, "cap corpus must still produce pairs")
  }

  test("decontamination reports planted cross-source duplicates exactly") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("contam")
    // "benchmark" source b shares 3 docs with corpus source a (one of
    // them duplicated twice in a -> 2 pairs from one fingerprint),
    // and 1 doc with source c; a<->c share nothing
    val rows = Seq(
      (0L, "shared one", "en", "a", 1L), (1L, "shared one", "en", "a", 1L),
      (2L, "shared two", "en", "a", 1L), (3L, "only in a", "en", "a", 1L),
      (10L, "shared one", "en", "b", 1L), (11L, "shared two", "en", "b", 1L),
      (12L, "b and c", "en", "b", 1L), (13L, "only in b", "en", "b", 1L),
      (20L, "b and c", "en", "c", 1L), (21L, "only in c", "en", "c", 1L))
    val corpus = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    corpus.write.parquet(s"$dir/documents.parquet")
    val res = Dedup.decontaminateCorpus(corpus).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // a-b: "shared one" (2 copies in a x 1 in b = 2 pairs) + "shared
    // two" (1 pair) = 3 pairs over 2 distinct fingerprints
    assert(res == Map(("a", "b") -> ((3L, 2L)), ("b", "c") -> ((1L, 1L))), res.toString)
    // the driver entry runs over benchCorpus: every doc_id % 7 == 0 doc
    // (0 and 21 here) is relabeled 'zbench', so each natural source
    // holding one gains exactly its cross-boundary cells. doc 0's fp
    // ("shared one") exists twice in a + once in b; doc 21's ("only in
    // c") once in c.
    val bench = Dedup.decontaminate(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(bench == Map(
      ("a", "b") -> ((3L, 2L)), ("b", "c") -> ((1L, 1L)),
      ("a", "zbench") -> ((2L, 1L)), ("b", "zbench") -> ((1L, 1L)),
      ("c", "zbench") -> ((1L, 1L))), bench.toString)
  }

  test("cluster labels resolve multi-hop chains, triangles and singletons") {
    val spark0 = spark
    import spark0.implicits._
    // chain 1-2-3-4-5 (diameter 4: needs >1 propagation round),
    // triangle 10-11-12, pair 20-21, singletons 30/31
    val nodes = (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L, 21L, 30L, 31L))
      .toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("a_id", "b_id")
    val got = Dedup.clusterLabels(nodes, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // driverMaxEdges = -1 forces the distributed pointer-jump loop;
    // both paths must produce the identical fixpoint
    val gotDist = Dedup.clusterLabels(nodes, pairs, driverMaxEdges = -1L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == gotDist, s"driver and distributed paths disagree: $got vs $gotDist")
    val want = Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 3L -> ((1L, false)),
      4L -> ((1L, false)), 5L -> ((1L, false)),
      10L -> ((10L, true)), 11L -> ((10L, false)), 12L -> ((10L, false)),
      20L -> ((20L, true)), 21L -> ((20L, false)),
      30L -> ((30L, true)), 31L -> ((31L, true)))
    assert(got == want, got.toString)
  }

  test("curation pipeline: each stage drops exactly its planted offender") {
    val spark0 = spark
    import spark0.implicits._
    // every bigram distinct (each clause's tokens are indexed), so the
    // repetition gate passes; "the"/"and"/"a" give the stopword hits
    def good(n: Int) = (0 until n).map(i => s"the w$i and x$i a y$i").mkString(" ")
    val rows = Seq(
      (0L, good(10), "a"),                    // survives (60 tokens, stopwords, varied)
      (1L, good(10), "a"),                    // exact dup of 0 -> dedup drops (keep 0)
      (2L, "too short", "a"),                 // quality: < 20 tokens
      (3L, Seq.fill(30)("word").mkString(" "), "a"), // quality: no stopwords; also repetitive
      (4L, "the spam " * 15 + good(2), "a"))  // stopwords+long but top bigram dominates
    val corpus = rows.toDF("doc_id", "text", "source")
    val kept = Curation.curateCorpus(corpus).collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L), s"kept $kept")
  }

  test("distributed components converge in O(log diameter) rounds on a long chain") {
    val spark0 = spark
    import spark0.implicits._
    // a 129-node chain (diameter 128): plain min-label propagation
    // needs ~128 rounds; with pointer jumping the distance to the
    // component min halves per round, so ~log2(128)+slack. The bound
    // evidences the convergence claim the operator's scale story
    // rests on, not just its final labels.
    val n = 129
    val nodes = (0 until n).map(_.toLong).toDF("doc_id")
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("a_id", "b_id")
    val got = Dedup.clusterLabels(nodes, pairs, driverMaxEdges = -1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0 until n).map(_.toLong -> 0L).toMap, "chain must collapse to node 0")
    val rounds = Dedup.lastDistributedRounds.get()
    assert(rounds <= 12, s"pointer jumping should need ~log2(128)+slack rounds, took $rounds")
  }

  test("decontaminate fp cap: a planted mega-duplicate binds, real contamination survives") {
    val spark0 = spark
    import spark0.implicits._
    // one fingerprint duplicated 6x in a + 6x in b (36 pairs uncapped),
    // plus one honest shared doc; cap 10 < 12 drops the mega fp from
    // the join entirely while the honest pair is untouched
    val rows = (0 until 6).map(k => (k.toLong, "mega dup", "a")) ++
      (10 until 16).map(k => (k.toLong, "mega dup", "b")) ++
      Seq((20L, "honest shared", "a"), (21L, "honest shared", "b"))
    val corpus = rows.toDF("doc_id", "text", "source")
    val uncapped = Dedup.decontaminateCorpus(corpus, maxDf = 1000).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(uncapped == Map(("a", "b") -> ((37L, 2L))), uncapped.toString)
    val capped = Dedup.decontaminateCorpus(corpus, maxDf = 10).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // candidate volume is BOUNDED by the cap: the 36 mega pairs are
    // gone, only the honest fingerprint's single pair remains
    assert(capped == Map(("a", "b") -> ((1L, 1L))), capped.toString)
  }

  test("ngram decontamination catches a planted cross-source paraphrase") {
    val spark0 = spark
    import spark0.implicits._
    // doc 10 (src b) paraphrases doc 0 (src a): same 8-word body with
    // one word swapped mid-sentence -> shares the prefix + suffix
    // 3-gram runs but NOT all; doc 1/11 are unrelated (disjoint vocab);
    // exact fingerprints all differ, so exact decontamination sees none
    val rows = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight", "a"),
      (1L, "alpha beta gamma delta epsilon zeta", "a"),
      (10L, "the quick brown fox leaps over the lazy dog tonight", "b"),
      (11L, "uno dos tres cuatro cinco seis", "b"))
    val corpus = rows.toDF("doc_id", "text", "source")
    assert(Dedup.decontaminateCorpus(corpus).collect().isEmpty)
    val res = Dedup.decontaminateNgramCorpus(corpus, minShared = 3).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)), r.getLong(4))).toMap
    // shared distinct 3-grams: "the quick brown", "quick brown fox"
    // (prefix run) + "over the lazy", "the lazy dog", "lazy dog
    // tonight" (suffix run) = 5
    assert(res == Map(("a", "b", 0L, 10L) -> 5L), res.toString)
  }

  test("repetition ratio: planted repeated bigram dominates, short docs absent") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("repet")
    val rows = Seq(
      (0L, "spam spam spam spam spam", "en", "s0", 1L), // "spam spam" x4 of 4
      (1L, "all words here differ fully", "en", "s0", 1L), // every bigram once
      (2L, "single", "en", "s0", 1L)) // <2 tokens -> absent
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val res = TextOps.repetition(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(res == Map(0L -> ((4L, 4L)), 1L -> ((1L, 4L))), res.toString)
  }

  test("semdedup collapses each planted embedding cluster to one representative") {
    val res = Dedup.semDedup(spark, embDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(res.size == 100)
    // a planted cluster's members are mutually near-identical, so the
    // component NEVER splits them (two random centers MAY merge at
    // cos >= 0.4 — cluster 0 and 1 do — so equality-to-own-min would
    // over-assert)
    (0 until 10).foreach { c =>
      val ids = (c * 8 until c * 8 + 8).map(_.toLong)
      val labels = ids.map(res(_)._1).toSet
      assert(labels.size == 1, s"cluster $c split: $labels")
    }
    // dedup invariants: label = component min, exactly one keep per
    // component and it is the labeled representative
    res.groupBy(_._2._1).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl, s"component $lbl label is not its min id")
      assert(members.count(_._2._2) == 1 && members(lbl)._2, s"component $lbl keeps")
    }
    // at least one real collapse happened (non-vacuous)
    assert(res.count(_._2._2) < 100)
  }

  test("dup spans: interval union, cross-doc only, full coverage for exact copies") {
    val spark0 = spark
    import spark0.implicits._
    val corpus = Seq(
      (0L, "x1 x2 x3 x4 x5"),            // all 3 windows shared with doc 2 -> full coverage
      (1L, "x1 x2 x3 zz yy"),            // only the first window shared -> 3 of 5
      (2L, "x1 x2 x3 x4 x5"),            // exact copy of doc 0 -> full coverage
      (3L, "q w e r t y"),               // nothing shared -> 0
      (4L, "p p p p"),                   // intra-doc repeat only (ddf=1) -> 0
      (5L, "s t"),                       // shorter than the window -> 0
      (6L, "x1 x2 x3 g1 g2 g3 g4 x1 x2 x3")) // two disjoint islands -> 3 + 3
      .toDF("doc_id", "text")
    val res = Dedup.dupSpansOf(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(res == Map(
      0L -> ((5L, 5L)), 1L -> ((5L, 3L)), 2L -> ((5L, 5L)),
      3L -> ((6L, 0L)), 4L -> ((4L, 0L)), 5L -> ((2L, 0L)),
      6L -> ((10L, 6L))), res.toString)
  }

  test("line dedup: df>=3 dropped, df=2 kept, intra-doc repeats count once, empty doc survives") {
    val spark0 = spark
    import spark0.implicits._
    val corpus = Seq(
      (0L, "alpha\nnav\nbeta\npair"),   // nav (df=4) dropped, rest kept in order
      (1L, "nav\npair\ndelta"),         // pair shared by exactly 2 docs: kept
      (2L, "nav\nepsilon"),
      (3L, "nav\nnav\nnav"),            // fully boilerplate: survives, clean_text = ''
      (4L, "solo\nsolo\nsolo"),         // 4 occurrences but only 2 DISTINCT docs: kept
      (5L, "solo"))
      .toDF("doc_id", "text")
    val res = TextOps.lineDedupOf(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(res == Map(
      0L -> (("alpha\nbeta\npair", 3L, 1L)),
      1L -> (("pair\ndelta", 2L, 1L)),
      2L -> (("epsilon", 1L, 1L)),
      3L -> (("", 0L, 3L)),
      4L -> (("solo\nsolo\nsolo", 3L, 0L)),
      5L -> (("solo", 1L, 0L))), res.toString)
  }

  test("PII redaction: all three families redacted in order, counts on original text") {
    val spark0 = spark
    import spark0.implicits._
    val corpus = Seq(
      (0L, "reach bob@x.co or 1.2.3.4 tel 555-1234 ok"),
      (1L, "no pii in this row at all"),
      (2L, "a@b.io then c.d-e@f.org.uk twice"),          // two emails, one with dots/dashes
      (3L, "ip 10.0.0.255 and 192.168.1.1 but 555-12 is too short"))
      .toDF("doc_id", "text")
    val res = TextOps.piiRedactOf(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(res == Map(
      0L -> (("reach <EMAIL> or <IP> tel <PHONE> ok", 1L, 1L, 1L)),
      1L -> (("no pii in this row at all", 0L, 0L, 0L)),
      2L -> (("<EMAIL> then <EMAIL> twice", 2L, 0L, 0L)),
      3L -> (("ip <IP> and <IP> but 555-12 is too short", 0L, 2L, 0L))), res.toString)
  }

  test("sequence packing chains offsets across partitions of ONE giant source") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("pack")
    // a single source with 1000 docs: the range partitioner MUST split
    // it across tasks (local[4]), so every partition boundary
    // exercises the broadcast prefix-offset chaining
    def nTokens(i: Long): Long = 1 + (i % 7)
    val rows = (0L until 1000L).map(i =>
      (i, (0L until nTokens(i)).map(j => s"w$j").mkString(" "), "en", "big", 1L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.sequencePacking(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    var acc = 0L
    (0L until 1000L).foreach { i =>
      val n = nTokens(i)
      assert(got(i) == ((n, acc)), s"doc $i: got ${got(i)}, want ($n, $acc)")
      acc += n
    }
  }

  test("packed windows tile every training window exactly (loader layout)") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("packwin")
    // two sources; doc lengths chosen so docs straddle 2048-token
    // boundaries (1500 tokens each -> every 2048-window crosses a doc)
    val rows = (0L until 40L).map { i =>
      val src = if (i < 25) "sa" else "sb"
      (i, (0L until 1500L).map(j => "t").mkString(" "), "en", src, 1L)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val spans = TextOps.packWindows(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    // per (source, window): spans sum to exactly 2048 tokens, except
    // the final window of each source (the remainder)
    val bySrcWin = spans.groupBy(s => (s._2, s._1)).view.mapValues(_.map(_._5).sum).toMap
    val totals = Map("sa" -> 25L * 1500, "sb" -> 15L * 1500)
    totals.foreach { case (src, total) =>
      val lastWin = (total - 1) >> 11
      (0L to lastWin).foreach { w =>
        val expect = if (w == lastWin) total - (lastWin << 11) else 2048L
        assert(bySrcWin((src, w)) == expect, s"$src window $w: ${bySrcWin((src, w))} != $expect")
      }
      assert(!bySrcWin.contains((src, lastWin + 1)))
    }
    // per doc: spans sum to n_tokens and are contiguous doc-relative
    spans.groupBy(s => (s._2, s._3)).foreach { case ((src, id), ss) =>
      val ordered = ss.sortBy(_._1)
      assert(ordered.map(_._5).sum == 1500L, s"$src/$id spans don't cover the doc")
      ordered.foldLeft(0L) { case (pos, (_, _, _, start, len)) =>
        assert(start == pos, s"$src/$id span starts at $start, expected $pos"); pos + len
      }
    }
  }

  test("cluster sample is the exact per-cluster bottom-quota, quota binds per cluster") {
    val dir = "/root/testdata/sf0.001"
    // quota 10: the densest sf0.001 cluster holds 38 vectors, so the
    // driver default of 40 would never truncate here (at the driver's
    // sf0.01 it does — ~125/cluster)
    val quota = 10
    val got = Sampling.clusterSample(spark, dir, quota = quota).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // driver-side reference: per cluster, sort the dump by (h, vec_id)
    // and take the first `quota`
    val all = Sampling.clusterSampleAux(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val want = all.groupBy(_._2).values.flatMap { rows =>
      rows.sortBy(t => (t._3, t._1)).take(quota).zipWithIndex
        .map { case ((id, c, _), i) => (id, c, (i + 1).toLong) }
    }.toSet
    assert(got == want)
    // the quota binds (dense clusters truncated) and every realized
    // cluster is represented — the diversity property
    val byCluster = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byCluster.values.max == quota, "quota never bound")
    val allClusters = Sampling.clusterSampleAux(spark, dir)
      .select("cluster").distinct().collect().map(_.getInt(0)).toSet
    assert(byCluster.keySet == allClusters, "a realized cluster lost representation")
  }

  test("lm oov: planted gibberish scores 1000, in-model docs 0, mixed exact ratio") {
    val spark0 = spark
    import spark0.implicits._
    // 6 docs of in-model text (ddf 7 >= MinLmDf), one all-OOV doc, one
    // mixed doc, one sub-bigram doc (absent from the output)
    val rows =
      (10L to 15L).map(i => (i, "a b a b")) ++
        Seq((20L, "x q z q"), (21L, "a b a b x q"), (22L, "solo"))
    val got = TextOps.lmOovOf(rows.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.size == 8, s"sub-bigram doc must be absent: $got")
    (10L to 15L).foreach(i => assert(got(i) == ((3L, 0L, 0L)), s"doc $i"))
    assert(got(20L) == ((3L, 3L, 1000L)), "all-OOV doc")
    // mixed: 5 bigrams, 'b x' and 'x q' (ddf 1 and 2) OOV -> 2000 div 5
    assert(got(21L) == ((5L, 2L, 400L)), "mixed doc")
  }

  test("shard assign: two-phase positions equal the per-shard window, shards balanced") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val dir = tmpDir("shard")
    // one giant source -> many windows, so every shard spans several
    // range partitions at the forced parallelism (the packing
    // regression's lesson: aligned bounds mask offset bugs)
    val rows = (0L until 400L).map(i =>
      (i, (0L until 600L).map(_ => "t").mkString(" "), "en", "big", 1L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.shardAssign(spark, dir, numParts = 16).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(4), r.getLong(5))).toMap
    // oracle-in-Spark: the windowed formulation over the SAME dump
    val w = Window.partitionBy($"shard").orderBy($"h", $"source", $"window_id")
    val want = TextOps.shardWindows(spark, dir)
      .withColumn("shard", $"h" % TextOps.NShards.toLong)
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("shard"), r.getAs[Long]("pos"))).toMap
    assert(got == want)
    // 400*600/2048 ~ 117 windows over 8 shards: all realized, and each
    // shard's positions are exactly 0..n-1
    val byShard = got.values.groupBy(_._1)
    assert(byShard.size == TextOps.NShards, s"shards realized: ${byShard.size}")
    byShard.foreach { case (sh, ps) =>
      assert(ps.map(_._2).toSeq.sorted == (0L until ps.size).toSeq, s"shard $sh gapped")
    }
  }

  test("exact dedup counts identical normalized texts") {
    val spark0 = spark
    import spark0.implicits._
    val copies = Dedup.exactDedup(spark, docsDir).agg(org.apache.spark.sql.functions.sum($"copies")).as[Long].head()
    assert(copies == 60) // every doc accounted for exactly once
  }

  // --------------------------------------------------------- similarity

  test("SRP-LSH ANN has high recall on clustered embeddings") {
    val brute = Similarity.bruteTopK(spark, embDir, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshRows = Similarity.lshTopK(spark, embDir, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val lsh = lshRows.toSet
    assert(lshRows.length == lsh.size, s"duplicate pairs: ${lshRows.diff(lshRows.distinct).toSeq}")
    // restrict recall to cluster members (0..79): their true neighbors
    // are near-identical vectors, which SRP buckets must group
    val bruteC = brute.filter { case (a, b) => a < 80 && b < 80 }
    val lshC = lsh.filter { case (a, b) => a < 80 && b < 80 }
    val recall = (bruteC & lshC).size.toDouble / bruteC.size
    assert(recall >= 0.8, s"recall=$recall (${(bruteC & lshC).size}/${bruteC.size})")
  }

  test("IVF ANN has high recall on clustered embeddings") {
    val brute = Similarity.bruteTopK(spark, embDir, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, embDir, k = 5, nCentroids = 12, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteC = brute.filter { case (a, b) => a < 80 && b < 80 }
    val ivfC = ivf.filter { case (a, b) => a < 80 && b < 80 }
    val recall = (bruteC & ivfC).size.toDouble / bruteC.size
    assert(recall >= 0.8, s"recall=$recall (${(bruteC & ivfC).size}/${bruteC.size})")
  }

  test("IVF partitioned probe equals the equi-join IVF for its query batch") {
    val full = Similarity.ivfTopK(spark, embDir, k = 5, nCentroids = 12, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val part = Similarity.ivfPartitionedTopK(spark, embDir, k = 5,
        nCentroids = 12, nProbe = 4, nQueries = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batchIds = part.map(_._1)
    assert(batchIds.nonEmpty && batchIds.size <= 40)
    // same centroids + same probe rule + same candidates => identical
    // rows for the batch; only the I/O layout (inverted lists + pruned
    // scan) differs
    assert(part == full.filter(t => batchIds.contains(t._1)),
      s"diff=${(part diff full).take(5)} / ${(full.filter(t => batchIds.contains(t._1)) diff part).take(5)}")
  }

  test("cosine near-dup finds exactly the planted clusters at 0.9") {
    val rows = Similarity.cosineNearDup(spark, embDir, minCosPct = 90)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val res = rows.toSet
    assert(rows.length == res.size, s"duplicate pairs: ${rows.diff(rows.distinct).toSeq}")
    // all intra-cluster pairs (8 choose 2) * 10 clusters
    val expected = (0 until 10).flatMap { c =>
      for (i <- 0 until 8; j <- i + 1 until 8) yield ((c * 8 + i).toLong, (c * 8 + j).toLong)
    }.toSet
    assert(res == expected,
      s"missing=${(expected -- res).take(5)} extra=${(res -- expected).take(5)}")
  }

  test("cosine near-dup SRP routing equals the exact cross join (0.4 and 0.9)") {
    Seq(40, 90).foreach { pct =>
      val lsh = Similarity.cosineNearDup(spark, embDir, minCosPct = pct)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Similarity.cosineNearDupExact(spark, embDir, minCosPct = pct)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh == exact,
        s"pct=$pct missing=${(exact -- lsh).take(5)} extra=${(lsh -- exact).take(5)}")
    }
  }

  test("cosine near-dup LSH equals the exact kernel on the driver's sf0.001 corpus") {
    // ADVICE r2 (medium): the LSH banding's completeness must not rest
    // on one lucky corpus draw. This gate re-checks equality against
    // the kernel-exact all-pairs on the ACTUAL driver testdata, so a
    // regenerated corpus that exposes a banding miss fails CI here —
    // before the driver's oracle ever sees it. (The DuckDB oracles are
    // corpus-independent by construction since round 3: q_cosine_neardup
    // replays its own banding, q_cosine_exact carries the all-pairs SQL.)
    val dir = "/root/testdata/sf0.001"
    val lsh = Similarity.cosineNearDup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosineExact(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact,
      s"missing=${(exact -- lsh).take(5)} extra=${(lsh -- exact).take(5)}")
  }

  test("PQ codes match an independent argmin over the published codebook") {
    val cb = Quantization.codebooks(spark, embDir) // [subspace][code][dim] floats
    val vecs = spark.read.parquet(s"$embDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val m = Quantization.M; val sd = Quantization.SubDim
    val expect = (for {
      (id, v) <- vecs; s <- 0 until m
    } yield {
      // independent scoring: FULL squared L2 in double (not the
      // kernel's cc-2xc key) — argmin must agree because ||x||^2 is
      // constant per (vector, subspace)... up to float rounding, which
      // the tie rule (lowest code) makes observable only on EXACT dk
      // ties; recompute with the kernel's own key to compare exactly
      val scored = cb(s).zipWithIndex.map { case (c, code) =>
        var cc = 0.0; var xc = 0.0; var i = 0
        while (i < sd) {
          cc += c(i).toDouble * c(i).toDouble
          xc += v(s * sd + i).toDouble * c(i).toDouble
          i += 1
        }
        (cc - 2.0 * xc, code)
      }
      ((id, s), scored.min._2)
    }).toMap
    val got = Quantization.pqCodes(spark, embDir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(got.size == vecs.length * m, "one code per (vector, subspace)")
    assert(got.values.forall(c => c >= 0 && c < Quantization.K))
    assert(got == expect,
      s"diff=${(expect.toSet diff got.toSet).take(3)} / ${(got.toSet diff expect.toSet).take(3)}")
  }

  test("PQ Lloyd training reduces quantization distortion vs the raw seed codebook") {
    def distortion(cb: Array[Array[Array[Float]]]): Double = {
      val vecs = spark.read.parquet(s"$embDir/embeddings.parquet")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val sd = Quantization.SubDim
      vecs.map { v =>
        (0 until Quantization.M).map { s =>
          cb(s).map { c =>
            var d = 0.0; var i = 0
            while (i < sd) { val e = v(s * sd + i).toDouble - c(i); d += e * e; i += 1 }
            d
          }.min
        }.sum
      }.sum
    }
    val seed = distortion(Quantization.train(spark, embDir, iters = 0))
    val trained = distortion(Quantization.train(spark, embDir, iters = Quantization.LloydIters))
    assert(trained < seed * 0.9,
      s"Lloyd did not improve quantization error: seed=$seed trained=$trained")
  }

  test("PQ degrades to a smaller codebook on a corpus with fewer than K vectors") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("pqtiny")
    def vec(seed: Long): Seq[Float] =
      Array.tabulate(64)(d => (((graft.core.XxHash64.mix(seed, d.toLong) % 1000L) / 500.0) - 1.0).toFloat).toSeq
    (0L until 5L).map(i => (i, vec(i * 17L), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val codes = Quantization.pqCodes(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(codes.length == 5 * Quantization.M)
    assert(codes.forall(_._3 < 5), "codes must stay inside the 5-seed codebook")
    // probe 0 ranks the 4 others (vec_id % 31 == 0 -> only vec 0)
    val ann = Quantization.pqAnn(spark, dir).collect()
    assert(ann.map(_.getLong(0)).toSet == Set(0L) && ann.length == 4)
  }

  test("PQ ADC top-k recalls the planted clusters and keeps rank invariants") {
    val res = Quantization.pqAnn(spark, embDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // probes: vec_id % 31 == 0 over 0..99 -> 0, 31, 62, 93
    val byProbe = res.groupBy(_._1)
    assert(byProbe.keySet == Set(0L, 31L, 62L, 93L))
    byProbe.foreach { case (a, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to Quantization.TopK), s"probe $a ranks")
      assert(!rows.exists(_._2 == a), s"probe $a returned itself")
    }
    // clustered probes (0 in cluster 0, 31 in cluster 3, 62 in cluster
    // 7) must retrieve mostly their 7 same-cluster siblings within the
    // top 10 of a 99-candidate scan
    Seq(0L -> 0, 31L -> 3, 62L -> 7).foreach { case (probe, c) =>
      val siblings = (c * 8 until c * 8 + 8).map(_.toLong).toSet - probe
      val hit = byProbe(probe).map(_._2).count(siblings)
      assert(hit >= 5, s"probe $probe recalled only $hit/7 cluster-$c siblings")
    }
  }

  test("textrank equals a literal integer PageRank replay; hub dominates on a star") {
    val spark0 = spark
    import spark0.implicits._
    // star: hub adjacent to a,b,c,d (each twice via mirroring); plus a
    // disconnected 2-chain and a one-word doc (never enters the graph)
    val corpus = Seq(
      (0L, "hub a hub b hub c hub d"),
      (1L, "x y"),
      (2L, "alone"),
      (3L, "p p p")) // only self-pairs -> no edges
      .toDF("doc_id", "text")
    // literal replay of the operator's integer semantics: the raw
    // adjacency of doc 0 is (hub,a),(a,hub),(hub,b),(b,hub),(hub,c),
    // (c,hub),(hub,d) — mirroring then doubles every edge
    val adjacent = Seq("hub" -> "a", "a" -> "hub", "hub" -> "b", "b" -> "hub",
      "hub" -> "c", "c" -> "hub", "hub" -> "d", "x" -> "y")
    val mirrored = adjacent ++ adjacent.map(_.swap)
    val w = mirrored.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val outw = w.toSeq.groupBy(_._1._1).map { case (s, es) => s -> es.map(_._2).sum }
    val nodes = w.keys.map(_._1).toSet
    var r = nodes.map(_ -> Ranking.Scale).toMap
    (1 to Ranking.Iters).foreach { _ =>
      val c = w.toSeq.map { case ((s, d), wt) => d -> (r(s) * wt) / outw(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      r = nodes.map(n => n -> (Ranking.Teleport + (85L * c.getOrElse(n, 0L)) / 100L)).toMap
    }
    val got = Ranking.textRankOf(corpus).collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(got == r, s"got $got want $r")
    // driverMaxEdges = -1 forces the distributed per-round loop; both
    // paths must produce the identical integer fixpoint
    val gotDist = Ranking.textRankOf(corpus, driverMaxEdges = -1L).collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(gotDist == r, s"distributed path diverged: $gotDist want $r")
    // the hub receives mass from all four leaves every round
    assert(Seq("a", "b", "c", "d", "x", "y").forall(l => got("hub") > got(l)), got.toString)
    // isolated tokens never rank
    assert(!got.contains("alone") && !got.contains("p"))
  }

  // --------------------------------------------------------- multimodal

  test("image features: real decode round-trips dims, phash, luminance") {
    val imgs = Multimodal.syntheticImages(spark, 32).cache()
    val feats = Multimodal.imageFeatures(imgs).collect()
    assert(feats.length == 32)
    val declared = imgs.select("image_id", "w", "h", "fmt", "phash")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4))).toMap
    feats.foreach { r =>
      val id = r.getString(0)
      val (w, h, fmt, phash) = declared(id)
      assert(r.getInt(1) == w && r.getInt(2) == h)
      val decodedPhash = r.getLong(5)
      if (fmt == "png") assert(decodedPhash == phash, s"$id png phash")
      else assert(Imaging.hamming(decodedPhash, phash) <= 4, s"$id jpeg phash drift")
      val lum = r.getDouble(4)
      assert(lum > 20 && lum < 235, s"$id mean_lum=$lum")
    }
  }

  test("audio features: real javax.sound decode round-trips exact features") {
    val feats = Audio.audioFeatures(Audio.syntheticAudio(spark, 24)).collect()
    assert(feats.length == 24)
    feats.foreach { r =>
      val id = r.getString(0)
      // oracle: features computed directly from the synth samples,
      // bypassing the WAV encode/decode cycle — must match EXACTLY
      // (PCM in a RIFF container is lossless)
      val expect = Audio.features(id, Audio.synthSamples(id))
      assert(r.getInt(1) == expect.n_samples, s"$id n_samples")
      assert(r.getLong(2) == expect.duration_ms, s"$id duration")
      assert(r.getInt(3) == expect.peak, s"$id peak")
      assert(r.getLong(4) == expect.rms, s"$id rms")
      assert(r.getInt(5) == expect.zero_crossings, s"$id zc")
      assert(expect.peak > 8000, s"$id degenerate corpus (peak=${expect.peak})")
    }
  }

  test("video frame sampling: REAL animated-GIF decode, strided frames, decode-true features") {
    val spark0 = spark
    import spark0.implicits._
    val vids = Multimodal.syntheticVideos(spark, 6, nFrames = 10).cache()
    val frames = Multimodal.sampleFrames(vids, stride = 4).collect()
    // 10 frames, stride 4 -> indices 0, 4, 8 for every video
    assert(frames.length == 6 * 3, s"got ${frames.length}")
    assert(frames.map(_.getInt(1)).toSet == Set(0, 4, 8))
    // features must equal an independent decode of the same payload
    // (GIF palettizes, so the reference is the DECODED frame, not the
    // pre-encode pixels)
    val v0 = vids.filter($"video_id" === "vid0.gif")
      .select($"bytes").as[Array[Byte]].head()
    val decoded = graft.core.Imaging.decodeGifFrames(v0)
    assert(decoded.length == 10)
    val sampled0 = frames.filter(_.getString(0) == "vid0.gif")
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))).sortBy(_._1)
    val expect0 = Seq(0, 4, 8).map(f =>
      (f, decoded(f).getWidth, decoded(f).getHeight, graft.core.Imaging.aHash(decoded(f))))
    assert(sampled0.toSeq == expect0, s"$sampled0 vs $expect0")
    // undecodable payloads are dropped, not fatal
    val junk = Seq(("bad", Array.tabulate[Byte](64)(_.toByte))).toDF("video_id", "bytes")
    assert(Multimodal.sampleFrames(junk).count() == 0)
    vids.unpersist()
  }

  test("phash near-dup equals brute force at hamming <= 6 (complete AND sound)") {
    val imgs = Multimodal.syntheticImages(spark, 48).cache()
    try {
      val hashes = imgs.select("image_id", "phash").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val brute = (for {
        (a, ha) <- hashes; (b, hb) <- hashes if a < b
        if java.lang.Long.bitCount(ha ^ hb) <= 6
      } yield (a, b)).toSet
      val rows = Multimodal.phashNearDup(imgs, maxHamming = 6)
        .collect().map(r => (r.getString(0), r.getString(1)))
      val res = rows.toSet
      assert(rows.length == res.size, s"duplicate pairs: ${rows.diff(rows.distinct).toSeq}")
      assert(res == brute, s"banding diff: missing=${brute -- res} extra=${res -- brute}")
      assert(brute.nonEmpty, "test corpus should contain phash near-dups")
    } finally imgs.unpersist()
  }

  test("phash clusters: brute-force components, one keep per cluster, String ids on both paths") {
    val spark0 = spark
    import spark0.implicits._
    val imgs = Multimodal.syntheticImages(spark, 48).cache()
    val hashes = imgs.select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // brute-force connected components over the hamming<=6 pair graph
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    for { (a, ha) <- hashes; (b, hb) <- hashes if a < b
          if java.lang.Long.bitCount(ha ^ hb) <= 6 } {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    val comp = hashes.map(_._1).map(id => id -> (if (parent.contains(id)) find(id) else id)).toMap
    val compMin = comp.groupBy(_._2).map { case (_, m) => m.head._2 -> m.keys.min }
    val want = hashes.map(_._1).map(id => id -> ((compMin.getOrElse(comp(id), id), compMin.getOrElse(comp(id), id) == id))).toMap
    val got = Multimodal.phashClusters(imgs).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(got == want, s"missing=${want.toSet -- got.toSet} extra=${got.toSet -- want.toSet}")
    assert(got.values.count(!_._2) > 0, "corpus should contain at least one collapsed near-dup")
    // the distributed pointer-jump path must produce the identical
    // fixpoint on STRING ids (min/least are code-unit order — same as
    // the driver union-find's Ordering[String])
    val nodes = imgs.select($"image_id".as("doc_id"))
    val pairs = Multimodal.phashNearDup(imgs).select($"a_id", $"b_id")
    val gotDist = Dedup.clusterLabels(nodes, pairs, driverMaxEdges = -1L).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(gotDist == want, "distributed String-id path diverged from union-find")
    imgs.unpersist()
  }

  // ------------------------------------------- crawl-lake composition

  test("multimodal ops compose over the crawler's OWN images table") {
    import graft.core.SynthWeb
    import graft.crawl.{CrawlConfig, Crawler}
    // the integration contract: a user points the pipeline operators
    // at what the crawl engine wrote — no adapters, same schema
    val crawler = new Crawler(spark, CrawlConfig(
      web = SynthWeb.WebConfig(nHosts = 3, pagesPerHost = 10, imagesPerHost = 6),
      seeds = SynthWeb.seeds(3), lakeRoot = tmpDir("opslake"),
      fetchPartitions = 8, saltSlots = 2, seenBuckets = 8))
    crawler.run()
    val imgs = crawler.imagesT.readAll().cache()
    val n = imgs.count()
    assert(n > 0, "crawl produced no images")
    // real decode over the crawled binary column round-trips dims
    val feats = Multimodal.imageFeatures(imgs).collect()
    assert(feats.length == n)
    val dims = imgs.select("image_id", "w", "h").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    feats.foreach(r => assert((r.getInt(1), r.getInt(2)) == dims(r.getString(0))))
    // near-dup banding over the crawled phash column equals brute force
    val hashes = imgs.select("image_id", "phash").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 6
    } yield (a, b)).toSet
    val res = Multimodal.phashNearDup(imgs, maxHamming = 6)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(res == brute, s"missing=${brute -- res} extra=${res -- brute}")
    imgs.unpersist()
  }

  // ----------------------------------------------------------- sketches

  test("histogram percentile picks the exact rank bucket per (hour, type)") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("hist")
    def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    // hour A: values 0.5..99.5 -> buckets 0..99, one event each: p50 =
    // lowest bucket with cum*100 >= total*50 = bucket 49; p95 = 94.
    // hour B (clicks again): constant value -> both percentiles = 7,
    // proving the window key separates the histograms
    ((0 until 100).map(i => (1000L + i, t(i % 30), "click", i + 0.5)) ++
      (0 until 10).map(i => (2000L + i, t(90 + i), "click", 7.25)))
      .toDF("event_id", "ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val res = Sketches.histogramPercentile(spark, dir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    val hourA = res.keys.map(_._1).min
    val hourB = res.keys.map(_._1).max
    assert(hourA != hourB, "test must span two hours")
    assert(res((hourA, "click", 50L)) == 49L && res((hourA, "click", 95L)) == 94L, res.toString)
    assert(res((hourB, "click", 50L)) == 7L && res((hourB, "click", 95L)) == 7L, res.toString)
  }

  test("HLL register table estimates true distinct counts within sketch error") {
    val regs = Sketches.approxDistinct(spark, docsDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val truth = spark.read.parquet(s"$docsDir/documents.parquet")
      .select("source", "text").distinct().collect()
      .map(_.getString(0)).groupBy(identity).view.mapValues(_.size).toMap
    assert(truth.nonEmpty)
    truth.foreach { case (src, n) =>
      val est = Sketches.hllEstimate(
        regs.filter(_._1 == src).map(t => (t._2, t._3)).toSeq)
      assert(math.abs(est - n) <= math.max(3.0, 0.35 * n), s"$src est=$est true=$n")
    }
  }

  test("bottom-k sketch is the exact global bottom-k and estimates quantiles") {
    val sfDir = "/root/testdata/sf0.001"
    val sketch = Sketches.bottomkQuantile(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exactness: per type, the sketch is PRECISELY the k lowest-hash
    // events, ranked by (h, event_id)
    val all = Sketches.bottomkHashesAux(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    all.groupBy(_._2).foreach { case (tpe, rows) =>
      val want = rows.sortBy(t => (t._3, t._1)).take(Sketches.BottomK)
        .zipWithIndex.map { case ((_, _, h, v), i) => (tpe, (i + 1).toLong, h, v) }.toSeq
      val got = sketch.filter(_._1 == tpe).sortBy(_._2).toSeq
      assert(got == want, s"$tpe sketch is not the exact bottom-k")
    }
    // epilogue: the sample's order statistic lands within sampling
    // error of the true quantile (rank tolerance 3*sqrt(p(1-p)/k) ~ .19)
    all.groupBy(_._2).foreach { case (tpe, rows) =>
      val est = Sketches.bottomkQuantileEstimate(
        sketch.filter(_._1 == tpe).map(_._4).toSeq, 0.5)
      val sorted = rows.map(_._4).sorted
      val lo = sorted(((0.5 - 0.2) * sorted.size).toInt)
      val hi = sorted(math.min(sorted.size - 1, ((0.5 + 0.2) * sorted.size).toInt))
      assert(est >= lo && est <= hi, s"$tpe p50 est=$est outside [$lo, $hi]")
    }
  }

  test("count-min sketch: per-row mass conserved, point estimates never undercount") {
    val sfDir = "/root/testdata/sf0.001"
    val sketch = Sketches.countMin(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val truth = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = truth.values.sum
    // mass conservation: every hash row's counters sum to ALL events
    (0 until Sketches.CmDepth).foreach { r =>
      assert(sketch.filter(_._1 == r).map(_._3).sum == n, s"row $r lost mass")
    }
    // the CMS hard guarantee: min-over-rows never undercounts
    val items = spark.read.parquet(s"$sfDir/events.parquet").select("user_id").distinct()
    val est = Sketches.cmEstimates(spark, sfDir, items).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.keySet == truth.keySet)
    truth.foreach { case (u, t) =>
      assert(est(u) >= t, s"user $u undercounted: est=${est(u)} true=$t")
    }
    // overestimate envelope: expected colliding mass is n/w per row,
    // min over CmDepth independent rows — 4x expectation is generous
    // and the hashes are fixed, so this is a deterministic check
    val maxOver = truth.map { case (u, t) => est(u) - t }.max
    assert(maxOver <= 4L * n / Sketches.CmWidth,
      s"max overestimate $maxOver vs envelope ${4L * n / Sketches.CmWidth}")
  }

  test("source mixing: rate-monotone subsets, declared rates realized within binomial error") {
    val sfDir = "/root/testdata/sf0.001"
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def ids(rates: Seq[(String, Int)]) =
      Sampling.mixSources(spark, sfDir, rates).collect().map(_.getLong(0)).toSet
    val sources = all.keys.toSeq
    // rate 0 keeps nothing, rate 100 keeps everything
    assert(ids(sources.map(_ -> 0)).isEmpty)
    assert(ids(sources.map(_ -> 100)).size == all.values.sum)
    // monotone: raising every rate keeps every previously kept doc
    val lo = ids(sources.map(_ -> 20))
    val hi = ids(sources.map(_ -> 60))
    assert(lo.subsetOf(hi), s"rate raise dropped ${lo -- hi}")
    // the default mix realizes each source's declared rate within
    // binomial noise (n=25/source at sf0.001: 4 sigma ~ 40 pct points
    // — loose, but catches a broken predicate or skewed hash outright)
    val got = Sampling.mixSources(spark, sfDir).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Sampling.MixRates.foreach { case (src, pct) =>
      val n = all(src).toDouble
      val expect = n * pct / 100.0
      val tol = 4 * math.sqrt(n * (pct / 100.0) * (1 - pct / 100.0)) + 1
      val k = got.getOrElse(src, 0L).toDouble
      assert(math.abs(k - expect) <= tol, s"$src: kept $k, declared $expect +- $tol")
    }
  }

  // ---------------------------------------------- hot-bucket df caps

  /** The engine's chunk-pair band keys of a 64-bit hash, replayed
    * bit-for-bit: (c1*8+c2, chunk(c1) | chunk(c2)<<8) for c1 < c2. */
  private def phashPairKeys(h: Long): Seq[(Int, Long)] =
    for { c1 <- 0 until 8; c2 <- c1 + 1 until 8 } yield
      (c1 * 8 + c2, ((h >>> (c1 * 8)) & 0xffL) | (((h >>> (c2 * 8)) & 0xffL) << 8))

  /** Capped-brute oracle over planted signatures: pairs sharing at
    * least one band key whose bucket df <= cap, then hamming-filtered —
    * exactly what the engine's df-capped banding must emit. */
  private def cappedBrute[K: Ordering](sigs: Seq[(K, Long)], keys: Long => Seq[(Int, Long)],
      cap: Int, maxHam: Int): Set[(K, K)] = {
    val ord = implicitly[Ordering[K]]
    val df = sigs.flatMap { case (_, h) => keys(h) }
      .groupBy(identity).map { case (k, o) => k -> o.size }
    (for {
      (a, ha) <- sigs; (b, hb) <- sigs if ord.lt(a, b)
      if keys(ha).toSet.intersect(keys(hb).toSet).exists(df(_) <= cap)
      if java.lang.Long.bitCount(ha ^ hb) <= maxHam
    } yield (a, b)).toSet
  }

  test("phash df cap: a planted hot pair-bucket binds, capped-brute oracle agrees") {
    val spark0 = spark
    import spark0.implicits._
    // 12 images share chunks 0-5 (every low pair-bucket has df=12);
    // chunk6 groups pairs (df=2 buckets survive), chunk7 is unique
    val sigs: Seq[(String, Long)] = (0 until 12).map { i =>
      (f"img$i%02d", ((i / 2).toLong << 48) | (i.toLong << 56))
    }
    val imgs = sigs.toDF("image_id", "phash")
    val cap = 8
    val expected = cappedBrute(sigs, phashPairKeys, cap, 6)
    val res = Multimodal.phashNearDup(imgs, maxHamming = 6, maxDf = cap)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(res == expected, s"missing=${expected -- res} extra=${res -- expected}")
    // the cap must actually BIND here: pure brute finds cross-group
    // pairs at hamming <= 6 that only the (dropped) hot buckets cover
    val pureBrute = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 6
    } yield (a, b)).toSet
    assert(expected.nonEmpty && (pureBrute -- expected).nonEmpty,
      s"cap did not bind: brute=${pureBrute.size} capped=${expected.size}")
  }

  test("minhash band df cap: a mega-cluster of identical docs binds, near-dups survive") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("hotminhash")
    def text(seed: Int, n: Int): String =
      (0 until n).map(i =>
        "w" + math.floorMod(graft.core.XxHash64.mix(seed.toLong, i.toLong), 500L)).mkString(" ")
    // 12 byte-identical docs (exact dedup's job, upstream): every band
    // bucket df=12 > cap -> the cluster is capped out of the LSH join.
    // One genuine near-dup pair (df=2 buckets) must still come through.
    val rows = (0 until 12).map(d => (d.toLong, text(1, 30), "en", "s0", 1L)) ++
      Seq((20L, text(2, 30), "en", "s0", 1L),
        (21L, text(2, 30) + " extraword", "en", "s0", 1L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val cap = 8
    val res = Dedup.minhashNearDup(spark, dir, minJaccardPct = 50, maxDf = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // capped-brute oracle replaying the engine's own band keys
    val bands = Dedup.minhashBands(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val df = bands.groupBy(b => (b._2, b._3)).view.mapValues(_.length).toMap
    val byDoc = bands.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    def shs(s: String) = s.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val texts = rows.map(r => r._1 -> shs(r._2)).toMap
    val ids = rows.map(_._1)
    val expected = (for {
      a <- ids; b <- ids if a < b
      if (byDoc(a) & byDoc(b)).exists(k => df(k) <= cap)
      inter = (texts(a) & texts(b)).size; uni = (texts(a) | texts(b)).size
      if inter * 100 >= uni * 50
    } yield (a, b)).toSet
    assert(res == expected, s"missing=${expected -- res} extra=${res -- expected}")
    assert(!res.exists { case (a, b) => a < 12 && b < 12 },
      "mega-cluster pairs must be capped out of the band join")
    assert(res.contains((20L, 21L)), s"genuine near-dup pair lost: $res")
  }

  test("simhash df cap: a planted hot chunk-bucket binds, capped-brute oracle agrees") {
    val spark0 = spark
    import spark0.implicits._
    def chunkKeys(h: Long): Seq[(Int, Long)] =
      (0 until 4).map(c => (c, (h >>> (c * 16)) & 0xffffL))
    // 12 docs share chunks 0-1 (hot, df=12); chunk2 groups pairs
    // (df=2 survives), chunk3 is unique per doc
    val sigs: Seq[(Long, Long)] = (0 until 12).map { i =>
      (i.toLong, ((i / 2).toLong << 32) | (i.toLong << 48))
    }
    val cap = 8
    val expected = cappedBrute(sigs, chunkKeys, cap, 3)
    val res = Dedup.simhashNearDupFromSigs(
        sigs.toDF("doc_id", "simhash"), maxHamming = 3, maxDf = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(res == expected, s"missing=${expected -- res} extra=${res -- expected}")
    val pureBrute = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(expected.nonEmpty && (pureBrute -- expected).nonEmpty,
      s"cap did not bind: brute=${pureBrute.size} capped=${expected.size}")
  }
}
