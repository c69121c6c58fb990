package graft.ops

import graft.SparkTestBase

/** Full-text retrieval: the materialized postings index must be an
  * ACCELERATOR, not a semantics change — index-served search equals
  * the straight token-stream formulation row for row, and the index
  * resolves from the manifest (no rebuild) on every lookup after the
  * first for the same corpus snapshot. */
class SearchSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("keyword search via the postings index equals the brute token-stream form") {
    val idx = Search.keywordSearch(spark, dir).collect().toSet
    val brute = Search.keywordSearchBrute(spark, dir).collect().toSet
    assert(idx == brute)
    assert(idx.size == Search.TopK, s"expected a full top-${Search.TopK}")
    // non-vacuous: the fixed QueryTerms are real fixture vocabulary,
    // so the top hit matches more than one posting
    assert(idx.map(_.getLong(2)).max > 1, "query terms absent from the corpus")
  }

  test("postings index is built once per corpus snapshot, manifest hit after") {
    val first = Search.postingsIndexDir(spark, dir)
    val again = Search.postingsIndexDir(spark, dir)
    assert(first == again, "second resolve must be a manifest hit, not a rebuild")
    // layout: one bucket=<v> partition dir per realized term bucket
    val buckets = new java.io.File(first).listFiles().count(_.getName.startsWith("bucket="))
    assert(buckets > 1 && buckets <= Search.NBuckets, s"buckets=$buckets")
    // salted write layout: file count bounded by buckets × slots, NOT
    // by upstream task count (the 1000-executor file-explosion guard)
    val files = spark.read.parquet(first).inputFiles.length
    assert(files <= Search.NBuckets * Search.SaltSlots, s"files=$files")
  }

  /** Builds a 60-doc corpus, then applies each (ids, body, write mode)
    * change in turn. After each change the postings index must rebuild
    * into a fresh key dir, retire the superseded one and serve the
    * corpus exactly. The first change's docs carry the most term mass,
    * so they must surface in the top-k. */
  private def assertRebuildsOnEachChange(name: String, changes: Seq[(Range, String, String)]): Unit = {
    import spark.implicits._
    val tmp = tmpDir(name)
    val docsDir = s"$tmp/documents.parquet"
    def corpusDocs(ids: Range, body: String) =
      ids.map(i => (i.toLong, "alpha", s"$body w$i")).toDF("doc_id", "source", "text")
    corpusDocs(0 until 60, "join hash").coalesce(2).write.mode("overwrite").parquet(docsDir)
    var current = Search.postingsIndexDir(spark, tmp)
    changes.zipWithIndex.foreach { case ((ids, body, mode), i) =>
      corpusDocs(ids, body).coalesce(1).write.mode(mode).parquet(docsDir)
      val rebuilt = Search.postingsIndexDir(spark, tmp)
      assert(rebuilt != current, s"change $i must rebuild into a fresh key dir")
      assert(!new java.io.File(current).exists(), s"change $i left the superseded dir $current")
      val viaIndex = Search.keywordSearch(spark, tmp).collect().toSet
      assert(viaIndex == Search.keywordSearchBrute(spark, tmp).collect().toSet, s"change $i")
      if (i == 0) assert(viaIndex.exists(r => ids.contains(r.getLong(1).toInt)), "grown docs missing from results")
      current = rebuilt
    }
  }

  test("a grown or rewritten corpus rebuilds its postings index, served exactly") {
    // growth by NEW doc_ids (higher term mass, so the grown docs must
    // surface in the top-k), then an in-place rewrite
    assertRebuildsOnEachChange("graft_post_rebuild",
      Seq((100 until 140, "join join join hash", "append"),
          (0 until 30, "join hash", "overwrite")))
  }

  test("a corpus grown by re-used doc_ids rebuilds its postings index, served exactly") {
    // the new part file re-uses doc_ids 10 and 11: postings split per
    // (term, doc_id) across two builds would double-count n_terms
    assertRebuildsOnEachChange("graft_post_reused_ids",
      Seq((10 until 12, "join join join join hash", "append")))
  }

  test("tfidf distinctive terms rank a planted source-exclusive word first") {
    import spark.implicits._
    val tmp = tmpDir("graft_tfidf")
    // two sources share 'common'; each has an exclusive word — tf·idf
    // must rank the exclusive word above the shared one per source
    Seq(
      (1L, "alpha", "common common aardvark"),
      (2L, "alpha", "common aardvark aardvark"),
      (3L, "beta", "common common zebra"),
      (4L, "beta", "common zebra zebra"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val top = Search.tfidfTerms(spark, tmp, k = 1).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(top == Map("alpha" -> "aardvark", "beta" -> "zebra"), top.toString)
    // and the score arithmetic replays by hand: tf=3 in-source,
    // df=2 docs corpus-wide -> (3 * scale) div 2
    val row = Search.tfidfTerms(spark, tmp, k = 1)
      .filter($"source" === "alpha").collect().head
    assert(row.getLong(2) == 3L && row.getLong(3) == 2L)
    assert(row.getLong(4) == 3L * Search.TfidfScale / 2L)
  }
}
