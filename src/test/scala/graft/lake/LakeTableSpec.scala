package graft.lake

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase

/** Table commits stage data; a wave's manifest (RunLog) makes them
  * visible. Snapshots record their data files' schema, so reads skip
  * Parquet footer inference (a Spark job per read). */
class LakeTableSpec extends SparkTestBase {
  import spark.implicits._

  // nested, binary and non-nullable primitive columns: the cases where
  // a recorded schema could disagree with what the files read back as
  private def sample: DataFrame = Seq(
    ("h0.test", 3L, Seq("/a", "/b"), Array[Byte](1, 2), 0.5),
    ("h1.test", 0L, Seq.empty[String], Array.emptyByteArray, 1.5)
  ).toDF("host", "visits", "disallow", "bytes", "score").repartition(1)

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getString(0))

  /** A lake at `root` whose table `t` holds `sample` in waves 1 and 2,
    * each committed with its wave's manifest. */
  private def twoWaves(root: String): LakeTable = {
    val t = new LakeTable(spark, root, "t")
    val log = new RunLog(root)
    Seq(1, 2).foreach(w => log.commit(w, Seq(t.commit(w, sample)), Map.empty))
    t
  }

  /** Spark jobs started while `f` runs, counted by a listener. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    try { f; GraftTestBus.drain(sc) } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("a snapshot round trip gives equal rows and types") {
    val t = twoWaves(tmpDir("lake_rt"))
    assert(t.snapshot(1).get.schema.isDefined)
    val back = t.readWave(1)
    val inferred = spark.read.parquet(t.snapshot(1).get.files.map(_.path): _*)
    assert(back.schema == inferred.schema, s"${back.schema} vs inferred ${inferred.schema}")
    assert(back.schema == GraftSqlBridge.asNullable(sample.schema))
    assert(sorted(back) == sorted(sample))
    assert(t.readThrough(2).count() == 4)
  }

  /** A bucketed table at `root` holding `keys` distinct keys in each of
    * waves 1..waves, each committed with its wave's manifest. */
  private def bucketedWaves(root: String, buckets: Int, waves: Int, keys: Int): BucketedLakeTable = {
    val seen = new BucketedLakeTable(spark, root, "s", "k STRING", Seq("k"), buckets)
    val log = new RunLog(root)
    (1 to waves).foreach { w =>
      val df = (0 until keys).map(i => s"w$w-k$i").toDF("k").repartition(buckets, $"k")
      log.commit(w, Seq(seen.commit(w, df)), Map.empty)
    }
    seen
  }

  test("readWave and readThrough start no Spark job") {
    val t = twoWaves(tmpDir("lake_nojob"))
    // past 32 files Spark's own file index lists them with a Spark job
    val seen = bucketedWaves(tmpDir("lake_nojob_b"), buckets = 8, waves = 5, keys = 64)
    assert(seen.snapshots(5).map(_.files.size).sum > 32)
    // a zero-row bucketed wave writes no file at all
    val empty = new BucketedLakeTable(spark, tmpDir("lake_nojob_e"), "e", "k STRING", Seq("k"), 4)
    val none = empty.commit(1, Seq.empty[String].toDF("k"))
    assert(none.files.isEmpty && none.totalRows == 0)
    val jobs = jobsDuring {
      t.readWave(1).schema
      t.readThrough(2).schema
      seen.readThrough(5).queryExecution.executedPlan
      empty.read(Seq(none)).queryExecution.executedPlan
    }
    assert(jobs == 0, s"$jobs job(s) started by a read")
    assert(seen.readThrough(5).count() == 5 * 64)
    val noRows = empty.read(Seq(none))
    assert(noRows.count() == 0 && noRows.schema == GraftSqlBridge.asNullable(StructType.fromDDL("k STRING")))
  }

  test("a seen commit does not refresh cached readers") {
    val root = tmpDir("lake_norefresh")
    val seen = bucketedWaves(root, buckets = 2, waves = 10, keys = 4)
    val sc = spark.sparkContext
    // frames read through wave 9 and, alone, wave 10 (a path that the
    // wave=1 dir name prefixes), each cached and materialized
    val frames = Seq(seen.readThrough(9), seen.read(seen.snapshot(10).toSeq)).map(_.cache())
    val counts = frames.map(_.count())
    def reread(): Int = jobsDuring(assert(frames.map(_.count()) == counts))
    val before = sc.getPersistentRDDs.keySet
    val jobsBefore = reread()
    // the next wave is staged, then staged again (a resumed wave), and a
    // wave whose dir name prefixes wave 10's is re-staged
    val more = Seq("x", "y").toDF("k")
    seen.commit(11, more)
    seen.commit(11, more)
    seen.commit(1, (0 until 4).map(i => s"w1-k$i").toDF("k"))
    // a refreshed cache would rebuild (a job) over a new RDD
    assert(reread() == jobsBefore, "re-reading a cached frame started a job")
    assert(sc.getPersistentRDDs.keySet == before, "a commit refreshed a cached frame")
    frames.foreach(_.unpersist(true))
  }

  test("a bucketed commit takes exactly its declared columns") {
    val seen = new BucketedLakeTable(spark, tmpDir("lake_cols"), "s", "k STRING", Seq("k"), 2)
    Seq(Seq(("a", 1)).toDF("k", "wave_added"), Seq(1).toDF("k")).foreach { df =>
      assert(intercept[IllegalArgumentException](seen.commit(1, df)).getMessage.contains("k STRING"))
    }
  }

  test("data committed without its wave's manifest is invisible") {
    val root = tmpDir("lake_staged")
    val t = twoWaves(root)
    val seen = new BucketedLakeTable(spark, root, "s", "k STRING", Seq("k"), 2)
    val log = new RunLog(root)
    val seen3 = seen.commit(3, Seq("a").toDF("k"))
    log.commit(3, Seq(seen3), Map.empty)
    // wave 4 stages both tables but crashes before its manifest
    val staged = t.commit(4, sample)
    val seen4 = seen.commit(4, Seq("b").toDF("k"))
    assert(log.completeWaves == Seq(1, 2, 3))
    assert(t.committedWaves == Seq(1, 2) && seen.committedWaves == Seq(3))
    assert(t.snapshot(4).isEmpty && t.latestWave.contains(2))
    assert(intercept[IllegalStateException](t.readWave(4)).getMessage.contains("no snapshot"))
    assert(t.rowCountThrough(4) == 4 && t.readThrough(4).count() == 4)
    assert(seen.rowCountThrough(4) == 1 && seen.readThrough(4).count() == 1)
    // the writer reads its own staged wave; the manifest publishes it
    assert(t.read(Seq(staged)).count() == 2 && seen.read(Seq(seen3, seen4)).count() == 2)
    log.commit(4, Seq(staged), Map.empty)
    assert(t.committedWaves == Seq(1, 2, 4) && t.readThrough(4).count() == 6)
    assert(seen.committedWaves == Seq(3) && seen.readThrough(4).count() == 1)
  }
}
