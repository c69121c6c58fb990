package graft.lake

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}

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

  test("readWave and readThrough start no Spark job") {
    val t = twoWaves(tmpDir("lake_nojob"))
    val jobs = jobsDuring {
      t.readWave(1).schema
      t.readThrough(2).schema
    }
    assert(jobs == 0, s"$jobs job(s) started by a read")
  }

  test("data committed without its wave's manifest is invisible") {
    val root = tmpDir("lake_staged")
    val t = twoWaves(root)
    val seen = new BucketedLakeTable(spark, root, "s", "k STRING", Seq("k"), 2)
    val log = new RunLog(root)
    log.commit(3, Seq(seen.commit(3, Seq(("a", 3)).toDF("k", "wave_added"))), Map.empty)
    // wave 4 stages both tables but crashes before its manifest
    val staged = t.commit(4, sample)
    seen.commit(4, Seq(("b", 4)).toDF("k", "wave_added"))
    assert(log.completeWaves == Seq(1, 2, 3))
    assert(t.committedWaves == Seq(1, 2) && seen.committedWaves == Seq(3))
    assert(t.snapshot(4).isEmpty && t.latestWave.contains(2))
    assert(intercept[IllegalStateException](t.readWave(4)).getMessage.contains("no snapshot"))
    assert(t.rowCountThrough(4) == 4 && t.readThrough(4).count() == 4)
    assert(seen.rowCountThrough(4) == 1 && seen.readThrough(4).count() == 1)
    // the writer reads its own staged wave; the manifest publishes it
    assert(t.read(Seq(staged)).count() == 2 && seen.readStaged(4).count() == 2)
    log.commit(4, Seq(staged), Map.empty)
    assert(t.committedWaves == Seq(1, 2, 4) && t.readThrough(4).count() == 6)
    assert(seen.committedWaves == Seq(3) && seen.readThrough(4).count() == 1)
  }
}
