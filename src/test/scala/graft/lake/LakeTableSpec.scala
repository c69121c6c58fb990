package graft.lake

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}

import graft.SparkTestBase

/** LakeTable snapshots record their data files' schema, so reads skip
  * Parquet footer inference (a Spark job per read); manifests written
  * before schemas were recorded still read, by inference. */
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
    val t = new LakeTable(spark, tmpDir("lake_rt"), "t")
    t.commit(1, sample)
    t.commit(2, sample)
    assert(t.snapshot(1).get.schema.isDefined)
    val back = t.readWave(1)
    val inferred = spark.read.parquet(t.snapshot(1).get.files.map(_.path): _*)
    assert(back.schema == inferred.schema, s"${back.schema} vs inferred ${inferred.schema}")
    assert(back.schema == GraftSqlBridge.asNullable(sample.schema))
    assert(sorted(back) == sorted(sample))
    assert(t.readThrough(2).count() == 4)
  }

  test("readWave and readThrough start no Spark job") {
    val t = new LakeTable(spark, tmpDir("lake_nojob"), "t")
    t.commit(1, sample)
    t.commit(2, sample)
    val jobs = jobsDuring {
      t.readWave(1).schema
      t.readThrough(2).schema
    }
    assert(jobs == 0, s"$jobs job(s) started by a read")
  }

  test("a manifest without a recorded schema still reads, by inference") {
    val root = tmpDir("lake_legacy")
    val t = new LakeTable(spark, root, "t")
    t.commit(1, sample)
    val manifest = Paths.get(root, "t", "_meta", "snapshot-1.json")
    val mapper = new ObjectMapper()
    val node = mapper.readTree(Files.readString(manifest)).asInstanceOf[ObjectNode]
    node.remove("schema")
    Files.writeString(manifest, mapper.writeValueAsString(node))
    assert(t.snapshot(1).get.schema.isEmpty)
    var back: DataFrame = null
    // the inference job this spec's listener must see, or the no-job
    // case above proves nothing
    assert(jobsDuring { back = t.readWave(1) } >= 1)
    assert(back.schema == GraftSqlBridge.asNullable(sample.schema))
    assert(sorted(back) == sorted(sample))
  }
}
