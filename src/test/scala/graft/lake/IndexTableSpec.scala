package graft.lake

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkTestBase

/** Contract of the snapshot-keyed derived-data table behind the IVF
  * inverted lists and the keyword postings: reuse iff the corpus key
  * matches, rebuild into a fresh key dir on key change, superseded key
  * dirs cleaned, manifest flipped last. */
class IndexTableSpec extends SparkTestBase {

  test("index table: reuse on matching key, rebuild + cleanup on key change") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmpDir("idxroot")
    val t = new IndexTable(root, "ivf_test")

    assert(t.currentDir("k1").isEmpty, "empty table must not claim a current dir")

    val d1 = t.rebuild("k1", Seq("cluster"),
      Seq((1L, 0), (2L, 0), (3L, 1)).toDF("vec_id", "cluster"))
    assert(t.currentDir("k1").contains(d1))
    assert(t.currentDir("k2").isEmpty, "stale key must not be served")
    // partitioned layout + readable back with the partition column
    assert(Files.isDirectory(d1.resolve("cluster=0")))
    val back = spark.read.parquet(d1.toString)
    assert(back.count() == 3 && back.columns.toSet == Set("vec_id", "cluster"))
    // manifest carries per-file lineage across the partition subdirs
    val snap = t.snapshot(0).get
    assert(snap.totalRows == 3 && snap.properties("key") == "k1")
    assert(snap.files.map(_.rows).sum == 3)

    // corpus changed -> rebuild under a NEW key dir; old dir cleaned
    val d2 = t.rebuild("k2", Seq("cluster"),
      Seq((1L, 0), (4L, 2)).toDF("vec_id", "cluster"))
    assert(d2 != d1)
    assert(t.currentDir("k2").contains(d2) && t.currentDir("k1").isEmpty)
    assert(!Files.exists(d1), "superseded key dir must be cleaned on commit")
    assert(spark.read.parquet(d2.toString).count() == 2)

    // a second table instance (new "JVM") sees the committed index
    val t2 = new IndexTable(root, "ivf_test")
    assert(t2.currentDir("k2").contains(d2))

    // re-building an already-published key is an idempotent fast path
    // (the key dir only ever APPEARS atomically, so its existence means
    // complete): no rewrite, no staging residue
    val d2again = t2.rebuild("k2", Seq("cluster"),
      Seq((9L, 9)).toDF("vec_id", "cluster")) // would differ if rewritten
    assert(d2again == d2)
    assert(spark.read.parquet(d2.toString).count() == 2, "winner's data must be kept")
    assert(!Files.list(d2.getParent).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".stage-")), "staging residue left")
  }

  test("concurrent rebuilds of the same key: one atomic publish, no torn data") {
    val spark0 = spark
    import spark0.implicits._
    val root = tmpDir("idxrace")
    // two independent builders (simulating two JVMs) race on a cold
    // key: each stages privately, exactly one rename wins, the loser
    // discards its staging and reuses the winner's complete dir
    val rows = (0 until 200).map(i => (i.toLong, i % 4))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val dirs = Await.result(Future.sequence((0 until 2).map { _ =>
      Future {
        val t = new IndexTable(root, "ivf_race")
        t.rebuild("k1", Seq("cluster"), rows.toDF("vec_id", "cluster"))
      }
    }), Duration.Inf).toVector
    assert(dirs.distinct.size == 1, s"builders disagree on the key dir: $dirs")
    val back = spark.read.parquet(dirs.head.toString)
    assert(back.count() == 200, "published index torn by the race")
    assert(new IndexTable(root, "ivf_race").currentDir("k1").contains(dirs.head))
    assert(!Files.list(dirs.head.getParent).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".stage-")), "staging residue left")
  }
}
