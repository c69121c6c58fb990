package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-shaped table layer over Parquet (SURVEY.md §1.4): no
  * `iceberg-spark-runtime` jar exists in this sandbox, so tables are
  * Parquet data files + JSON manifests with the Iceberg properties the
  * north rule needs — one atomic commit per wave, per-data-file (= per-
  * partition) row-count lineage, time travel to any wave, and resume
  * from the last committed wave. The API mirrors Iceberg's snapshot
  * model so a real runtime can replace the I/O adapter on a cluster.
  *
  * Layout of a crawl lake:
  *   <root>/<table>/data/wave=<k>/part-*.parquet   (staged by commit;
  *                                                  seen: one file a bucket;
  *                                                  frontier: wave 0 only)
  *   <root>/_run/wave-<k>.json                     (THE commit point)
  *
  * A table commit only stages data files and returns their
  * [[SnapshotMeta]]; wave k goes live when `_run/wave-<k>.json`, listing
  * every table's snapshot k (files, row and byte counts, Spark schema)
  * and the run stats, lands by one atomic rename. Every read resolves
  * through these manifests, so a wave torn by a crash is invisible by
  * construction, and skips directory listing and footer inference.
  */
final case class DataFileMeta(path: String, rows: Long, bytes: Long)

final case class SnapshotMeta(
    table: String,
    wave: Int,
    files: Seq[DataFileMeta],
    totalRows: Long,
    properties: Map[String, String] = Map.empty,
    schema: Option[String] = None // StructType JSON; wave tables always record one
)

/** The one JSON codec of a snapshot, shared by the wave manifests and
  * the index manifests. */
object SnapshotMeta {
  def toJson(snap: SnapshotMeta): ObjectNode = {
    val node = Lake.mapper.createObjectNode()
    node.put("table", snap.table)
    node.put("wave", snap.wave)
    node.put("totalRows", snap.totalRows)
    val arr = node.putArray("files")
    snap.files.foreach { f =>
      val fn = arr.addObject()
      fn.put("path", f.path)
      fn.put("rows", f.rows)
      fn.put("bytes", f.bytes)
    }
    val props = node.putObject("properties")
    snap.properties.foreach { case (k, v) => props.put(k, v) }
    snap.schema.foreach(js => node.set[JsonNode]("schema", Lake.mapper.readTree(js)))
    node
  }

  def fromJson(node: JsonNode): SnapshotMeta = {
    val files = node.get("files").elements().asScala.map { f =>
      // index manifests written before byte sizes were recorded read as 0
      DataFileMeta(f.get("path").asText(), f.get("rows").asLong(),
        Option(f.get("bytes")).fold(0L)(_.asLong()))
    }.toVector
    val props = node.get("properties").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    SnapshotMeta(node.get("table").asText(), node.get("wave").asInt(), files,
      node.get("totalRows").asLong(), props, Option(node.get("schema")).map(_.toString))
  }
}

object LakeTable {
  /** Per-data-file row counts from Parquet footers (metadata-only, no
    * data scan) — the manifest's per-partition lineage. Descends into
    * directory-partitioned layouts (e.g. the IVF inverted lists'
    * `cluster=<k>/` subdirectories). */
  def footerMetas(dir: Path): Vector[DataFileMeta] = {
    val conf = new Configuration()
    val (subdirs, files) = Lake.listPaths(dir).partition(Files.isDirectory(_))
    // footer opens are independent tiny reads: do them in parallel (a
    // bucketed wave writes up to 2x buckets files; serial opens were a
    // measurable slice of the per-wave fixed cost)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val metas = files.filter(_.getFileName.toString.endsWith(".parquet")).map { p =>
      Future {
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(p.toString), conf))
        val rows = try reader.getRecordCount finally reader.close()
        DataFileMeta(p.toString, rows, Files.size(p))
      }
    }
    Await.result(Future.sequence(metas), Duration.Inf).sortBy(_.path) ++
      subdirs.flatMap(footerMetas)
  }
}

object Lake {
  /** TEST HOOK: called with (table, wave) at the top of every table
    * commit and with ("_run", wave) before a wave's manifest is
    * written. WaveStressSpec sleeps in it to spread a wave's concurrent
    * commits and its manifest apart in time; CrashPointSpec throws in it
    * to crash a wave at each commit point. A no-op outside tests. */
  @volatile private[graft] var testCommitHook: (String, Int) => Unit = (_, _) => ()

  private[lake] val mapper = new ObjectMapper()

  /** Write `node` to `path` by one atomic rename: readers see the old
    * file or the whole new one, never a partial write. */
  private[lake] def writeAtomically(path: Path, node: JsonNode): Unit = {
    val tmp = path.resolveSibling(s".tmp-${path.getFileName}")
    Files.writeString(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** List a directory's file names, CLOSING the stream (a bare
    * Files.list leaks one fd per call). */
  private[lake] def listNames(dir: Path): Vector[String] =
    if (!Files.exists(dir)) Vector.empty
    else Using.resource(Files.list(dir))(_.iterator().asScala.map(_.getFileName.toString).toVector)

  /** The Hadoop path of a local file or directory. */
  private[lake] def hadoopPath(p: Path): HPath = new HPath("file://" + p.toAbsolutePath.normalize)

  private[lake] def listPaths(dir: Path): Vector[Path] =
    if (!Files.exists(dir)) Vector.empty
    else Using.resource(Files.list(dir))(_.iterator().asScala.toVector)

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Using.resource(Files.walk(p))(_.iterator().asScala.toVector)
        .reverse.foreach(Files.deleteIfExists(_))
    }
}

/** A table of a crawl lake. Its snapshot k is its entry in the
  * manifest of complete wave k ([[RunLog]]); a commit only stages data
  * files and hands back their [[SnapshotMeta]] for that manifest. */
abstract class WaveTable(spark: SparkSession, rootDir: String, val name: String) {
  protected val dataDir: Path = Paths.get(rootDir, name, "data")
  private val runLog = new RunLog(rootDir)

  /** The schema of a read of no snapshot at all (None: such a read fails). */
  protected def emptySchema: Option[StructType] = None
  protected def bucketSpec: Option[BucketSpec] = None

  def snapshot(wave: Int): Option[SnapshotMeta] = runLog.tables(wave).find(_.table == name)

  /** The snapshots of the complete waves 0..throughWave, in wave order. */
  def snapshots(throughWave: Int): Seq[SnapshotMeta] =
    runLog.completeWaves.filter(_ <= throughWave).flatMap(snapshot)

  def committedWaves: Seq[Int] = snapshots(Int.MaxValue).map(_.wave)

  def latestWave: Option[Int] = committedWaves.lastOption

  def rowCountThrough(throughWave: Int): Long = snapshots(throughWave).map(_.totalRows).sum

  /** Time travel: the rows of exactly snapshot `wave`. */
  def readWave(wave: Int): DataFrame =
    read(Seq(snapshot(wave).getOrElse(
      throw new IllegalStateException(s"$name: no snapshot for wave $wave"))))

  /** Cumulative read of snapshots 0..throughWave (append-only tables). */
  def readThrough(throughWave: Int): DataFrame = read(snapshots(throughWave))

  def readAll(): DataFrame = readThrough(Int.MaxValue)

  /** The rows of exactly `snaps` — committed ones, or ones the caller
    * staged itself — read with the newest one's recorded schema. Built
    * from the manifests alone, it starts no Spark job. */
  def read(snaps: Seq[SnapshotMeta]): DataFrame = {
    val schema = snaps.lastOption.flatMap(_.schema)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .orElse(emptySchema)
      .getOrElse(throw new IllegalStateException(s"$name: no snapshot to read"))
    val index = ManifestFileIndex(Lake.hadoopPath(dataDir), snaps.flatMap(_.files))
    GraftSqlBridge.ofRows(spark, LogicalRelation(HadoopFsRelation(
      index, new StructType(), schema, bucketSpec, new ParquetFileFormat, Map.empty)(spark)))
  }

  /** The meta of the data files just written to `dir` as snapshot `wave`. */
  protected def staged(wave: Int, dir: Path, schema: StructType): SnapshotMeta = {
    val files = LakeTable.footerMetas(dir)
    SnapshotMeta(name, wave, files, files.map(_.rows).sum,
      schema = Some(GraftSqlBridge.asNullable(schema).json))
  }
}

/** The files of some snapshots, as Spark's file-source scan sees them.
  * Unlike `InMemoryFileIndex` it never lists a directory (which starts
  * a parallel-listing job past 32 paths). Its one root is the table's
  * data dir: after a file write Spark refreshes every cached plan with
  * a root at or below the written dir, and commits write only below
  * the data dir — a snapshot's files never change once its manifest
  * lands, so no commit refreshes (and recomputes) a cached reader. */
private final case class ManifestFileIndex(root: HPath, files: Seq[DataFileMeta])
    extends FileIndex {
  private lazy val statuses = files.map { f =>
    FileStatusWithMetadata(new FileStatus(f.bytes, false, 0, 0, 0, Lake.hadoopPath(Paths.get(f.path))))
  }
  override def rootPaths: Seq[HPath] = Seq(root)
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  override def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.bytes).sum
  override def partitionSchema: StructType = new StructType()
}

class LakeTable(spark: SparkSession, rootDir: String, name: String)
    extends WaveTable(spark, rootDir, name) {

  /** Stage `df` as the data of snapshot `wave`; it goes live with the
    * wave's manifest. Idempotent: re-running a crashed wave overwrites
    * its staged data dir. Per-file row counts come from Parquet footers
    * (metadata-only, no data scan). */
  def commit(wave: Int, df: DataFrame,
             writeOptions: Map[String, String] = Map.empty): SnapshotMeta = {
    Lake.testCommitHook(name, wave)
    val waveDir = dataDir.resolve(s"wave=$wave")
    df.write.mode("overwrite").options(writeOptions).parquet(waveDir.toString)
    staged(wave, waveDir, df.schema)
  }
}

/** A maintained DERIVED-data table (the IVF inverted lists, the
  * keyword-search postings): its content is a deterministic function of
  * some source corpus, so the manifest is keyed by the corpus SNAPSHOT
  * STRING — readers reuse the committed data iff the key still
  * matches, and any other key rebuilds the whole index into a fresh
  * `key=<md5(key)>/` directory with the manifest flipped atomically
  * last (readers never observe a half-built index). There is no
  * incremental path: a grown or rewritten corpus is a new key. Shared
  * across JVMs via the stable on-disk layout; superseded key
  * directories are cleaned on commit.
  *
  * Layout: `<root>/<name>/data/key=<md5>/<part>=<v>/part-*.parquet`
  *         `<root>/<name>/_meta/snapshot-0.json` (properties: key)
  *
  * Concurrent REBUILDS of the same key from different JVMs are safe:
  * each builder writes into a private staging dir and the key dir is
  * materialized by one atomic rename — the first builder wins, losers
  * discard their staging and reuse the winner's files (a bare
  * overwrite write into the shared key dir would let builder B delete
  * builder A's part files mid-commit). A key dir therefore only ever
  * APPEARS complete. Cleanup of superseded key dirs assumes no reader
  * is still lazily scanning an index for an outdated corpus snapshot
  * — on a real cluster this retire step would go through the
  * catalog's compare-and-swap + snapshot expiry like other tables. */
class IndexTable(rootDir: String, val name: String) {
  private val dataDir: Path = Paths.get(rootDir, name, "data")
  private val metaDir: Path = Paths.get(rootDir, name, "_meta")
  Files.createDirectories(metaDir)

  private def snapshotPath(wave: Int): Path = metaDir.resolve(s"snapshot-$wave.json")

  /** The committed manifest (an index only ever commits snapshot 0). */
  def snapshot(wave: Int): Option[SnapshotMeta] = {
    val p = snapshotPath(wave)
    if (!Files.exists(p)) None
    else Some(SnapshotMeta.fromJson(Lake.mapper.readTree(Files.readString(p))))
  }

  private def keyDir(key: String): Path = dataDir.resolve(s"key=${IndexTable.md5Hex(key)}")

  /** The committed data directory iff the manifest's key matches. */
  def currentDir(key: String): Option[Path] =
    snapshot(0).filter(_.properties.get("key").contains(key))
      .map(_ => keyDir(key)).filter(Files.isDirectory(_))

  /** Build (or replace) the index for corpus snapshot `key`: write the
    * partitioned data to a staging dir, publish it with one atomic
    * rename, commit the manifest, drop superseded key directories.
    * Returns the (possibly concurrently-won) data directory, which is
    * guaranteed to still hold THIS key's data: if a concurrent builder
    * published a newer corpus key between our commit and cleanup — our
    * key dir may have been retired by ITS cleanup — the build is
    * retried rather than returning a deleted path the caller would
    * fail to scan (advisor r4; two builders can only disagree while
    * the corpus itself is changing mid-flight, so retries terminate in
    * practice and are bounded here regardless). */
  def rebuild(key: String, partitionCols: Seq[String], df: DataFrame): Path = {
    var attempt = 0
    var dir = rebuildOnce(key, partitionCols, df)
    while (!Files.isDirectory(dir) && attempt < 3) {
      attempt += 1
      dir = rebuildOnce(key, partitionCols, df)
    }
    if (!Files.isDirectory(dir))
      throw new IllegalStateException(
        s"index '$name' key dir for key=$key kept being superseded by concurrent rebuilds")
    dir
  }

  /** Materialize the key dir (idempotent: write into a private staging
    * dir, publish with one atomic rename), then commit the manifest. */
  private def rebuildOnce(key: String, partitionCols: Seq[String], df: DataFrame): Path = {
    val dir = keyDir(key)
    if (!Files.isDirectory(dir)) {
      // staging name: pid-disambiguated, not random — determinism
      // hygiene (the name never influences any output)
      val staging = dataDir.resolve(
        s".stage-${dir.getFileName}-${ProcessHandle.current().pid()}-${IndexTable.stageSeq.incrementAndGet()}")
      df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(staging.toString)
      try Files.move(staging, dir, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          // either we lost the race (the winner's dir is complete — it
          // appeared atomically) or the move genuinely failed (disk
          // full, permissions, non-atomic filesystem). Only the first
          // is recoverable: a missing key dir means a REAL failure, and
          // swallowing it would commit a vacuous manifest pointing at
          // nothing (FileAlreadyExists/DirectoryNotEmpty are
          // FileSystemException subclasses, so the dir check — not the
          // exception type — is what distinguishes the two).
          Lake.deleteRecursively(staging)
          if (!Files.isDirectory(dir)) throw e
      }
    }
    val files = LakeTable.footerMetas(dir)
    Lake.writeAtomically(snapshotPath(0),
      SnapshotMeta.toJson(SnapshotMeta(name, 0, files, files.map(_.rows).sum, Map("key" -> key))))
    cleanupRetired()
    dir
  }

  /** Retire key dirs the CURRENT manifest doesn't reference — re-read
    * it rather than assuming ours is still the latest: a concurrent
    * builder for a NEWER corpus key may have published after us, and
    * wall-clock-ordered cleanup would delete its live index (the
    * remaining microscopic read-then-delete window is the CAS point a
    * real catalog closes; see the class doc). */
  private def cleanupRetired(): Unit = {
    val live = snapshot(0).flatMap(_.properties.get("key")).map(keyDir)
    Lake.listPaths(dataDir)
      .filter(p => p.getFileName.toString.startsWith("key=") && !live.contains(p))
      .foreach(Lake.deleteRecursively)
  }
}

object IndexTable {
  /** JVM-GLOBAL staging counter: pid disambiguates across JVMs, this
    * across builder instances within one JVM (a per-instance counter
    * collided when two instances raced the same key — caught by
    * IndexTableSpec's concurrency test). */
  private[lake] val stageSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Hex md5 of `s`: key dir names, corpus fingerprints, index names. */
  private[graft] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Align an index build with its write layout before `rebuild`:
    * hash-repartition on (partition column, a salt bounded to `slots`)
    * so every write task emits rows for exactly ONE (partition, salt)
    * cell — total file count ≤ partitionValues × slots regardless of
    * upstream parallelism. A raw `partitionBy` write emits up to
    * upstreamTasks × partitionValues files (millions at 1000-executor
    * scale: every task holds every partition value); the salt keeps
    * writers parallel WITHIN a hot partition value, unlike a plain
    * repartition(col) whose one-task-per-value serializes the build.
    * One build-time shuffle, amortized over every read of the index. */
  def writeLayout(df: DataFrame, partitionValues: Int, slots: Int,
                  partCol: org.apache.spark.sql.Column,
                  saltSrc: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    df.repartition(partitionValues * slots, partCol,
      pmod(xxhash64(saltSrc), lit(slots.toLong)))
  }
}

/** A wave table hash-bucketed on `bucketCols` — the storage layout
  * that makes the per-wave anti-join against the cumulative URL-seen
  * set shuffle-free on the seen side (the scan reports
  * HashPartitioning(bucketCols, buckets), so only the wave's candidates
  * get exchanged; `Bucketed: true` in the plan, asserted by PlanSpec).
  *
  * A commit writes bucket-named files (`part-…_00003.c000…`) with
  * Spark's file-source insert command, no catalog involved. Callers
  * should pre-partition the input by `repartition(buckets, bucketCols)`
  * so each task holds exactly one bucket (no small-file explosion).
  */
class BucketedLakeTable(
    spark: SparkSession, rootDir: String, name: String,
    columnsDdl: String,           // data columns, e.g. "kind STRING, url STRING, ..."
    val bucketCols: Seq[String],
    val buckets: Int
) extends WaveTable(spark, rootDir, name) {
  private val columns = GraftSqlBridge.asNullable(StructType.fromDDL(columnsDdl))

  override protected def emptySchema: Option[StructType] = Some(columns)
  override protected def bucketSpec: Option[BucketSpec] = Some(BucketSpec(buckets, bucketCols, Nil))

  /** [[WaveTable.read]], refusing snapshots written with another bucket
    * count: the scan groups files by the bucket id in their names, so
    * such files would silently land in the wrong join partitions. */
  override def read(snaps: Seq[SnapshotMeta]): DataFrame = {
    snaps.find(!_.properties.get("buckets").contains(buckets.toString)).foreach { s =>
      throw new IllegalStateException(s"$name: snapshot ${s.wave} was written with " +
        s"${s.properties.getOrElse("buckets", "an unrecorded number of")} buckets, " +
        s"this table has $buckets (a lake's bucket count is fixed)")
    }
    super.read(snaps)
  }

  /** Stage `df`, whose columns must be `columnsDdl`, as the data of
    * snapshot `wave` (idempotent, like [[LakeTable.commit]]), recording
    * the bucket count in its properties. */
  def commit(wave: Int, df: DataFrame): SnapshotMeta = {
    Lake.testCommitHook(name, wave)
    require(GraftSqlBridge.asNullable(df.schema) == columns,
      s"$name: commit columns ${df.schema.toDDL} are not ($columnsDdl)")
    val waveDir = dataDir.resolve(s"wave=$wave")
    val query = df.queryExecution.analyzed
    GraftSqlBridge.ofRows(spark, InsertIntoHadoopFsRelationCommand(
      Lake.hadoopPath(waveDir), Map.empty, ifPartitionNotExists = false, Nil, bucketSpec,
      new ParquetFileFormat, Map.empty, query, SaveMode.Overwrite, None, None,
      query.output.map(_.name)))
    staged(wave, waveDir, df.schema).copy(properties = Map("buckets" -> buckets.toString))
  }
}

/** Run-level commit log, and the one commit point of a crawl lake:
  * wave k is COMPLETE iff `_run/wave-<k>.json` exists. That manifest
  * lists every table's snapshot k, the wave's stats, wave k-1's metrics
  * rows and wave k's candidate vector, and lands by one atomic rename
  * after the tables staged their data. Resume restarts at the max one.
  */
class RunLog(rootDir: String) {
  private val runDir = Paths.get(rootDir, "_run")
  Files.createDirectories(runDir)

  private def manifestPath(wave: Int): Path = runDir.resolve(s"wave-$wave.json")

  /** Make wave `wave` complete: publish its staged table snapshots. */
  def commit(wave: Int, tables: Seq[SnapshotMeta], stats: Map[String, Long],
             metrics: Seq[Map[String, Long]] = Nil, candidates: Seq[Long] = Nil): Unit = {
    Lake.testCommitHook("_run", wave)
    def tree(value: AnyRef): JsonNode = Lake.mapper.valueToTree[JsonNode](value)
    val node = Lake.mapper.createObjectNode()
    node.put("wave", wave)
    node.set[JsonNode]("stats", tree(stats.asJava))
    node.set[JsonNode]("metrics", tree(metrics.map(_.asJava).asJava))
    node.set[JsonNode]("candidates", tree(candidates.asJava))
    val arr = node.putArray("tables")
    tables.foreach(t => arr.add(SnapshotMeta.toJson(t)))
    Lake.writeAtomically(manifestPath(wave), node)
  }

  private def manifest(wave: Int): Option[JsonNode] = {
    val p = manifestPath(wave)
    if (!Files.exists(p)) None else Some(Lake.mapper.readTree(Files.readString(p)))
  }

  private def elements(wave: Int, key: String): Seq[JsonNode] =
    manifest(wave).toSeq.flatMap(_.get(key).elements().asScala)

  private def longs(node: JsonNode): Map[String, Long] =
    node.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap

  def stats(wave: Int): Map[String, Long] =
    manifest(wave).map(m => longs(m.get("stats"))).getOrElse(Map.empty)

  /** The metrics rows of wave `wave - 1`. */
  def metrics(wave: Int): Seq[Map[String, Long]] = elements(wave, "metrics").map(longs)

  /** The candidate vector of wave `wave`. */
  def candidates(wave: Int): Seq[Long] = elements(wave, "candidates").map(_.asLong())

  /** The table snapshots complete wave `wave` published (empty if none). */
  def tables(wave: Int): Seq[SnapshotMeta] =
    manifest(wave).map(_.get("tables").elements().asScala.map(SnapshotMeta.fromJson).toVector)
      .getOrElse(Vector.empty)

  def completeWaves: Seq[Int] =
    Lake.listNames(runDir)
      .collect { case s if s.startsWith("wave-") && s.endsWith(".json") =>
        s.stripPrefix("wave-").stripSuffix(".json").toInt
      }.sorted

  def lastCompleteWave: Option[Int] = completeWaves.lastOption
}
