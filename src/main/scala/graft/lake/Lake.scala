package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
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
  *                                                  seen: wave_added=<k>)
  *   <root>/_run/wave-<k>.json                     (THE commit point)
  *
  * A table commit only stages data files and returns their
  * [[SnapshotMeta]]; wave k goes live when `_run/wave-<k>.json`, listing
  * every table's snapshot k (files, row counts, Spark schema) and the
  * run stats, lands by one atomic rename. Every read resolves through
  * these manifests, so a wave torn by a crash is invisible by
  * construction. The recorded schema also lets reads skip Parquet
  * footer inference — a Spark job per read otherwise.
  */
final case class DataFileMeta(path: String, rows: Long)

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
    }
    val props = node.putObject("properties")
    snap.properties.foreach { case (k, v) => props.put(k, v) }
    snap.schema.foreach(js => node.set[JsonNode]("schema", Lake.mapper.readTree(js)))
    node
  }

  def fromJson(node: JsonNode): SnapshotMeta = {
    val files = node.get("files").elements().asScala.map { f =>
      DataFileMeta(f.get("path").asText(), f.get("rows").asLong())
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
        DataFileMeta(p.toString, rows)
      }
    }
    Await.result(Future.sequence(metas), Duration.Inf).sortBy(_.path) ++
      subdirs.flatMap(footerMetas)
  }
}

object Lake {
  /** TEST HOOK: called with (table, wave) at the top of every table
    * commit and with ("_run", wave) before a wave's manifest is
    * written. WaveStressSpec sleeps in it to widen the pipelined commit
    * windows; CrashPointSpec throws in it to crash a wave at each
    * commit point. A no-op outside tests. */
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
abstract class WaveTable(rootDir: String, val name: String) {
  protected val dataDir: Path = Paths.get(rootDir, name, "data")
  private val runLog = new RunLog(rootDir)

  def snapshot(wave: Int): Option[SnapshotMeta] = runLog.tables(wave).find(_.table == name)

  /** The snapshots of the complete waves 0..throughWave, in wave order. */
  def snapshots(throughWave: Int): Seq[SnapshotMeta] =
    runLog.completeWaves.filter(_ <= throughWave).flatMap(snapshot)

  def committedWaves: Seq[Int] = snapshots(Int.MaxValue).map(_.wave)

  def latestWave: Option[Int] = committedWaves.lastOption

  def rowCountThrough(throughWave: Int): Long = snapshots(throughWave).map(_.totalRows).sum

  /** The meta of the data files just written to `dir` as snapshot `wave`. */
  protected def staged(wave: Int, dir: Path, schema: StructType): SnapshotMeta = {
    val files = LakeTable.footerMetas(dir)
    SnapshotMeta(name, wave, files, files.map(_.rows).sum,
      schema = Some(GraftSqlBridge.asNullable(schema).json))
  }
}

class LakeTable(spark: SparkSession, rootDir: String, name: String)
    extends WaveTable(rootDir, name) {

  /** Stage `df` as the data of snapshot `wave`; it goes live with the
    * wave's manifest. Idempotent: re-running a crashed wave overwrites
    * its staged data dir. Per-file row counts come from Parquet footers
    * (metadata-only, no data scan). */
  def commit(wave: Int, df: DataFrame,
             writeOptions: Map[String, String] = Map.empty): SnapshotMeta = {
    Lake.testCommitHook(name, wave)
    val waveDir = dataDir.resolve(s"wave=$wave")
    df.write.mode("overwrite").options(writeOptions).parquet(waveDir.toString)
    if (!Lake.listNames(waveDir).exists(_.endsWith(".parquet"))) {
      // zero-partition input wrote no data file; keep one (empty, with
      // schema) so time travel / readAll never hit a missing wave
      df.repartition(1).write.mode("overwrite").options(writeOptions).parquet(waveDir.toString)
    }
    staged(wave, waveDir, df.schema)
  }

  /** Time travel: the rows of exactly snapshot `wave`. */
  def readWave(wave: Int): DataFrame =
    read(Seq(snapshot(wave).getOrElse(
      throw new IllegalStateException(s"$name: no snapshot for wave $wave"))))

  /** Cumulative read of snapshots 0..throughWave (append-only tables). */
  def readThrough(throughWave: Int): DataFrame = read(snapshots(throughWave))

  def readAll(): DataFrame = readThrough(Int.MaxValue)

  /** The rows of exactly `snaps` — committed ones, or ones the caller
    * staged itself — read with the newest one's recorded schema. */
  def read(snaps: Seq[SnapshotMeta]): DataFrame = {
    val paths = snaps.flatMap(_.files).map(_.path)
    if (paths.isEmpty)
      throw new IllegalStateException(s"$name: empty file list (guard with rowCount first)")
    spark.read.schema(DataType.fromJson(snaps.last.schema.get).asInstanceOf[StructType])
      .parquet(paths: _*)
  }
}

/** A maintained DERIVED-data table (e.g. the IVF inverted-list index):
  * its content is a deterministic function of some source corpus, so
  * the manifest is keyed by the corpus SNAPSHOT STRING — readers reuse
  * the committed data iff the key still matches, and a rebuild for a
  * new corpus snapshot lands in a fresh `key=<hash>/` directory with
  * the manifest flipped atomically last (readers never observe a
  * half-built index). Shared across JVMs via the stable on-disk layout;
  * superseded key directories are cleaned on commit.
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

  private def writeSnapshot(snap: SnapshotMeta): Unit =
    Lake.writeAtomically(snapshotPath(snap.wave), SnapshotMeta.toJson(snap))

  /** The committed manifest (an index only ever commits snapshot 0). */
  def snapshot(wave: Int): Option[SnapshotMeta] = {
    val p = snapshotPath(wave)
    if (!Files.exists(p)) None
    else Some(SnapshotMeta.fromJson(Lake.mapper.readTree(Files.readString(p))))
  }

  private def keyHash(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The committed data directory iff the manifest's key matches AND
    * the index is single-dir — an index grown via [[appendDelta]] must
    * be read through [[currentDirs]] (returning just the base here
    * would silently serve a stale subset). */
  def currentDir(key: String): Option[Path] =
    currentDirs(key).collect { case Seq(only) => only }

  /** ALL committed data directories for `key`: the base build first,
    * then append deltas in commit order. A reader scans their union. */
  def currentDirs(key: String): Option[Seq[Path]] =
    snapshot(0)
      .filter(_.properties.get("key").contains(key))
      .map { m =>
        m.properties.get("dirs")
          .map(_.split(",").toSeq)
          // pre-delta manifests carry no dirs property: single key dir
          .getOrElse(Seq(s"key=${keyHash(key)}"))
          .map(d => dataDir.resolve(d))
      }
      .filter(ds => ds.nonEmpty && ds.forall(Files.isDirectory(_)))

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
  def rebuild(key: String, partitionCols: Seq[String], df: DataFrame,
              extraProps: Map[String, String] = Map.empty): Path = {
    var attempt = 0
    var dir = rebuildOnce(key, partitionCols, df, extraProps)
    while (!Files.isDirectory(dir) && attempt < 3) {
      attempt += 1
      dir = rebuildOnce(key, partitionCols, df, extraProps)
    }
    if (!Files.isDirectory(dir))
      throw new IllegalStateException(
        s"index '$name' key dir for key=$key kept being superseded by concurrent rebuilds")
    dir
  }

  /** Append-only evolution: commit `deltaDf` as an ADDITIONAL data
    * directory for the grown corpus snapshot `newKey`, leaving the
    * base directories (built for `baseKey`) untouched — delta-sized
    * build work instead of a full-corpus re-shuffle when the corpus
    * only gained rows. Returns None (caller falls back to a full
    * rebuild) when the base is gone or a concurrent builder superseded
    * the commit. ONLY correct when the delta rows are SELF-CONTAINED
    * additions — e.g. postings of brand-new doc ids, which never merge
    * with any base row — a contract the CALLER must guarantee. */
  def appendDelta(baseKey: String, newKey: String, partitionCols: Seq[String],
                  deltaDf: DataFrame,
                  extraProps: Map[String, String] = Map.empty): Option[Seq[Path]] = {
    currentDirs(baseKey).flatMap { base =>
      val keyDir = writeKeyDir(keyHash(newKey), partitionCols, deltaDf)
      val dirs = base :+ keyDir
      val files = dirs.toVector.flatMap(LakeTable.footerMetas)
      writeSnapshot(SnapshotMeta(name, 0, files, files.map(_.rows).sum,
        Map("key" -> newKey,
          "dirs" -> dirs.map(_.getFileName.toString).mkString(",")) ++ extraProps))
      cleanupRetired()
      // re-resolve: a concurrent publish may have superseded ours (and
      // retired our dirs) — never hand back paths we may have deleted
      currentDirs(newKey)
    }
  }

  private def rebuildOnce(key: String, partitionCols: Seq[String], df: DataFrame,
                          extraProps: Map[String, String]): Path = {
    val kh = keyHash(key)
    val keyDir = writeKeyDir(kh, partitionCols, df)
    val files = LakeTable.footerMetas(keyDir)
    writeSnapshot(SnapshotMeta(name, 0, files, files.map(_.rows).sum,
      Map("key" -> key, "dirs" -> s"key=$kh") ++ extraProps))
    cleanupRetired()
    keyDir
  }

  /** Materialize one data directory for `kh` (idempotent): write into
    * a private staging dir, publish with one atomic rename. */
  private def writeKeyDir(kh: String, partitionCols: Seq[String], df: DataFrame): Path = {
    val keyDir = dataDir.resolve(s"key=$kh")
    if (!Files.isDirectory(keyDir)) {
      // staging name: pid-disambiguated, not random — determinism
      // hygiene (the name never influences any output)
      val staging = dataDir.resolve(
        s".stage-$kh-${ProcessHandle.current().pid()}-${IndexTable.stageSeq.incrementAndGet()}")
      df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(staging.toString)
      try Files.move(staging, keyDir, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          // either we lost the race (the winner's dir is complete — it
          // appeared atomically) or the move genuinely failed (disk
          // full, permissions, non-atomic filesystem). Only the first
          // is recoverable: a missing keyDir means a REAL failure, and
          // swallowing it would commit a vacuous manifest pointing at
          // nothing (FileAlreadyExists/DirectoryNotEmpty are
          // FileSystemException subclasses, so the dir check — not the
          // exception type — is what distinguishes the two).
          Lake.deleteRecursively(staging)
          if (!Files.isDirectory(keyDir)) throw e
      }
    }
    keyDir
  }

  /** Retire key dirs the CURRENT manifest doesn't reference — re-read
    * it rather than assuming ours is still the latest: a concurrent
    * builder for a NEWER corpus key may have published after us, and
    * wall-clock-ordered cleanup would delete its live index (the
    * remaining microscopic read-then-delete window is the CAS point a
    * real catalog closes; see the class doc). An appended index lists
    * ALL its live dirs in the manifest's dirs property. */
  private def cleanupRetired(): Unit = {
    val live: Set[String] = snapshot(0).map { m =>
      m.properties.get("dirs").map(_.split(",").toSet).getOrElse(
        m.properties.get("key").map(k => Set(s"key=${keyHash(k)}")).getOrElse(Set.empty))
    }.getOrElse(Set.empty)
    Lake.listPaths(dataDir)
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("key=") && !live.contains(n)
      }
      .foreach(Lake.deleteRecursively)
  }

}

object IndexTable {
  /** JVM-GLOBAL staging counter: pid disambiguates across JVMs, this
    * across builder instances within one JVM (a per-instance counter
    * collided when two instances raced the same key — caught by
    * IndexTableSpec's concurrency test). */
  private[lake] val stageSeq = new java.util.concurrent.atomic.AtomicLong()

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

/** A wave table whose data files are ALSO a Spark catalog table,
  * hash-bucketed on `bucketCols` and directory-partitioned on an int
  * `wave_added` column — the storage layout that makes the per-wave
  * anti-join against the cumulative URL-seen set shuffle-free on the
  * seen side (the scan reports HashPartitioning(bucketCols, buckets),
  * so only the wave's candidates get exchanged; `Bucketed: true` in
  * the plan, asserted by PlanSpec).
  *
  * - Appends go through `insertInto` so every file carries bucket
  *   metadata; callers should pre-partition the input by
  *   `repartition(buckets, bucketCols)` so each task holds exactly one
  *   bucket (no small-file explosion).
  * - Wave commits stay idempotent: the wave's partition (catalog entry
  *   AND directory) is dropped before re-insert, so a crashed wave's
  *   torn data cannot leak into a resumed run.
  * - The catalog entry is session-scoped (in-memory catalog); a new
  *   JVM re-registers the existing files via CREATE TABLE + MSCK
  *   REPAIR (the Iceberg-runtime swap point, SURVEY.md §1.4).
  */
class BucketedLakeTable(
    spark: SparkSession, rootDir: String, name: String,
    columnsDdl: String,           // data columns, e.g. "kind STRING, url STRING, ..."
    val bucketCols: Seq[String],
    val buckets: Int
) extends WaveTable(rootDir, name) {
  import org.apache.spark.sql.functions.col

  /** Unique per lakeRoot so many engines can share one session. */
  val tableName: String = {
    // md5, not String.hashCode: a 32-bit collision between two lake
    // roots in one session would silently share the catalog entry and
    // its LOCATION (cross-contaminated seen sets, no error)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(Paths.get(rootDir).toAbsolutePath.toString.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    s"graft_${name}_$h"
  }

  @volatile private var registered = false

  def ensureRegistered(): Unit = if (!registered) synchronized {
    Files.createDirectories(dataDir)
    if (!spark.catalog.tableExists(tableName)) {
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $tableName ($columnsDdl, wave_added INT)
           |USING PARQUET
           |PARTITIONED BY (wave_added)
           |CLUSTERED BY (${bucketCols.mkString(", ")}) INTO $buckets BUCKETS
           |LOCATION '${dataDir.toAbsolutePath}'""".stripMargin)
      if (Lake.listNames(dataDir).exists(_.startsWith("wave_added=")))
        spark.sql(s"MSCK REPAIR TABLE $tableName")
    }
    registered = true
  }

  /** Stage `df` (data columns + wave_added) as snapshot `wave`.
    * Idempotent: drops any torn partition for `wave` first. */
  def commit(wave: Int, df: DataFrame): SnapshotMeta = {
    Lake.testCommitHook(name, wave)
    ensureRegistered()
    val partDir = dataDir.resolve(s"wave_added=$wave")
    // torn-wave cleanup only when a previous attempt left data — the
    // normal path skips the catalog round-trip entirely
    if (Files.exists(partDir)) {
      spark.sql(s"ALTER TABLE $tableName DROP IF EXISTS PARTITION (wave_added=$wave)")
      Lake.listPaths(partDir).foreach(Files.deleteIfExists(_))
      Files.deleteIfExists(partDir)
    }
    df.write.mode("append").insertInto(tableName)
    staged(wave, partDir, df.schema)
  }

  /** Cumulative catalog-table read through `wave`, capped at this
    * table's latest committed wave — partition-pruned,
    * bucket-partitioned (join-ready without a shuffle on this side). */
  def readThrough(throughWave: Int): DataFrame =
    readStaged(math.min(throughWave, latestWave.getOrElse(-1)))

  /** [[readThrough]] without the cap, for the writer only: every wave
    * through `throughWave` must be complete or staged by its own
    * commit, whose manifest has not landed yet. */
  def readStaged(throughWave: Int): DataFrame = {
    ensureRegistered()
    spark.table(tableName).filter(col("wave_added") <= throughWave)
  }

  def readAll(): DataFrame = readThrough(Int.MaxValue)
}

/** Run-level commit log, and the one commit point of a crawl lake:
  * wave k is COMPLETE iff `_run/wave-<k>.json` exists. That manifest
  * lists every table's snapshot k plus the wave's stats and lands by
  * one atomic rename after the tables staged their data. Resume scans
  * for the max complete wave and restarts the loop there.
  */
class RunLog(rootDir: String) {
  private val runDir = Paths.get(rootDir, "_run")
  Files.createDirectories(runDir)

  private def manifestPath(wave: Int): Path = runDir.resolve(s"wave-$wave.json")

  /** Make wave `wave` complete: publish its staged table snapshots. */
  def commit(wave: Int, tables: Seq[SnapshotMeta], stats: Map[String, Long]): Unit = {
    Lake.testCommitHook("_run", wave)
    val node = Lake.mapper.createObjectNode()
    node.put("wave", wave)
    val s = node.putObject("stats")
    stats.foreach { case (k, v) => s.put(k, v) }
    val arr = node.putArray("tables")
    tables.foreach(t => arr.add(SnapshotMeta.toJson(t)))
    Lake.writeAtomically(manifestPath(wave), node)
  }

  private def manifest(wave: Int): Option[JsonNode] = {
    val p = manifestPath(wave)
    if (!Files.exists(p)) None else Some(Lake.mapper.readTree(Files.readString(p)))
  }

  def stats(wave: Int): Map[String, Long] =
    manifest(wave).map(_.get("stats").properties().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap).getOrElse(Map.empty)

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
