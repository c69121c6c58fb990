package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Canon, HtmlTok, Imaging, PageKernel, RefSim, SynthWeb}
import graft.crawl.CrawlConfig
import graft.lake.{BucketedLakeTable, LakeTable, RunLog}

/** Output checks. Every digest the benchmark compares against is a
  * frozen file under `perfbench/digests`, written once by `freeze.py`;
  * a change to the program that alters its outputs fails the check. */
object Checks {
  val mapper = new ObjectMapper()

  def sha(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.toVector.sorted.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def shaBytes(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  def readJson(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else mapper.readTree(Files.readString(p)).properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap

  def writeJson(p: Path, m: Map[String, String]): Unit = {
    val node = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    Files.createDirectories(p.getParent)
    Files.writeString(p, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node) + "\n")
  }

  // ------------------------------------------------------------- crawl

  /** Digest of a finished crawl: seen set, host visits, image ids,
    * admissions and wave count. */
  final case class CrawlDigest(seen: String, seenN: Long, visits: String, images: String,
                               imagesN: Long, admitted: Long, waves: Int) {
    def toMap: Map[String, String] = Map("seen" -> seen, "seen_n" -> seenN.toString,
      "visits" -> visits, "images" -> images, "images_n" -> imagesN.toString,
      "admitted" -> admitted.toString, "waves" -> waves.toString)
  }

  def refDigest(sim: RefSim.SimResult): CrawlDigest = CrawlDigest(
    sha(sim.seen.toSeq.map(f => s"${f.kind}\t${f.url}\t${f.depth}")), sim.seen.size.toLong,
    sha(sim.hostVisits.map { case (h, v) => s"$h\t$v" }),
    sha(sim.imageIds), sim.imageIds.size.toLong,
    sim.admissions.size.toLong, sim.frontiers.size)

  def runRef(cfg: CrawlConfig): RefSim.SimResult =
    RefSim.run(cfg.seeds, cfg.web, cfg.depthLimit, cfg.hostVisitLimit, cfg.maxWaves)

  /** Reads the crawl's committed outputs back from its lake and checks
    * them against `expected` (a digest map). Returns the engine digest
    * and a list of problems (empty when the output is correct). */
  def checkCrawl(spark: SparkSession, cfg: CrawlConfig,
                 expected: Map[String, String]): (CrawlDigest, Seq[String]) = {
    val last = new RunLog(cfg.lakeRoot).lastCompleteWave.getOrElse(0)
    val seenT = new BucketedLakeTable(spark, cfg.lakeRoot, "seen",
      "kind STRING, url STRING, depth INT, url_hash BIGINT", Seq("kind", "url", "depth"), cfg.seenBuckets)
    val seen = seenT.readThrough(last).select("kind", "url", "depth").collect()
      .map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getInt(2)}")
    val visits = new LakeTable(spark, cfg.lakeRoot, "host_budget").readWave(last).collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Long]("visits")))
    val imgs = new LakeTable(spark, cfg.lakeRoot, "images").readThrough(last)
      .select("image_id", "caption", "bytes", "w", "h").collect()
    val got = CrawlDigest(sha(seen), seen.length.toLong, sha(visits.map { case (h, v) => s"$h\t$v" }),
      sha(imgs.map(_.getString(0))), imgs.length.toLong, visits.map(_._2).sum, last)
    val problems = Seq.newBuilder[String]
    if (got.toMap != expected) problems += s"engine ${got.toMap} != expected $expected"
    val badCaptions = imgs.count(r => r.getString(1) != SynthWeb.caption(r.getString(0)))
    if (badCaptions > 0) problems += s"$badCaptions captions differ from SynthWeb.caption"
    // a fixed sample of stored images must decode close to their source
    val sample = imgs.sortBy(_.getString(0)).zipWithIndex.collect { case (r, i) if i % 37 == 0 => r }
    sample.foreach { r =>
      val id = r.getString(0)
      val p = Imaging.psnr(Imaging.decode(r.getAs[Array[Byte]](2)),
        Imaging.synthPixels(id, r.getInt(3), r.getInt(4)))
      if (!(p >= 40.0)) problems += f"$id decodes at PSNR $p%.1f dB < 40"
    }
    (got, problems.result())
  }

  // ------------------------------------------------------------ kernels

  /** Pages and images drawn from a web: every host's first pages, then
    * the images those pages reference. */
  final case class Items(pageUrls: Vector[String], htmls: Vector[String],
                         hrefs: Vector[String], imageUrls: Vector[String],
                         imageBytes: Vector[Array[Byte]])

  def items(web: SynthWeb.WebConfig, nPages: Int): Items = {
    val perHost = math.max(1, (nPages + web.nHosts - 1) / web.nHosts)
    val urls = (for (j <- 0 until perHost; h <- 0 until web.nHosts) yield SynthWeb.pageUrl(h, j))
      .take(nPages).toVector
    val htmls = urls.map(u => SynthWeb.fetchFollowing(u, web) match {
      case SynthWeb.PageBody(html) => html
      case other                   => throw new IllegalStateException(s"$u: $other")
    })
    val links = htmls.map(HtmlTok.extract)
    val hrefs = links.flatMap(l => l.pageLinks ++ l.imageLinks)
    val imageUrls = urls.zip(links).flatMap { case (u, l) =>
      val origin = Canon.canonicalize(u).get.origin
      l.imageLinks.flatMap(Canon.resolveLink(_, origin)).map(_.render)
    }.distinct
    val imageBytes = imageUrls.map(u => SynthWeb.fetchFollowing(u, web) match {
      case SynthWeb.ImageBody(b, _, _, _) => b
      case other                          => throw new IllegalStateException(s"$u: $other")
    })
    Items(urls, htmls, hrefs, imageUrls, imageBytes)
  }

  /** Digest of every kernel's output over `it`. */
  def kernelDigest(it: Items): Map[String, String] = {
    val decoded = it.imageBytes.map(Imaging.decode)
    Map(
      "pages" -> sha(it.pageUrls.zip(it.htmls).map { case (u, h) => u + "\t" + h }),
      "extract" -> sha(it.htmls.zipWithIndex.map { case (h, i) =>
        val l = HtmlTok.extract(h); s"$i\t${l.pageLinks.mkString(" ")}\t${l.imageLinks.mkString(" ")}"
      }),
      "process" -> sha(it.pageUrls.zip(it.htmls).flatMap { case (u, h) =>
        PageKernel.processPage(u, h, 0).map(f => s"$u\t${f.kind}\t${f.url}\t${f.depth}")
      }),
      "canon" -> sha(it.hrefs.zipWithIndex.map { case (h, i) =>
        s"$i\t${Canon.canonicalize(h).map(_.render).getOrElse("-")}"
      }),
      "images" -> sha(it.imageUrls.zip(it.imageBytes).map { case (u, b) => u + "\t" + shaBytes(b) }),
      "decode_ahash" -> sha(it.imageUrls.zip(decoded).map { case (u, d) =>
        s"$u\t${d.getWidth}x${d.getHeight}\t${Imaging.aHash(d)}"
      }))
  }

  // -------------------------------------------------------------- sweep

  /** One action that computes every column of every row: row count
    * plus an order-independent hash (xor and high-bit sum of xxhash64
    * over all columns, renamed positionally so duplicate names work). */
  def frameDigest(df: DataFrame): (Long, Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.columns.map(col): _*)
    val r = named.agg(count(lit(1)), bit_xor(h), sum(shiftrightunsigned(h, 24))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def digestString(d: (Long, Long, Long), rowsOnly: Boolean): String =
    if (rowsOnly) s"rows=${d._1}" else s"rows=${d._1} xor=${d._2} sum=${d._3}"
}
