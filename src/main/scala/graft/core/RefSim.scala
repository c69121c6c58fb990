package graft.core

import scala.collection.mutable

/** A Finding mirrors the reference's one record type
  * (`enum Finding { Page(Url, u8), Image(Url) }`,
  * /root/reference/src/main.rs:58-62). `depth` is 0 for images — the
  * Image variant carries no depth, so equality on (kind, url, 0) matches
  * the enum's derived Eq/Hash.
  */
final case class Finding(kind: String, url: String, depth: Int) {
  def host: String = Canon.hostOf(url)
}

object Finding {
  val Page = "page"
  val Image = "image"
}

/** The page-processing KERNEL shared by the distributed engine and the
  * RefSim oracle: process_page (src/main.rs:161-173) — origin-base
  * rewrite, tokenize, resolve; per-page HashSet dedup
  * (src/main.rs:193-204). Living here (not inside either caller) makes
  * the sharing explicit: conformance proves the DISTRIBUTED PLAN
  * (admission order, dedup, budgets, wave structure); the kernel itself
  * is proven by its own unit + property suites (CanonSpec, HtmlTokSpec,
  * PropertiesSpec). */
object PageKernel {
  def processPage(pageUrl: String, html: String, depth: Int): Set[Finding] = {
    val origin = Canon.canonicalize(pageUrl).get.origin
    val links = HtmlTok.extract(html)
    val pages = links.pageLinks.flatMap(Canon.resolveLink(_, origin))
      .map(u => Finding(Finding.Page, u.render, depth))
    val images = links.imageLinks.flatMap(Canon.resolveLink(_, origin))
      .map(u => Finding(Finding.Image, u.render, 0))
    (pages ++ images).toSet
  }
}

/** Single-threaded conformance oracle: a literal simulation of
  * main.rs's wave loop (src/main.rs:86-147) over the synthetic web,
  * with ONE fixed linearization — per wave, the queue is processed in
  * canonical (host, kind, url, depth) order (SURVEY.md §3.4). The
  * reference's own within-wave order is nondeterministic (HashSet
  * iteration + FuturesUnordered completion), so any linearization is a
  * valid execution; engine and oracle share this one, making ordering
  * AND URL-seen set comparable bit-for-bit.
  *
  * Reproduced literally:
  *  - 257 admissions/host: skip iff visits > 256, increment after
  *    (src/main.rs:103-107)
  *  - budget shared by pages and images, cumulative across waves
  *  - children inherit the PARENT's depth, never incremented
  *    (src/main.rs:166,198-201); gate `depth < limit` (src/main.rs:132)
  *  - seeds are NEVER pre-archived — a crawled page linking back to a
  *    seed re-enqueues it once (src/main.rs:87-92,129-130)
  *  - fetch errors warn-and-drop, never fail the wave (src/main.rs:136,143)
  */
object RefSim {

  /** Per-wave counters mirroring the engine's S6 metrics rows
    * (summed over host buckets): candidates = frontier size, admitted,
    * page fetch outcomes, novel findings, duplicate references dropped
    * by the wave-level candidate dedup (refs - 1 summed over novel),
    * and images successfully written. */
  final case class WaveStats(
      candidates: Long, admitted: Long, fetchOk: Long, fetchErr: Long,
      novel: Long, dupDropped: Long, imagesWritten: Long)

  final case class SimResult(
      frontiers: Vector[Vector[Finding]], // queue at the top of each wave, canonical order
      seen: Set[Finding],                 // final archive
      hostVisits: Map[String, Long],
      admissions: Vector[(Int, Finding)], // (wave, finding) in admission order
      imageIds: Vector[String],           // successfully fetched image urls, admission order
      waveStats: Vector[WaveStats]
  )

  /** Schwartzian sort: Finding.host is a full URL parse per call, and
    * Ordering.by re-derives the key on EVERY comparison — 2·n·log n
    * parses per wave sort. Precompute one key per element instead. */
  private def canonicalSort(fs: Vector[Finding]): Vector[Finding] =
    fs.map(f => ((f.host, f.kind, f.url, f.depth), f)).sortBy(_._1).map(_._2)

  def run(
      seedUrls: Seq[String],
      cfg: SynthWeb.WebConfig,
      depthLimit: Int = 4,
      hostVisitLimit: Int = 256,
      maxWaves: Int = 1000
  ): SimResult = {
    // parse_cli_args: Url::parse().unwrap() — panic on malformed seed
    val seeds: Seq[Canon.Uri] = seedUrls.map { s =>
      Canon.canonicalize(s).getOrElse(throw new IllegalArgumentException(s"malformed seed: $s"))
    }
    // HashSet<Url> dedup by parsed equality
    var queue: Vector[Finding] =
      canonicalSort(seeds.map(u => Finding(Finding.Page, u.render, 0)).distinct.toVector)

    val archive = mutable.HashSet.empty[Finding]
    val hostVisits = mutable.HashMap.empty[String, Int]
    val frontiers = Vector.newBuilder[Vector[Finding]]
    val admissions = Vector.newBuilder[(Int, Finding)]
    val imageIds = Vector.newBuilder[String]
    val waveStats = Vector.newBuilder[WaveStats]

    var wave = 0
    while (queue.nonEmpty && wave < maxWaves) {
      frontiers += queue

      // --- dispatch loop: budget admission in canonical order ---
      val admitted = Vector.newBuilder[Finding]
      queue.foreach { f =>
        val host = f.host
        if (host.nonEmpty) { // `else continue` on missing host (src/main.rs:100-102)
          val v = hostVisits.getOrElse(host, 0)
          if (v <= hostVisitLimit) { // skip iff v > 256
            hostVisits(host) = v + 1
            admitted += f
            admissions += ((wave, f))
          }
        }
      }
      val adm = admitted.result()

      // --- spiders: pages, responses processed in canonical order ---
      val next = Vector.newBuilder[Finding]
      var fetchOk = 0L
      var fetchErr = 0L
      var novelCount = 0L
      var refsOnNovel = 0L // total per-page references to novel findings
      val novelThisWave = mutable.HashSet.empty[Finding]
      // fetchFollowing: redirects followed like reqwest (<=10 hops);
      // the findings resolve against the REQUEST url f.url, not the
      // final url (src/main.rs:157,163-164)
      adm.iterator.filter(_.kind == Finding.Page).foreach { f =>
        SynthWeb.fetchFollowing(f.url, cfg) match {
          case SynthWeb.PageBody(html) =>
            fetchOk += 1
            val findings = processPage(f.url, html, f.depth)
            // wave-level metrics bookkeeping: a finding novel to the
            // wave counts every page reference (engine: candidate
            // groupBy refs), even from pages after the first
            refsOnNovel += findings.count(fd =>
              novelThisWave.contains(fd) || !archive.contains(fd))
            val novel = findings.filterNot(archive.contains)
            novelThisWave ++= novel
            novelCount += novel.size
            archive ++= novel
            if (f.depth < depthLimit) next ++= novel
          case _ => fetchErr += 1 // warn + drop (src/main.rs:136)
        }
      }

      // --- fetchers: images ---
      var imagesWritten = 0L
      adm.iterator.filter(_.kind == Finding.Image).foreach { f =>
        SynthWeb.fetchFollowing(f.url, cfg) match {
          case _: SynthWeb.ImageBody => imageIds += f.url; imagesWritten += 1
          case _                     => () // warn + drop (src/main.rs:143)
        }
      }

      waveStats += WaveStats(
        candidates = queue.size.toLong,
        admitted = adm.size.toLong,
        fetchOk = fetchOk, fetchErr = fetchErr,
        novel = novelCount, dupDropped = refsOnNovel - novelCount,
        imagesWritten = imagesWritten)
      queue = canonicalSort(next.result().distinct)
      wave += 1
    }

    SimResult(
      frontiers.result(),
      archive.toSet,
      hostVisits.iterator.map { case (h, v) => (h, v.toLong) }.toMap,
      admissions.result(),
      imageIds.result(),
      waveStats.result()
    )
  }

  /** See [[PageKernel.processPage]] — the shared kernel. */
  def processPage(pageUrl: String, html: String, depth: Int): Set[Finding] =
    PageKernel.processPage(pageUrl, html, depth)
}
