package graft.crawl

import graft.SparkTestBase

/** The skew-safety of budget-capped admission (SURVEY.md §7 hard part
  * 5): with a viral host holding 100k+ candidates, the per-host
  * admission window would receive that entire flood in ONE partition
  * (the wave's single-task straggler at scale). Admission.admit, the
  * expression runWave runs, must (a) plan a map-side group limit under
  * the window's host exchange, (b) so that exchange ships at most
  * (map tasks x limit) rows of a host, and (c) admit exactly each
  * host's remaining budget in canonical order. */
class AdmissionSpec extends SparkTestBase {

  test("admission window input is group-limited and exact") {
    val spark0 = spark
    import spark0.implicits._
    val visitLimit = 256
    val mapTasks = 16

    // hot host: 120k candidates; 10 cold hosts: 50 each; mixed prior
    // budgets (hot host half-spent, one cold host fully spent)
    val rows =
      (0 until 120000).map(i => ("page", f"http://hot.test/p$i%06d", 0, "hot.test")) ++
      (for (h <- 0 until 10; i <- 0 until 50)
        yield ("page", s"http://c$h.test/p$i", 0, s"c$h.test"))
    val visits = Map("hot.test" -> 128L, "c0.test" -> 257L)
    val base = rows.toDF("kind", "url", "depth", "host")
      .join(visits.toSeq.toDF("host", "visits"), Seq("host"), "left").na.fill(0L, Seq("visits"))
      .repartition(mapTasks)

    // driver-side reference: per host, the first (visitLimit + 1 -
    // visits) rows in (kind, url, depth) order, at most `quota`
    def reference(quota: Int) = rows.groupBy(_._4).values.flatMap { hs =>
      val remaining = visitLimit + 1 - visits.getOrElse(hs.head._4, 0L).toInt
      hs.sortBy(r => (r._1, r._2, r._3)).take(math.min(quota, remaining))
    }.toSet

    for ((quota, limit) <- Seq(None -> (visitLimit + 1), Some(100) -> 100)) {
      val admitted = Admission.admit(base, visitLimit, quota).as[(String, String, Int, String)]
      val got = admitted.collect().toSet
      // (c) exactness
      val want = reference(quota.getOrElse(Int.MaxValue))
      assert(got == want, s"quota $quota: admitted ${got.size} rows, reference ${want.size}; " +
        s"only admitted ${(got diff want).take(3)}, only reference ${(want diff got).take(3)}")
      assert(got.count(_._4 == "hot.test") == math.min(limit, visitLimit + 1 - 128))
      assert(!got.exists(_._4 == "c0.test"), "spent host must be dropped entirely")

      // (a) the bound's plan: the window's host exchange reads a
      // partial group limit at min(quota, visitLimit + 1)
      val limited = graft.Plans.groupLimitedExchanges(admitted.queryExecution.executedPlan)
      assert(limited.size == 1, s"quota $quota: ${limited.size} group-limited exchanges")
      val (exchange, g) = limited.head
      assert(g.partitionSpec.map(_.sql) == Seq("host") && g.limit == limit,
        s"quota $quota: group limit on ${g.partitionSpec.map(_.sql)} at ${g.limit}, want host at $limit")

      // (b) the bound is material: each map task ships at most `limit`
      // rows of a host, against the 120,500-row flood without it
      val shipped = exchange.metrics("shuffleRecordsWritten").value
      assert(shipped <= mapTasks.toLong * limit + 500,
        s"quota $quota: the window's exchange shipped $shipped rows")
    }
  }

  test("shuffled (non-broadcast) budget join path conforms to RefSim") {
    // with broadcasts off, Catalyst plans the 10^7-host shape on a small
    // crawl (plain shuffled budget join, budget rewrite off the
    // aggregation's host exchange); the admitted/seen results must be
    // bit-identical to the broadcast path (i.e. to RefSim)
    val spark0 = spark
    import spark0.implicits._
    import graft.Plans.{captured, nodes, scans, withConf}
    import graft.core.{Finding, RefSim, SynthWeb}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val web = SynthWeb.WebConfig(nHosts = 6, pagesPerHost = 25, imagesPerHost = 8)
    val seeds = SynthWeb.seeds(3)
    val sim = RefSim.run(seeds, web)
    val crawler = new Crawler(spark, CrawlConfig(
      web = web, seeds = seeds, lakeRoot = tmpDir("shuffled_budget"),
      fetchPartitions = 8, saltSlots = 2))
    val qes = withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
      captured(spark)(crawler.run())
    }
    val budgetJoins = qes.flatMap(qe => nodes(qe.executedPlan))
      .collect { case j: BaseJoinExec if scans(j.right, "host_budget") => j }
    assert(budgetJoins.nonEmpty, "no budget join ran")
    assert(!budgetJoins.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "the budget was broadcast with broadcasts off")
    val engineSeen = crawler.seenT.readAll()
      .select($"kind", $"url", $"depth").as[(String, String, Int)]
      .collect().map(t => Finding(t._1, t._2, t._3)).toSet
    assert(engineSeen == sim.seen,
      s"shuffled-budget path diverged: engine=${engineSeen.size} sim=${sim.seen.size}")
    val lastWave = crawler.budgetT.latestWave.get
    val visits = crawler.budgetT.readWave(lastWave).as[(String, Long)].collect().toMap
    assert(visits == sim.hostVisits)
  }
}
