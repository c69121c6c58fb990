package graft.crawl

import graft.SparkTestBase

/** The skew-safety property of the budget-aware admission pre-limit
  * (SURVEY.md §7 hard part 5): with a viral host holding 100k+
  * candidates, the global per-host admission window would receive that
  * entire flood in ONE partition (the wave's single-task straggler at
  * scale). The pre-limit must (a) bound what reaches the window to
  * saltSlots * remaining rows per host and (b) change NOTHING about
  * which rows are admitted. */
class AdmissionSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  test("pre-limit bounds per-host window input and preserves the admitted set exactly") {
    val spark0 = spark
    import spark0.implicits._
    val visitLimit = 256
    val saltSlots = 8

    // hot host: 120k candidates; 10 cold hosts: 50 each; mixed prior
    // budgets (hot host half-spent, one cold host fully spent)
    val rows =
      (0 until 120000).map(i => ("page", f"http://hot.test/p$i%06d", 0, "hot.test")) ++
      (for (h <- 0 until 10; i <- 0 until 50)
        yield ("page", s"http://c$h.test/p$i", 0, s"c$h.test"))
    val budget = Seq(("hot.test", 128L), ("c0.test", 257L)).toDF("host", "visits")
    val base = rows.toDF("kind", "url", "depth", "host")
      .join(broadcast(budget), Seq("host"), "left").na.fill(0L, Seq("visits"))
      .repartition(16)

    val pre = Admission.preLimit(base, visitLimit, saltSlots)

    // (a) the bound: each host contributes at most saltSlots * remaining
    val perHost = pre.groupBy($"host").count().as[(String, Long)].collect().toMap
    assert(perHost("hot.test") <= saltSlots.toLong * (visitLimit + 1 - 128),
      s"hot host not bounded: ${perHost("hot.test")}")
    assert(!perHost.contains("c0.test"), "spent host must be dropped entirely")
    assert(perHost("c1.test") == 50) // under budget: untouched
    // vs the unbounded flood the window would otherwise sort in one task
    assert(perHost("hot.test") < 120000 / 50, s"bound not material: ${perHost.get("hot.test")}")

    // (b) exactness: admitted set identical with and without pre-limit
    def admit(in: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"host").orderBy($"kind", $"url", $"depth")
      in.withColumn("rn", row_number().over(w))
        .filter($"visits" + $"rn" <= lit(visitLimit + 1))
        .select($"kind", $"url", $"depth", $"host")
    }
    val withPre = admit(pre).collect().map(_.toSeq).toSet
    val without = admit(base).collect().map(_.toSeq).toSet
    assert(withPre == without, s"pre-limit changed admission: ${(withPre diff without).take(3)}")
    assert(withPre.count(_.apply(3) == "hot.test") == visitLimit + 1 - 128)
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
