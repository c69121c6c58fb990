package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-6 optimization harness (guide §1.4/§1.5) — SEPARATE from the
  * frozen [[Bench]]: per-query isolation timing with the noop sink
  * (times the computation, not the sink, and defeats count()'s column
  * pruning) plus `.explain("formatted")` plan dumps for the
  * plans/r06 deliverable. Never part of the driver protocol.
  *
  * Usage:
  *   runMain graft.BenchExtra time q_ngram_jaccard q_semdedup …
  *   runMain graft.BenchExtra plans /root/repo/plans/r06 _before q_x …
  * With no query names: all declared queries.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val mode = args.headOption.getOrElse("time")
    def names(from: Int): Seq[String] =
      if (args.length > from) args.drop(from).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Bench.session(cpus)
    try mode match {
      case "time" =>
        val out = time(spark, sfDir, names(1), "noop")(
          _.write.format("noop").mode("overwrite").save())
        println(out.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
          .mkString("BXJSON {", ",", "}"))
      // the frozen Bench's own methodology (count, best of 2) for
      // targeted before/after checks on single queries
      case "time-count" => time(spark, sfDir, names(1), "count")(_.count())
      case "plans" => plans(spark, sfDir, args(1), args(2), names(3), executeFirst = false)
      // POST-execution adaptive plans (isFinalPlan=true): what AQE
      // actually ran — exchange reuse (ReusedExchange), runtime join
      // rewrites and AQEShuffleRead coalescing are only visible here,
      // not in the pre-execution `plans` dumps
      case "plans-final" => plans(spark, sfDir, args(1), args(2), names(3), executeFirst = true)
    } finally spark.stop()
  }

  /** Each query's best of two timed runs of `action` (building the
    * frame included), one printed line per query. */
  private def time(spark: SparkSession, sfDir: String, names: Seq[String], label: String)(
      action: DataFrame => Unit): Seq[(String, Double)] =
    names.map { name =>
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(s"bx:$name")
      def once(): Double = {
        val t0 = System.nanoTime()
        action(SparkEntry.queries(name)(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      val t = math.min(once(), once())
      println(f"BX $name%-28s $t%8.3f s ($label, best of 2)")
      name -> t
    }

  /** Each query's formatted plan, written to `outDir/<name><suffix>.txt`.
    * With `executeFirst` the query runs first: collect() executes this
    * exact QueryExecution in place (declared outputs are small), so the
    * dump is its final adaptive plan. */
  private def plans(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
                    names: Seq[String], executeFirst: Boolean): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      if (executeFirst) spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (executeFirst) df.collect()
      val txt = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"BX wrote $outDir/$name$suffix.txt")
    }
  }
}
