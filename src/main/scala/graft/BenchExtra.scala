package graft

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
    val spark = Bench.session(cpus)
    try mode match {
      case "time" =>
        val names = if (args.length > 1) args.drop(1).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        names.foreach { name =>
          val fn = SparkEntry.queries(name)
          spark.catalog.clearCache()
          spark.sparkContext.setJobDescription(s"bx:$name")
          def once(): Double = {
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          val t = math.min(once(), once())
          out(name) = t
          println(f"BX $name%-28s $t%8.3f s (noop, best of 2)")
        }
        println(out.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
          .mkString("BXJSON {", ",", "}"))
      case "time-count" =>
        // the frozen Bench's own methodology (count, best of 2) for
        // targeted before/after checks on single queries
        val names = if (args.length > 1) args.drop(1).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { name =>
          val fn = SparkEntry.queries(name)
          spark.catalog.clearCache()
          def once(): Double = {
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"BX $name%-28s ${math.min(once(), once())}%8.3f s (count, best of 2)")
        }
      case "plans" =>
        val outDir = args(1)
        val suffix = args(2)
        val names = if (args.length > 3) args.drop(3).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"BX wrote $outDir/$name$suffix.txt")
        }
      case "plans-final" =>
        // POST-execution adaptive plans (isFinalPlan=true): what AQE
        // actually ran — exchange reuse (ReusedExchange), runtime join
        // rewrites and AQEShuffleRead coalescing are only visible here,
        // not in the pre-execution `plans` dumps. collect() executes
        // this exact QueryExecution in place (declared outputs are
        // small); the driver's own methodology is untouched.
        val outDir = args(1)
        val suffix = args(2)
        val names = if (args.length > 3) args.drop(3).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { name =>
          spark.catalog.clearCache()
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.collect()
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"BX wrote $outDir/$name$suffix.txt")
        }
    } finally spark.stop()
  }
}
