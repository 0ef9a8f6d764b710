package graft

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for selected registry queries to files —
  * the plan-evidence channel for optimization rounds (the committed
  * `plans/rNN/` text files).
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <tag> <name>[,<name>…]`
  * writes `<outDir>/<name>_<tag>.txt` per query. Names are exact registry
  * keys or prefixes (the Bench SPARK_GRAFT_BENCH_ONLY convention).
  *
  * The session mirrors Bench (UTC, shuffle partitions = cores) so the
  * dumped plans are the shapes the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <tag> <names-csv>")
    val Array(sfDir, outDir, tag, namesCsv) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "10000") // r13, see Bench
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    QuietLogs.suppressAuditedWindowWarning() // r14: see QuietLogs
    graft.functions.GraftExtensions.register(spark)
    val prefixes = namesCsv.split(',').toSet
    val names = SparkEntry.queries.keys.toVector
      .filter(n => prefixes.exists(n.startsWith))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val txt = Graft.scoped(SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), txt)
        println(s"[plandump] wrote $name ($tag)")
      } catch { case e: Throwable =>
        println(s"[plandump] FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
