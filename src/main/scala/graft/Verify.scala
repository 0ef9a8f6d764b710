package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes (local
    // iteration aid; the driver passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "10000") // r13, see Bench
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    QuietLogs.suppressAuditedWindowWarning() // r14: see QuietLogs
    graft.functions.GraftExtensions.register(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith))
    }.foreach { case (name, fn) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      try Graft.scoped {
        val df = fn(spark, sfDir)
        // Driver compare: DuckDB oracles emit naive TIMESTAMP; Spark's
        // derived timestamps are session-TZ LTZ and parquet-dump as
        // timestamp[us, tz=UTC], red-flagging schema_match even when every
        // value agrees. Session TZ is UTC, so the NTZ cast is value-exact.
        import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
        import org.apache.spark.sql.functions.col
        val out = df.schema.fields.collect {
          case f if f.dataType == TimestampType => f.name
        } match {
          case Array() => df
          case tsCols => df.select(df.columns.map { c =>
            if (tsCols.contains(c)) col(c).cast(TimestampNTZType).as(c)
            else col(c)
          }: _*)
        }
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val left = spark.sparkContext.getPersistentRDDs.keySet.toSet --
        before -- engine.Pin.memoRddIds
      if (left.nonEmpty)
        System.err.println(s"[verify] $name left ${left.size} pinned " +
          s"RDD(s) beyond the memos: ${left.toSeq.sorted.mkString(",")}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
