package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry.queries entry, timed by a full
  * noop-write materialization, over SPARK_GRAFT_SF_DIR.
  *
  * Protocol: the registry is run SPARK_GRAFT_BENCH_RUNS times (default 3)
  * in interleaved full passes — pass 1 of every query, then pass 2, then
  * pass 3 — so a transient host-contention window inflates at most one
  * sample per query instead of a whole family. Per-query time is the
  * MEDIAN of its samples (single-run numbers on this box swing up to
  * 7.6x on unchanged code; see VERDICT r9). The full per-query medians +
  * [min,max] spread go to bench_result.json; stdout's final line is a
  * COMPACT summary (< 2 kB) because the driver only captures the last
  * 2000 characters of stdout — a 300-query map decapitates the line and
  * the round's BENCH artifact records parsed:null (r8, r9).
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) -1.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // r13: the 100-entry default codegen cache thrashes under a
      // 444-query registry (thousands of generated sources per pass) —
      // every stage re-pays a ~300-500 ms Janino compile that 32
      // concurrent tasks then all block on. Compiled-class caching is
      // input-independent (never caches data or results) and strictly
      // reduces class generation; measured q216 5.3->2.8 s, q349
      // 10.2->6.6 s, q374 4.7->3.3 s at sf0.1.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    QuietLogs.suppressAuditedWindowWarning() // r14: see QuietLogs
    graft.functions.GraftExtensions.register(spark)
    // Warm the session once (codegen compiler, parquet footers, FS cache)
    // so the first measured query doesn't absorb JVM/session startup.
    Seq("lineitem", "orders", "events", "documents", "embeddings").foreach {
      t =>
        try Queries.T(spark, sfDir, t).write.format("noop")
          .mode("overwrite").save()
        catch { case _: Throwable => () }
    }
    // Calibration probes (r13, VERDICT #7): three fixed micro-workloads
    // — pure CPU (synthetic range + hash arithmetic), pure shuffle
    // (synthetic keyed aggregate), pure scan (the largest input table)
    // — timed median-of-3 each run, so cross-round per-query deltas can
    // be read against the box's speed THAT run instead of assuming a
    // constant machine (measured same-day drift on this box: ±15-20%,
    // r12 verdict). Synthetic inputs: nothing cached, nothing keyed on
    // the test data; reported in a separate `calibration` field — NOT
    // added to `queries`/`value`, so totals stay comparable.
    import org.apache.spark.sql.functions.{col, lit, xxhash64, pmod,
      count => fcount, sum => fsum}
    def cal(f: => Unit): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      median(ts)
    }
    // shiftright keeps each term within 2³², so the 48M-row ANSI sum
    // cannot overflow int64
    import org.apache.spark.sql.functions.shiftright
    val calCpu = cal(spark.range(0, 192L * 1000 * 1000, 1, cpus.toInt)
      .select(fsum(shiftright(xxhash64(col("id")), 32) +
        shiftright(xxhash64(col("id"), lit(1)), 32)))
      .write.format("noop").mode("overwrite").save())
    val calShuffle = cal(spark.range(0, 4L * 1000 * 1000, 1, cpus.toInt)
      .groupBy(pmod(xxhash64(col("id")), lit(100000)).as("k"))
      .agg(fcount(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save())
    val calScan = cal(
      try Queries.T(spark, sfDir, "lineitem").write.format("noop")
        .mode("overwrite").save()
      catch { case _: Throwable => () })
    // Optional subset filter for scale spot-checks (comma-separated
    // name prefixes); the driver sets nothing, so its runs stay full.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val names = SparkEntry.queries.keys.toVector
      .filter(n => only.forall(_.exists(n.startsWith)))
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val passTotals = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (pass <- 1 to runs) {
      val p0 = System.nanoTime()
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        // noop write materializes EVERY column (count() would let Spark
        // prune value columns and flatter column-heavy queries); a crashed
        // query records the -1 sentinel so failures can't masquerade as
        // fast runs
        val ok =
          try { Graft.scoped(fn(spark, sfDir).write.format("noop")
              .mode("overwrite").save()); true }
          catch { case e: Throwable =>
            System.err.println(
              s"[bench] $name failed (pass $pass): ${e.getMessage}"); false
          }
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        samples(name) = samples.getOrElse(name, Vector.empty) :+ dt
      }
      passTotals += (System.nanoTime() - p0) / 1e9
      System.err.println(f"[bench] pass $pass/$runs: ${passTotals.last}%.1f s")
    }
    // Median over SUCCESSFUL samples; -1 only when every pass failed, so a
    // one-pass crash can't drag a real median negative.
    val med: Map[String, Double] = names.map { n =>
      val good = samples(n).filter(_ >= 0.0)
      n -> (if (good.isEmpty) -1.0 else median(good))
    }.toMap
    val total = names.map(med).filter(_ >= 0.0).sum
    val failed = names.filter(med(_) < 0.0)
    def jnum(v: Double): String = f"$v%.6f"
    val fullQs = names.map(n => "\"" + n + "\":" + jnum(med(n)))
      .mkString("{", ",", "}")
    val spread = names.map { n =>
      val good = samples(n).filter(_ >= 0.0)
      val (lo, hi) = if (good.isEmpty) (-1.0, -1.0) else (good.min, good.max)
      "\"" + n + "\":[" + jnum(lo) + "," + jnum(hi) + "]"
    }.mkString("{", ",", "}")
    // Pass 1 is the COLD pass: the session-memoized frames (the LSH
    // pair/edge/neighbor memos shared by the dedup-chain, graph and
    // DBSCAN families) are built during it and reused by passes 2+, so
    // median-of-3 under-reports those families' cold cost (q69-class
    // spreads up to 139x). cold/cold_total keep the cold truth in-band
    // so cross-round compares don't silently ride warmer memo coverage.
    val coldQs = names.map(n => "\"" + n + "\":" +
      jnum(samples(n).headOption.getOrElse(-1.0))).mkString("{", ",", "}")
    val coldTotal = names.map(n => samples(n).headOption.getOrElse(-1.0))
      .filter(_ >= 0.0).sum
    val memoNote = "pass 1 builds the session memos (LSH pair frames, " +
      "graph edge frames, DBSCAN neighbor frame); passes 2+ are " +
      "memo-warm for those families"
    val calibration = s"""{"cpu":${jnum(calCpu)},"shuffle":${jnum(
        calShuffle)},"scan":${jnum(calScan)}}"""
    val full =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","runs":$runs,"queries":$fullQs,"spread":$spread,"cold":$coldQs,"cold_total":${jnum(coldTotal)},"memo_note":"$memoNote","pass_totals":[${passTotals.map(jnum).mkString(",")}],"calibration":$calibration,"failed":[${failed.map("\"" + _ + "\"").mkString(",")}],"sf":"$sfDir"}"""
    // Compact final line: top-12 slowest medians stand in for the full map
    // so the line survives the driver's 2000-char tail capture.
    val top = names.sortBy(-med(_)).take(12)
      .map(n => "\"" + n + "\":" + jnum(med(n))).mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","runs":$runs,"nq":${names.length},"failed":${failed.length},"cold_total":${jnum(coldTotal)},"calibration":$calibration,"queries":$top,"detail":"bench_result.json","sf":"$sfDir"}"""
    // Stop Spark FIRST so no shutdown logging can land after (or interleave
    // with) the JSON; persist the full map to a file as the
    // log-truncation-proof channel.
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop failed: ${e.getMessage}")
    }
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "bench_result.json")), full + "\n")
    catch { case _: Throwable => () }
    println(compact)
  }
}
