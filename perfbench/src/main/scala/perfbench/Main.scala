package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.internal.SQLConf

/** JVM side of the benchmark.
  *
  *   setup <cores> [manifest.json]               a set-up sample, then the
  *                                               native input files, if any
  *   run <workload> <work> <seconds> <trace> <cores>
  *
  * `run` sets up the session, runs one cold operation, then warm
  * operations in a closed loop for `seconds` (the first half warms up,
  * the second half is measured), and writes `result.json`
  * into the work directory. With trace 1 it then repeats the loop with
  * spans and the job-group listener on, splits the flow into layers, and
  * writes every span and counter to `trace.json`.
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "setup" :: cores :: manifest =>
      val (spark, s) = session(cores.toInt)
      spark.stop()
      manifest.foreach(Writer.main)
      println(Json.render(Map("setup_s" -> s)))
    case "run" :: workload :: work :: seconds :: trace :: cores :: Nil =>
      run(workload, Paths.get(work), seconds.toDouble, trace == "1", cores.toInt)
    case _ =>
      System.err.println("usage: setup <cores> [manifest] | " +
        "run <workload> <work> <seconds> <trace 0|1> <cores>")
      sys.exit(2)
  }

  /** A session as a user of the library builds it (shuffle partitions at
    * the core count, as `graft.Bench` sets them), plus proof that the
    * extension functions are registered and both sources resolve. Returns
    * the seconds from JVM start to that point.
    */
  def session(cores: Int): (SparkSession, Double) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Graft.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    require(spark.catalog.functionExists("polyhash"), "GraftExtensions not registered")
    Seq("netcdf", "geotiff").foreach(DataSource.lookupDataSource(_, SQLConf.get))
    (spark, (System.currentTimeMillis - jvmStart) / 1e3)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = body
    (r, (System.nanoTime - t0) / 1e9)
  }

  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A fixed CPU-only loop; its time flags a noisy host. */
  private def cpuProbe(): Double = Stats.median((1 to 3).map { _ =>
    timed {
      var x = 88172645463325252L; var i = 0
      while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    } match { case (x, s) => if (x == 42L) s + 1e-9 else s }
  })

  private def opRecord(op: Op, s: Double) =
    Map("key" -> op.key, "out" -> op.out, "s" -> s)

  def run(workload: String, work: Path, seconds: Double, trace: Boolean,
      cores: Int): Unit = {
    val (spark, setupS) = session(cores)
    val sc = spark.sparkContext
    val flow = Flow(workload, spark, work)
    val tracer = new Tracer(sc)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = compiles.getCount
    val (cold, coldS) = timed(flow.run(0, tracer))
    val coldCompiles = compiles.getCount - c0

    // Closed loop: the next operation starts when the last one ends. The
    // operations that start in the first half of `seconds` (at least one)
    // warm the JIT up; those that start in the second half are measured,
    // at least three of them, and job_s is their median. Traced: in the
    // measured half, traced and untraced operations alternate, so the
    // tracing overhead is not confounded with the JIT still warming up.
    val warm = mutable.ArrayBuffer.empty[(Op, Double, Boolean)]
    val traced = mutable.ArrayBuffer.empty[Map[String, Any]]
    val listener = new GroupListener
    val loopStart = System.nanoTime
    val half = loopStart + (seconds * 0.5e9).toLong
    val deadline = loopStart + (seconds * 1e9).toLong
    def measured = warm.count(_._3)
    var k = 1
    while (System.nanoTime < deadline || measured < 3 || (trace && traced.isEmpty)) {
      val inMeasure = warm.nonEmpty && System.nanoTime >= half
      if (!(trace && inMeasure && k % 2 == 0)) {
        val (op, s) = timed(flow.run(k, tracer))
        warm += ((op, s, inMeasure))
      } else {
        val runId = f"op$k%04d"
        sc.addSparkListener(listener)
        tracer.beginRun(runId)
        val startMs = System.currentTimeMillis
        val (op, s) = timed(flow.run(k, tracer))
        val endMs = System.currentTimeMillis
        tracer.endRun()
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(listener)
        val spans = tracer.spans(runId)
        val buildS = spans.filter(sp => sp.parent < 0 && sp.build).map(_.seconds).sum
        val c = listener.counters(runId)
        traced += Map("run_id" -> runId, "op" -> opRecord(op, s),
          "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
          "spark.tasks" -> c.tasks.toDouble, "spark.task_s" -> c.taskMs / 1e3,
          "spark.gc_s" -> c.gcMs / 1e3,
          "spark.shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
          "spark.spill_mb" -> c.spill / 1048576.0,
          "spark.driver_gap_s" -> (s - listener.busyMs(runId, startMs, endMs) / 1e3),
          "spark.build_s" -> buildS, "spark.execute_s" -> (s - buildS),
          "spans" -> spans.groupBy(_.name).map { case (n, ss) =>
            n -> Map("s" -> ss.map(_.seconds).sum,
              "jobs" -> listener.counters(s"$runId/$n").jobs.toDouble,
              "task_s" -> listener.counters(s"$runId/$n").taskMs / 1e3) })
      }
      k += 1
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores, "setup_s" -> setupS,
      "cold" -> opRecord(cold, coldS),
      "warm" -> warm.map { case (o, s, m) => opRecord(o, s) + ("measured" -> m) }.toSeq,
      "retained_heap_mb" -> retainedHeapMb(),
      "pinned_rdds_left" -> sc.getPersistentRDDs.size,
      "codegen_compiles_cold" -> coldCompiles)

    if (trace) {
      sc.addSparkListener(listener)
      result("traced") = traced.toSeq
      result("layers") = flow.layers(tracer, new Prefixes(spark, listener))
      result("host.cpu_probe_s") = cpuProbe()
      Files.writeString(work.resolve("trace.json"), Json.render(Map(
        "spans" -> tracer.all.map(sp => Map("id" -> sp.id, "name" -> sp.name,
          "parent" -> sp.parent, "run_id" -> sp.runId, "start_ms" -> sp.startMs,
          "end_ms" -> sp.endMs, "build" -> sp.build)),
        "job_groups" -> listener.snapshot)))
    }
    Files.writeString(work.resolve("result.json"), Json.render(result.toMap))
    spark.stop()
  }
}

/** JSON output through the Jackson Scala module Spark already ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}
