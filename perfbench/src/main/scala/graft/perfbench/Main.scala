package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import graft.{GraftEngine, Tables}

/** Scenario benchmark driver. Runs one workload through the public
  * `GraftEngine` facade and module entry points on seeded inputs that
  * `gen.py` wrote under `--work`, and prints a result record as the
  * last line (`PERFBENCH_RESULT {...}`), which `run.py` finishes with
  * the DuckDB oracle checks.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir>
  */
object Main {
  def scenario(name: String): Scenario =
    name match {
      case "curation_flow" => new CurationFlow
      case "serve_mix" => new ServeMix
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(Tables.requiredConf._1, Tables.requiredConf._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints")
    s
  }

  /** graft.Bench's host-weather canary: fixed range -> groupBy work. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(4L << 20).selectExpr("id % 101 as k").groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("k"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cores = math.min(8, Runtime.getRuntime.availableProcessors())
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val tracer = new Tracer(trace)
    val counters = new SparkCounters
    val sc = scenario(workload)

    // Set-up: from process start (JVM start and class loading included)
    // to a session, the engine and the workload's artefacts, ready.
    val spark = session(work, cores)
    spark.sparkContext.addSparkListener(counters)
    val ctx = new Ctx(spark, new GraftEngine(spark, s"$work/data"), work, tracer, seed, cores)
    sc.setup(ctx)
    val setupS = (System.currentTimeMillis() - processStartMs) / 1e3
    val setupSpans = tracer.all
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val (setupAccs, setupJobs) = counters.snapshot()
    println(s"[perfbench] workload=$workload seed=$seed cores=$cores")

    val mem = new MemWatch(spark)
    val setupEndMs = System.currentTimeMillis()
    val res = new PhaseResult
    sc.warmup(ctx, res)
    res.ops.clear()
    val warmEndMs = System.currentTimeMillis()

    tracer.spans.clear()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    counters.reset()
    val fallbacks0 = graft.ext.SnapshotLog.statFoldFallbacks.get()
    mem.arm()
    val t0 = System.nanoTime()
    sc.run(ctx, t0 + (seconds * 1e9).toLong, res)
    val t1 = System.nanoTime()
    mem.disarm()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val timedSpans = tracer.all
    val (accs, jobs) = counters.snapshot()

    try sc.check(ctx, res)
    catch { case e: Exception => res.fail(s"check threw: $e") }
    val checkEndMs = System.currentTimeMillis()
    val canaryS = canary(spark)
    println(f"[perfbench] phases s: set-up ${(setupEndMs - processStartMs) / 1e3}%.1f " +
      f"warm-up ${(warmEndMs - setupEndMs) / 1e3}%.1f timed ${(t1 - t0) / 1e9}%.1f " +
      f"checks ${(checkEndMs - Clock.toMs(t1)) / 1e3}%.1f")

    val report = new Report(workload, res, setupS, setupSpans,
      setupAccs, setupJobs, timedSpans, tracer, accs, jobs, t0, t1, cores, sc.clients, mem,
      graft.ext.SnapshotLog.statFoldFallbacks.get() - fallbacks0, canaryS)
    report.print(trace)
    mem.close()
    spark.stop()
  }
}
