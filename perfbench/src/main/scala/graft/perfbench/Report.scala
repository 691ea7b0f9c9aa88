package graft.perfbench

import scala.collection.mutable

/** Turns one run's operations, spans and Spark counts into the printed
  * report and the result record.
  */
final class Report(workload: String, res: PhaseResult, setupS: Double,
    setupSpans: Vector[Span], setupAccs: Map[Long, SparkCounters.Acc],
    setupJobs: Vector[SparkCounters.Job], spans: Vector[Span], tracer: Tracer,
    accs: Map[Long, SparkCounters.Acc], jobs: Vector[SparkCounters.Job],
    t0: Long, t1: Long, cores: Int, clients: Int, mem: MemWatch,
    fallbacks: Long, canaryS: Double) {

  /** Module layers: (metric, span name or layer). Each reports its
    * share of the phase it runs in: set-up time for the layers that only
    * run at set-up, client time of the timed phase for the others. A
    * share is scale-free, and a layer that does not run in a workload
    * reads 0 rather than a time.
    */
  val Shares: Seq[(String, String)] = Seq(
    "ingest.busy_share" -> "ingest", "reco.synth_share" -> "reco.synth",
    "reco.train_share" -> "reco.train", "reco.recommend_share" -> "reco.recommend",
    "memo.build_share" -> "memo", "vector.index_build_share" -> "memo.ivfpq",
    "app.busy_share" -> "app", "users.read_share" -> "users.read",
    "users.write_share" -> "users.write",
    "text.dedup_share" -> "text.dedup", "text.gate_share" -> "text.gate",
    "text.tokenizer_share" -> "text.tokenizer", "text.encode_share" -> "text.encode",
    "text.pack_share" -> "text.pack", "vector.ann_share" -> "vector.ann",
    "vector.hybrid_share" -> "vector.hybrid", "snapshot.commit_share" -> "snapshot.commit",
    "snapshot.read_share" -> "snapshot.read", "snapshot.lookup_share" -> "snapshot.lookup",
    "snapshot.maint_share" -> "snapshot.maint")

  val PerLayer: Seq[String] = Shares.map(_._1) ++ Seq(
    "ingest.rows", "app.calls", "users.ratings_files", "text.kept_frac",
    "vector.rows_scanned_per_result", "snapshot.files_read_per_read",
    "snapshot.rows_scanned_per_row_returned",
    "snapshot.bytes_written_per_user_byte", "snapshot.observe_fallbacks",
    "spark.actions", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.analysis_ms", "spark.optimizer_ms", "spark.planning_ms",
    "spark.driver_gap_ms", "spark.job_ms", "spark.task_busy_ms",
    "spark.core_util", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.gc_ms", "spark.task_failures",
    "spark.peak_storage_mb",
    "trace.unattributed_s", "trace.unattributed_jobs")

  private val wallNs = t1 - t0
  private val batch = res.ops.forall(_.kind == "flow")
  private val ms0 = Clock.toMs(t0)
  private val ms1 = Clock.toMs(t1)

  /** Layers that run only while the workload sets up. */
  private val setupLayers = Set("ingest", "reco", "memo")
  private def layer(l: String)(s: Span) = s.layer == l

  private def ids(pred: Span => Boolean): Set[Long] = spans.filter(pred).map(_.id).toSet
  private def sumAcc(spanIds: Set[Long])(f: SparkCounters.Acc => Double): Double =
    accs.collect { case (id, a) if spanIds(id) => f(a) }.sum
  private def all(f: SparkCounters.Acc => Double): Double = accs.values.map(f).sum

  /** Operations completed per second by the closed loop's always-busy
    * clients: clients over the mean operation time (Little's law). Unlike
    * a count of the operations that fit the run, it does not move in
    * steps of one operation.
    */
  def opsPerS: Double = {
    val done = res.ops.filter(_.ok)
    if (done.isEmpty) 0.0 else clients * 1e3 / (done.map(_.ms).sum / done.size)
  }

  def endToEnd: Seq[(String, Double, String)] = {
    val done = res.ops.filter(_.ok)
    Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", if (done.isEmpty) Double.NaN else Stats.median(done.map(_.ms).toSeq), "ms"),
      ("ops_per_s", opsPerS, "1/s"))
  }

  /** Workload-specific end-to-end numbers: printed, and kept in the
    * result record for the compare tool.
    */
  def extras: Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    val done = res.ops.filter(_.ok)
    if (batch) out += (("wall_s", Stats.median(done.map(_.ms / 1e3).toSeq), "s"))
    else for ((prefix, table) <- Seq(("", false), ("table_", true));
        (n, w) <- Seq(("read", false), ("write", true))) {
      val xs = done.filter(o => o.write == w && o.kind != "maint" &&
        Report.tableKinds(o.kind) == table).map(_.ms).toSeq
      if (xs.nonEmpty) {
        out += ((s"$prefix${n}_p50_ms", Stats.median(xs), "ms"))
        Stats.tail(xs).foreach { case (p, v) =>
          out += ((s"$prefix${n}_tail_ms", v, s"ms@p$p/n=${xs.size}"))
        }
      }
    }
    out += (("fail_frac", failed.toDouble / attempted, "ratio"))
    out += (("peak_heap_mb", mem.peakHeapBytes / 1e6, "MB"))
    out += (("heap_after_mb", mem.heapAfterBytes / 1e6, "MB"))
    res.extra.foreach { case (k, v) => out += ((k, v, "")) }
    out += (("canary_s", canaryS, "s"))
    out.toSeq
  }

  def attempted: Long = math.max(1, res.ops.size).toLong
  def failed: Long = res.ops.count(!_.ok) + res.checkFailures.size

  def perLayer: Seq[(String, Double)] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    PerLayer.foreach(m(_) = 0.0)
    val timedClientS = clients * wallNs / 1e9
    Shares.foreach { case (k, n) =>
      val (from, base) =
        if (setupLayers(n.takeWhile(_ != '.'))) (setupSpans, setupS) else (spans, timedClientS)
      m(k) = from.filter(s => s.name == n || s.layer == n || s.name.startsWith(n + ":"))
        .map(_.seconds).sum / base
    }
    m("app.calls") = spans.count(layer("app")).toDouble
    val vecRows = res.layer.getOrElse("vector.result_rows", 0.0)
    if (vecRows > 0) m("vector.rows_scanned_per_result") =
      sumAcc(ids(layer("vector")))(_.rowsScanned.toDouble) / vecRows
    val readIds = ids(s => s.name == "snapshot.read" || s.name == "snapshot.lookup")
    if (readIds.nonEmpty) {
      m("snapshot.files_read_per_read") =
        sumAcc(readIds)(_.filesRead.toDouble) / readIds.size
      val live = res.layer.getOrElse("snapshot.live_rows_read", 0.0)
      if (live > 0) m("snapshot.rows_scanned_per_row_returned") =
        sumAcc(readIds)(_.rowsScanned.toDouble) / live
    }
    m("snapshot.observe_fallbacks") = fallbacks.toDouble
    res.layer.foreach { case (k, v) => if (m.contains(k)) m(k) = v }

    m("spark.actions") = all(_.actions.toDouble)
    m("spark.jobs") = all(_.jobs.toDouble)
    m("spark.stages") = all(_.stages.toDouble)
    m("spark.tasks") = all(_.tasks.toDouble)
    m("spark.analysis_ms") = all(_.analysisMs)
    m("spark.optimizer_ms") = all(_.optimizerMs)
    m("spark.planning_ms") = all(_.planningMs)
    val jobIv = jobs.map(j => (j.startMs, if (j.endMs < 0) ms1 else j.endMs))
    val jobUnion = Intervals.unionLength(jobIv, ms0, ms1).toDouble
    m("spark.job_ms") = jobUnion
    m("spark.driver_gap_ms") = (ms1 - ms0) - jobUnion
    m("spark.task_busy_ms") = all(_.taskBusyMs.toDouble)
    m("spark.core_util") = all(_.taskBusyMs.toDouble) / ((ms1 - ms0) * cores)
    m("spark.shuffle_read_bytes") = all(_.shuffleRead.toDouble)
    m("spark.shuffle_write_bytes") = all(_.shuffleWrite.toDouble)
    m("spark.spill_bytes") = all(_.spill.toDouble)
    m("spark.gc_ms") = all(_.gcMs.toDouble)
    m("spark.task_failures") = all(_.taskFailures.toDouble)
    m("spark.peak_storage_mb") = mem.peakStorageBytes / 1e6
    m("trace.unattributed_s") = unattributedNs / 1e9
    m("trace.unattributed_jobs") = accs.get(0L).map(_.jobs.toDouble).getOrElse(0.0)
    m.toSeq
  }

  /** Client time of the timed phase outside every root span. Spans nest
    * on one thread, so the self times plus this remainder add up to
    * clients x wall by construction.
    */
  def unattributedNs: Long = {
    val roots = spans.filter(_.parent == 0L).groupBy(_.thread)
    roots.values.map(rs =>
      Intervals.gap(rs.map(s => (s.startNs, s.endNs)), t0, t1)).sum +
      (clients - roots.size).max(0) * wallNs
  }

  /** Per span name: calls, total and self seconds, and the Spark work
    * its jobs and actions did, with unattributed jobs on their own row.
    */
  def spanTable(label: String, spans: Vector[Span], accs: Map[Long, SparkCounters.Acc],
      jobs: Vector[SparkCounters.Job]): Unit = {
    val self = tracer.selfNs(spans)
    val jobsBySpan = jobs.groupBy(_.span)
    println(f"[trace] ${label}%-8s ${"span"}%-32s ${"calls"}%5s ${"total_s"}%8s " +
      f"${"self_s"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"actions"}%7s " +
      f"${"plan_ms"}%7s ${"gap_ms"}%7s")
    spans.groupBy(_.name).toSeq.sortBy(_._2.map(_.startNs).min).foreach { case (n, ss) =>
      val idSet = ss.map(_.id).toSet
      val a = accs.filter { case (id, _) => idSet(id) }.values
      val gap = ss.map { s =>
        val iv = jobsBySpan.getOrElse(s.id, Vector.empty)
          .map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
        Intervals.gap(iv, Clock.toMs(s.startNs), Clock.toMs(s.endNs)).toDouble
      }.sum
      val plan = a.map(x => x.analysisMs + x.optimizerMs + x.planningMs).sum
      println(f"[trace] ${label}%-8s $n%-32s ${ss.size}%5d ${ss.map(_.seconds).sum}%8.3f " +
        f"${ss.map(s => self(s.id)).sum / 1e9}%8.3f ${a.map(_.jobs).sum}%5d " +
        f"${a.map(_.stages).sum}%6d ${a.map(_.tasks).sum}%6d ${a.map(_.actions).sum}%7d " +
        f"$plan%7.0f $gap%7.0f")
    }
    accs.get(0L).foreach { a =>
      println(f"[trace] ${label}%-8s ${"(unattributed)"}%-32s ${"-"}%5s ${"-"}%8s ${"-"}%8s " +
        f"${a.jobs}%5d ${a.stages}%6d ${a.tasks}%6d ${a.actions}%7d " +
        f"${a.analysisMs + a.optimizerMs + a.planningMs}%7.0f ${"-"}%7s")
    }
  }

  def print(trace: Boolean): Unit = {
    val e2e = endToEnd
    e2e.foreach { case (k, v, u) => println(f"[perfbench] $k%-16s $v%.4f $u") }
    extras.foreach { case (k, v, u) => println(f"[perfbench] $k%-16s $v%.4f $u") }
    res.checkFailures.take(20).foreach(f => println(s"[perfbench] CHECK FAILED: $f"))
    val layers = perLayer
    if (trace) {
      spanTable("set-up", setupSpans, setupAccs, setupJobs)
      spanTable("timed", spans, accs, jobs)
      println(f"[trace] accounting: self times ${tracer.selfNs(spans).values.sum / 1e9}%.3f s " +
        f"+ outside spans ${unattributedNs / 1e9}%.3f s = $clients client(s) " +
        f"x timed wall ${wallNs / 1e9}%.3f s")
      layers.foreach { case (k, v) => println(f"[trace] $k%-40s $v%.4f") }
    }
    val metrics =
      if (trace) layers.map { case (k, v) => k -> Json.obj("value" -> Json.num(v),
        "unit" -> Json.str(Report.unitOf(k))) }
      else e2e.map { case (k, v, u) => k -> Json.obj("value" -> Json.num(v),
        "unit" -> Json.str(u)) }
    val extra = (e2e ++ extras).map { case (k, v, u) => k -> Json.obj("value" -> Json.num(v),
      "unit" -> Json.str(u)) }
    println("PERFBENCH_RESULT " + Json.obj(
      "workload" -> Json.str(workload),
      "correct" -> (res.checkFailures.isEmpty && res.ops.forall(_.ok)).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics: _*),
      "extra" -> Json.obj(extra: _*)))
  }
}

object Report {
  /** Operations of the snapshot-log client, reported apart from the app's. */
  val tableKinds: Set[String] = Set("append", "merge", "delete", "update",
    "read", "lookup", "timetravel", "changes", "maint")

  def unitOf(metric: String): String = {
    val n = metric.substring(metric.indexOf('.') + 1)
    if (n.endsWith("_per_s")) "1/s"
    else if (n.endsWith("_s")) "s"
    else if (n.endsWith("_ms")) "ms"
    else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("_bytes")) "bytes"
    else if (n.endsWith("_frac") || n.endsWith("_util") || n.endsWith("_share") ||
      n.contains("_per_")) "ratio"
    else "count"
  }
}
