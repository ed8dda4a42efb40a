package perfbench

import graft.functions.{GramHashes, TokenWindows}
import org.apache.spark.sql.functions.{col, expr, sum}

/** Per-layer metrics of a traced body, from the listener records and the
  * benchmark's own spans. Every metric is emitted on every workload (zero
  * where the layer does not run), so the traced result always carries the
  * full list.
  */
object Layers {
  type M = (String, Double, String)

  val OperatorGroups = Seq("Relational", "Temporal", "Dedup", "Corpus")

  def generic(c: Ctx, p: Probe, t0: Double, t1: Double, wallS: Double,
      cpus: Int): Seq[M] = p.synchronized {
    val inBody = (t: Double) => t >= t0 && t <= t1
    val jobs = p.jobs.filter(j => inBody(j.startMs) && !j.endMs.isNaN)
    val stages = p.stages.filter(s => inBody(s.submitMs))
    val plans = p.plans.filter(pl => inBody(pl.atMs))
    val progress = p.progress.filter(pr => inBody(pr.atMs))
    jobs.foreach(j => c.tracer.observed("job", j.startMs, j.endMs))
    plans.foreach(_.phases.foreach { case (n, s, e) =>
      c.tracer.observed(s"planning.$n", s, e) })
    progress.foreach { pr =>
      val d = pr.durations.getOrElse("triggerExecution", 0L)
      c.tracer.observed("stream.trigger", pr.atMs, pr.atMs + d)
    }

    // driver time: op wall not covered by any running job
    val driverMs = c.ops.map { o =>
      val iv = jobs.map(j => (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs)))
        .filter(i => i._2 > i._1)
      (o.endMs - o.startMs) - Intervals.covered(iv.toSeq)
    }.sum
    def sumL(f: StageRec => Long) = stages.map(f).sum.toDouble
    val taskRunS = sumL(_.runMs) / 1000
    val skew = stages.filter(_.taskRunMs.size >= 2).map { s =>
      val med = Stats.median(s.taskRunMs.map(_.toDouble))
      if (med > 0) s.taskRunMs.max / med else 0.0
    }.maxOption.getOrElse(0.0)
    val asOfOps = c.ops.filter(o => plans.exists(pl =>
      pl.usesAsOf && pl.atMs >= o.startMs && pl.atMs <= o.endMs))
    def dur(k: String) = progress.map(_.durations.getOrElse(k, 0L)).sum / 1000.0

    Seq(
      ("scan.rows", sumL(_.inRecords), "count"),
      ("scan.bytes", sumL(_.inBytes), "bytes"),
      ("planning.analysis_s", plans.map(_.analysisMs).sum / 1000.0, "s"),
      ("planning.optimization_s", plans.map(_.optimizationMs).sum / 1000.0, "s"),
      ("planning.planning_s", plans.map(_.planningMs).sum / 1000.0, "s"),
      ("planning.actions", plans.size.toDouble, "count"),
      ("driver.s", driverMs / 1000, "s"),
      ("driver.result_bytes", sumL(_.resultBytes), "bytes"),
      ("exec.jobs", jobs.size.toDouble, "count"),
      ("exec.stages", stages.size.toDouble, "count"),
      ("exec.tasks", stages.map(_.numTasks).sum.toDouble, "count"),
      ("exec.sched_delay_s", p.schedDelayMs / 1000.0, "s"),
      ("exec.task_run_s", taskRunS, "s"),
      ("exec.task_cpu_s", sumL(_.cpuNs) / 1e9, "s"),
      ("exec.gc_s", sumL(_.gcMs) / 1000, "s"),
      ("exec.slot_util", taskRunS / (wallS * cpus), "ratio"),
      ("exec.stage_skew", skew, "ratio"),
      ("exec.failed_tasks", p.failedTasks.toDouble, "count"),
      ("exec.retried_tasks", p.retriedTasks.toDouble, "count"),
      ("shuffle.write_bytes", sumL(_.shWriteBytes), "bytes"),
      ("shuffle.read_bytes", sumL(_.shReadBytes), "bytes"),
      ("shuffle.records", sumL(_.shWriteRecords), "count"),
      ("shuffle.fetch_wait_s", sumL(_.fetchWaitMs) / 1000, "s"),
      ("spill.mem_bytes", sumL(_.memSpill), "bytes"),
      ("spill.disk_bytes", sumL(_.diskSpill), "bytes"),
      ("cache.peak_bytes", c.cachePeakBytes.toDouble, "bytes"),
      ("plans.asof_s", asOfOps.map(_.durS).sum, "s"),
      ("mr.map_s", stages.filterNot(_.readsShuffle).map(s => s.endMs - s.submitMs).sum / 1000, "s"),
      ("mr.reduce_s", stages.filter(_.readsShuffle).map(s => s.endMs - s.submitMs).sum / 1000, "s"),
      ("stream.batches", progress.size.toDouble, "count"),
      ("stream.trigger_p50_s", Stats.median(progress.map(
        _.durations.getOrElse("triggerExecution", 0L) / 1000.0).toSeq), "s"),
      ("stream.add_batch_s", dur("addBatch"), "s"),
      ("stream.wal_commit_s", dur("walCommit"), "s"),
      ("stream.planning_s", dur("queryPlanning"), "s"),
      ("stream.state_rows", progress.map(_.stateRows).maxOption.getOrElse(0L).toDouble, "count"),
      ("stream.state_bytes", progress.map(_.stateBytes).maxOption.getOrElse(0L).toDouble, "bytes")
    ) ++ OperatorGroups.map(g =>
      (s"operators.${g}_s", c.ops.filter(_.group == g).map(_.durS).sum, "s"))
  }

  /** Workload-specific metrics, zero on workloads without that layer. */
  val Absent: Seq[M] = Seq(("Tables.load_s", 0.0, "s"),
    ("upsert.merge_p50_s", 0.0, "s"), ("upsert.read_p50_s", 0.0, "s"),
    ("upsert.chain_len", 0.0, "count"), ("upsert.files", 0.0, "count"),
    ("upsert.write_amp", 0.0, "ratio"))

  def session(startS: Seq[Double]): Seq[M] =
    Seq(("GraftSession.start_s", Stats.median(startS), "s"))

  /** MR-core ratios; `emitted` is counted in the benchmark's own mappers. */
  def mr(w: Workload, sofar: Seq[M]): Seq[M] = {
    def get(n: String) = sofar.find(_._1 == n).map(_._2).getOrElse(0.0)
    val emitted = w match {
      case m: MrWorkload => m.emitted.map(_.value.toDouble).getOrElse(0.0)
      case _ => 0.0
    }
    val records = get("shuffle.records")
    Seq(("mr.emitted", emitted, "count"),
      ("mr.combine_ratio", if (emitted > 0) records / emitted else 0.0, "ratio"),
      ("mr.shuffle_bytes_per_record",
        if (records > 0) get("shuffle.write_bytes") / records else 0.0, "bytes"))
  }

  /** Kernel probes: a checksum select over `documents` through each
    * native text kernel, timed as a span (zero when `run` is false).
    */
  def kernels(c: Ctx, run: Boolean): Seq[M] = {
    def probe(name: String, cols: org.apache.spark.sql.Column): Double =
      if (!run) 0.0
      else {
        def checksum() = graft.Tables.documents(c.spark, c.sf).select(cols.as("v"))
          .agg(sum(expr("aggregate(v, 0L, (a, x) -> a + hash(x))"))).collect()
        checksum() // code generation and first-touch out of the timing
        val t0 = Clock.nowMs
        c.tracer.span(s"functions.$name")(checksum())
        (Clock.nowMs - t0) / 1000
      }
    Seq(("functions.gram_hashes_s", probe("gram_hashes", GramHashes.of(col("text"), 5)), "s"),
      ("functions.token_windows_s", probe("token_windows", TokenWindows.of(col("text"), 5)), "s"))
  }
}
