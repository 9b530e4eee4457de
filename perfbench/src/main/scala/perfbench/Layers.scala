package perfbench

/** Per-layer figures of a traced run, computed from the spans and the
  * listener counters of a fixed set of requests.
  */
object Layers {

  /** The per-layer metrics every workload reports (BENCHMARK.json's
    * `per_layer`), over the requests `outs` of the traced deck.
    */
  def generic(ctx: Ctx, outs: Seq[Outcome], gcMs: Long): Seq[Metric] = {
    val t = ctx.tracing.get
    org.apache.spark.sql.perfbenchbridge.drainListeners(ctx.spark)
    val a = t.total(outs.map(_.req))
    val perReq = outs.map(o => o.ms - {
      val x = t.total(Seq(o.req)); x.planMs.get + x.jobMs.get
    })
    Seq(
      Metric("plan.plan_ms", a.planMs.get.toDouble, "ms"),
      Metric("plan.n_exec", a.nExec.get.toDouble, "count"),
      Metric("sched.jobs", a.jobs.get.toDouble, "count"),
      Metric("sched.stages", a.stages.get.toDouble, "count"),
      Metric("sched.tasks", a.tasks.get.toDouble, "count"),
      Metric("sched.job_ms", a.jobMs.get.toDouble, "ms"),
      Metric("sched.gap_ms", perReq.map(math.max(0.0, _)).sum, "ms"),
      Metric("exec.task_run_ms", a.taskRunMs.get.toDouble, "ms"),
      Metric("exec.task_cpu_ms", a.taskCpuNs.get / 1e6, "ms"),
      Metric("exec.gc_ms", gcMs.toDouble, "ms"),
      Metric("shuffle.read_bytes", a.shufRead.get.toDouble, "bytes"),
      Metric("shuffle.write_bytes", a.shufWrite.get.toDouble, "bytes"),
      Metric("shuffle.spill_bytes", a.spill.get.toDouble, "bytes"),
      Metric("Tables.scan_bytes", a.scanBytes.get.toDouble, "bytes"),
      Metric("Tables.scan_rows", a.scanRows.get.toDouble, "count"),
      Metric("blocks.rdd_peak_bytes", t.rddPeakBytes.get.toDouble, "bytes"),
      Metric("blocks.rdd_blocks", t.rddBlocksStored.get.toDouble, "count"),
      Metric("log.error_lines", LogCounter.errors.get.toDouble, "count"),
      Metric("log.warn_lines", LogCounter.warns.get.toDouble, "count"))
  }

  /** Workload-specific per-layer figures for the run record: the median
    * wall time per entry point (`<Module>.<entry>.ms`), median gate and
    * self times from the spans, and the streaming counters.
    */
  def perEntry(ctx: Ctx, outs: Seq[Outcome]): Seq[(String, String)] = {
    val t = ctx.tracing.get
    val reqs = outs.map(_.req).toSet
    val spans = t.spansOf(reqs)
    val byEntry = outs.filter(_.ok).groupBy(_.op.name).toSeq.sortBy(_._1).map {
      case (n, os) => s"$n.ms" -> Json.num(Stats.median(os.map(_.ms)))
    }
    val gates = spans.filter(s => s.name.startsWith("Warehouse.ensure"))
    val gateBy = gates.groupBy(_.name).toSeq.sortBy(_._1).map {
      case (n, ss) => s"$n.ms" -> Json.num(Stats.median(ss.map(_.ms)))
    }
    def self(name: String) = Json.num(Stats.median(
      spans.filter(_.name == name).map(s => t.selfMs(s, spans))))
    val stream = t.streamBatchMs.toArray.map(_.asInstanceOf[java.lang.Long].toDouble).toSeq
    val rps = t.streamRowsPerS.toArray.map(_.asInstanceOf[java.lang.Double].toDouble).toSeq
    byEntry ++ gateBy ++ Seq(
      "Warehouse.ensure_ms" -> Json.num(Stats.median(gates.map(_.ms))),
      "self.request_ms" -> self("request"),
      "self.entry_ms" -> self("entry"),
      "self.materialise_ms" -> self("materialise"),
      "plan.qe_success" -> t.qeSuccess.get.toString,
      "plan.qe_failure" -> t.qeFailure.get.toString,
      "EventStream.batches" -> t.streamBatches.get.toString,
      "EventStream.batch_ms" -> Json.num(Stats.median(stream)),
      "EventStream.rows_per_s" -> Json.num(Stats.median(rps)),
      "EventStream.state_rows" -> t.streamStateRows.get.toString,
      "EventStream.state_bytes" -> t.streamStateBytes.get.toString)
  }
}
