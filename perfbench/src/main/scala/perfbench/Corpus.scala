package perfbench

import graft.SparkEntry
import graft.sources.Tables

/** corpus_batch: the LLM-data pipeline as a batch job. One client
  * repeats a fixed pass of registered corpus stages; every stage is a
  * one-shot operator (no landed index, no warehouse write, no stream),
  * so the serving layers are bypassed. The client's request is one
  * pass: `req_*` are pass times, `req_per_s` counts stage calls, and
  * `search_p50_ms` is the ANN search stage (d10).
  */
object Corpus {
  /** (registered query, module that implements it) in pass order. */
  val Stages: Seq[(String, String)] = Seq(
    "c2_dedup_minhash" -> "DedupOps", "d10_ann_ivfpq" -> "SimOps")

  /** An untraced run times at least this many passes. */
  val MinPasses = 4

  /** Set-up repeats; `setup_s` is their median. */
  val SetupReps = 5

  /** The search stage: `search_p50_ms` on this workload. */
  val Search = Set("d10_ann_ivfpq")

  def ops(ctx: Ctx, dir: String): Seq[Op] = Stages.map { case (q, m) =>
    Op(s"$m.$q", "", if (Search(q)) "probe" else "stage", None,
       () => SparkEntry.queries(q)(ctx.spark, dir))
  }

  /** Set-up: expose the corpus under a fresh path and scan the tables
    * the pass reads once through the library's loaders.
    */
  def setup(ctx: Ctx, rep: Int): (String, Double) = {
    val d = ctx.corpusCopy(s"corpus$rep")
    val t0 = System.nanoTime()
    Seq(Tables.documents _, Tables.embeddings _).foreach { t =>
      t(ctx.spark, d).write.format("noop").mode("overwrite").save()
    }
    (d, (System.nanoTime() - t0) / 1e9)
  }

  def pass(ctx: Ctx, ops: Seq[Op], tag: String): (Seq[Outcome], Double) = {
    val t0 = System.nanoTime()
    val outs = ops.map(o => ctx.runner.run(o, ctx.runner.nextReq(tag)))
    (outs, (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx): Result = {
    val reps = (0 until SetupReps).map(setup(ctx, _))
    val dir = reps.last._1
    val stageOps = ops(ctx, dir)
    Main.progress(s"setup done: ${reps.map(_._2).mkString(", ")}")
    val (_, warmS) = pass(ctx, stageOps, "warm")
    Main.progress(s"warm pass: $warmS s")
    if (ctx.args.injectFailure)
      ctx.runner.run(Op("SparkEntry.unknown", "", "stage", None,
        () => SparkEntry.queries("no_such_stage")(ctx.spark, dir)), "inject")

    Ambient.take(ctx.spark)
    HeapWatch.collectNow()   // every timed pass starts just after a full GC
    // at least MinPasses timed passes; a traced run times one untraced
    // pass and then one traced pass. A full collection after each pass
    // (outside its timing) samples the heap the pass left live,
    // before Spark's cleaner drops the pass's blocks.
    val deadline = System.nanoTime() + ctx.args.seconds * 1000000000L
    val minPasses = if (ctx.args.trace) 1 else MinPasses
    val passes = scala.collection.mutable.ArrayBuffer[(Seq[Outcome], Double)]()
    HeapWatch.start()
    while (passes.size < minPasses || (!ctx.args.trace && System.nanoTime() < deadline)) {
      passes += pass(ctx, stageOps, "p")
      HeapWatch.collectNow()
    }
    val (heap, gcs) = HeapWatch.stop()
    Ambient.take(ctx.spark)
    val traced = ctx.tracing.map { t =>
      t.enabled = true
      val g0 = Main.gcMs()
      val p = pass(ctx, stageOps, "t")
      val g1 = Main.gcMs()
      t.enabled = false
      (p, g1 - g0)
    }
    Main.progress(s"passes: ${passes.map(_._2).mkString(", ")}")

    val outs = passes.flatMap(_._1).toSeq.filter(_.ok)
    val passS = passes.map(_._2).toSeq
    val e2e = Seq(
      Metric("setup_s", Stats.median(reps.map(_._2)), "s"),
      Metric("req_p50_ms", Stats.pct(passS.map(_ * 1000), 50), "ms"),
      Metric("req_p90_ms", Stats.pct(passS.map(_ * 1000), 90), "ms"),
      Metric("req_per_s", outs.size / outs.map(_.ms / 1000).sum, "1/s"),
      Metric("search_p50_ms", Stats.pct(outs.filter(_.op.cls == "probe").map(_.ms), 50), "ms"),
      Metric("live_heap_mb", heap, "MB"))
    val layers = traced.map { case ((touts, _), gc) => Layers.generic(ctx, touts, gc) }
      .getOrElse(Nil)
    val tracedRecord = traced.map { case ((touts, tpass), _) =>
      Seq("trace" -> Json.obj(Layers.perEntry(ctx, touts) ++ Seq(
        "trace.pass_s_traced" -> Json.num(tpass),
        "trace.pass_s_untraced" -> Json.num(Stats.median(passS)),
        "trace.overhead_pct" -> Json.num(100.0 * (tpass / Stats.median(passS) - 1)))))
    }.getOrElse(Nil)
    Result(e2e, layers, Seq(
      "pass_s" -> Json.num(Stats.median(passS)),
      "pass_runs_s" -> Json.arr(passS.map(Json.num)),
      "gcs_in_window" -> gcs.toString,
      "setup_runs_s" -> Json.arr(reps.map(r => Json.num(r._2))),
      "stages" -> Json.obj(outs.groupBy(_.op.name).toSeq.sortBy(_._1).map { case (k, v) =>
        s"$k.ms" -> Json.num(Stats.median(v.map(_.ms)))
      })) ++ tracedRecord)
  }
}
