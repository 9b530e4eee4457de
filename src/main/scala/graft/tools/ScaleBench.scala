package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftSession, SparkEntry}

/** Scaling-curve evidence (SURVEY §6): run the data-bound hot queries
  * at a base SF dir and a ×N scaled dir (GenScale) in ONE session —
  * same JVM, same ambient — and report per-query times + ratios, plus
  * Bench's cpu/sched ambient controls so the run is normalizable.
  *
  * d5/d10 are benched twice at the scaled dir: the registered form
  * (whose query batch is every-50th-vector and therefore grows ×N with
  * the corpus — its cost is Q·scan, quadratic in SF by WORKLOAD
  * definition, not an algorithm cliff) and a `_fixedq` form that scales
  * qmod by the factor to hold the query-batch size constant — the
  * production shape (query traffic doesn't grow because the corpus
  * did), which should scale ~linearly.
  *
  * Run: `sbt "runMain graft.tools.ScaleBench /root/testdata/sf0.1
  * /root/repo/testdata_sf1 10"` → one JSON line.
  */
object ScaleBench {
  private val Hot = Seq(
    "a13_stream_join", "c2_dedup_minhash", "c4_ngram_jaccard",
    "c6_dedup_clusters", "d5_ann_ivf", "d10_ann_ivfpq",
    "e11_unigram_logprob", "p1_corpus_prep", "p3_fuzzy_dedup",
    "p9_filter_funnel", "p11_incremental_dedup", "d11_ann_incremental",
    "e13_bigram_logprob", "c9_semdedup", "c10_dedup_cut",
    // round 11: the stateful-stream decade claims (watermark-bounded
    // state) measured, not just spec-proven, plus the registered
    // hierarchical c9 routing (c11) at its fixed defaults
    "a9_stream_hourly", "a10_stream_state", "p5_stream_ingest",
    "c11_semdedup_hier",
    // round 11 (cont.): the sharded-bloom incremental gate and the
    // zero-shuffle entropy scorer — c12's curve should track the
    // batch side (index build included in the one-shot, like p11's),
    // e15's the scan
    "c12_bloom_dedup", "e15_word_entropy",
    // round 11 (cont. 2): the perceptual-hash image near-dup (c3's
    // banding machinery on pixels — should track c3's curve) and the
    // fixed-|Q| kNN vote (the d13 contract: flat query batch, one
    // corpus scan)
    "f6_image_neardup", "d16_knn_classify", "f7_image_neardup_incr",
    // round 12: BM25 ranked retrieval (fixed query workload — the
    // curve is the posting aggregation, ~linear), hybrid RRF fusion
    // (fixed batch both sides), the NB quality classifier (two
    // term-keyed shuffles), audio near-dup (the f6 banding family on
    // the delta-sign fingerprints), and the now-hash-green BPE
    // accounting (scan-bound, per-row JVM encode)
    "e16_bm25_search", "d17_hybrid_retrieval", "e17_quality_classifier",
    "f8_audio_neardup", "e14_bpe_token_stats",
    // round 13: the landed-retrieval/quality probes — each preps its
    // index UNTIMED per (query, dir) so the label is the recurring
    // probe cost (the p11_incremental_probe convention); their
    // one-shot parents above stay as the amortization foils. f8b's
    // registered one-shot includes the standing fingerprint pass
    // (the p11/f7 convention) — its landed probe is the extra label
    // below.
    "e16b_bm25_indexed", "d17b_hybrid_indexed", "e17b_quality_indexed",
    "f8b_audio_neardup_incr")

  /** Run `body` (a stream construction whose catch-up executes inside
    * it) with the session state-store provider pinned, restoring the
    * prior conf after — the RocksDbStateSpec seam, reused for timing.
    */
  private def withStateProvider[A](spark: SparkSession, cls: String)
                                  (body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, cls)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scaled = args.lift(1).getOrElse("/root/repo/testdata_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val repeats = sys.env.get("SPARK_GRAFT_BENCH_REPEATS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 1).getOrElse(2)
    val spark = GraftSession.build("graft-scale-bench")

    def timeNoop(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      try { df.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[scale-bench] FAILED: ${e.getMessage}"); -1.0 }
    }
    def controlCpu(): Double = {
      import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
      timeNoop(spark.range(0, 768L << 20, 1, 32)
        .select(bit_xor(xxhash64(col("id")))))
    }
    def controlSched(): Double = {
      import org.apache.spark.sql.functions.{col, sum}
      timeNoop(spark.range(0, 512, 1, 512).select(sum(col("id"))))
    }

    // dev-only narrowing (comma-separated labels), like Bench's _ONLY.
    // When active the output JSON carries a "narrowed" field (and
    // stderr shouts) so a partial artifact can't pass as a full run.
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach(n => System.err.println(
      s"[scale-bench] ***** NARROWED (SPARK_GRAFT_SCALE_ONLY): " +
        s"${n.toSeq.sorted.mkString(",")} — NOT the full hot set *****"))
    // work items: (label, dir-tag, thunk)
    def allItems: Seq[(String, String, () => DataFrame)] =
      Hot.flatMap { q =>
        Seq((q, "base", () => SparkEntry.queries(q)(spark, base)),
            (q, "scaled", () => SparkEntry.queries(q)(spark, scaled)))
      } ++ Seq(
        // the registered fixed-|Q| production forms (d13/d14): the
        // batch is SimOps.FixedQBatch vectors at ANY SF, so no qmod
        // rescaling gymnastics — the round-9 artifact's
        // d5/d10_ann_ivf(pq)_fixedq labels are superseded by these
        ("d13_ann_ivf_fixedq", "base",
         () => SparkEntry.queries("d13_ann_ivf_fixedq")(spark, base)),
        ("d13_ann_ivf_fixedq", "scaled",
         () => SparkEntry.queries("d13_ann_ivf_fixedq")(spark, scaled)),
        ("d14_ann_ivfpq_fixedq", "base",
         () => SparkEntry.queries("d14_ann_ivfpq_fixedq")(spark, base)),
        ("d14_ann_ivfpq_fixedq", "scaled",
         () => SparkEntry.queries("d14_ann_ivfpq_fixedq")(spark, scaled)),
        // c9's production shape: nlist ∝ √N balances exhaustive routing
        // (O(N·nlist)) against the per-cluster pair quadratic
        // (O(N²/nlist)) — measured: nlist ∝ N ran 18× at data ×10
        // (routing-dominated); fixed nlist 2.5×; √-scaled sits between
        // and is the sustainable curve (both stages O(N^1.5))
        ("c9_semdedup_scalednlist", "base",
         () => graft.operators.DedupOps.semDedup(spark, base)),
        ("c9_semdedup_scalednlist", "scaled",
         () => graft.operators.DedupOps.semDedup(spark, scaled,
           nlist = (64 * math.sqrt(factor)).round.toInt)),
        // the hierarchical-routing arm (registered as c11) at the SAME
        // √-scaled nlist — the coarse quantizer must pull the scaled
        // point below the exhaustive-routing curve (that's its whole
        // claim). Label was "c9_semdedup_hier" through round 10.
        ("c11_semdedup_hier_scalednlist", "base",
         () => graft.operators.DedupOps.semDedupHier(spark, base)),
        ("c11_semdedup_hier_scalednlist", "scaled",
         () => graft.operators.DedupOps.semDedupHier(spark, scaled,
           nlist = (64 * math.sqrt(factor)).round.toInt)),
        // c4's exhaustive arm as the A/B foil for the registered
        // adaptive query (which picks the banded candidate path at
        // scale): the standing round-10 48.7×/59× points were this
        // arm, so the pair stays comparable round-over-round
        ("c4_ngram_jaccard_exhaustive", "base",
         () => graft.operators.DedupOps.ngramJaccardExhaustive(spark, base)),
        ("c4_ngram_jaccard_exhaustive", "scaled",
         () => graft.operators.DedupOps.ngramJaccardExhaustive(spark, scaled)),
        // the stateful streams again under the RocksDB provider — the
        // 100 TB state-store setting; result identity is RocksDbStateSpec,
        // THIS is the scale-cost evidence with the provider noted
        ("a10_stream_state_rocksdb", "base",
         () => withStateProvider(spark, GraftSession.RocksDbProvider) {
           SparkEntry.queries("a10_stream_state")(spark, base) }),
        ("a10_stream_state_rocksdb", "scaled",
         () => withStateProvider(spark, GraftSession.RocksDbProvider) {
           SparkEntry.queries("a10_stream_state")(spark, scaled) }),
        ("p5_stream_ingest_rocksdb", "base",
         () => withStateProvider(spark, GraftSession.RocksDbProvider) {
           SparkEntry.queries("p5_stream_ingest")(spark, base) }),
        ("p5_stream_ingest_rocksdb", "scaled",
         () => withStateProvider(spark, GraftSession.RocksDbProvider) {
           SparkEntry.queries("p5_stream_ingest")(spark, scaled) }),
        // p11's LANDED form: the standing index is persisted
        // (Warehouse.buildMinhash, rebuilt per dir in the untimed prep
        // below — the d15/ann_split precedent: build-once cost
        // amortizes at production, probe is the recurring cost). The
        // registered one-shot p11 label above measures index recompute
        // + probe; THIS label is the production curve a crawler pays
        // per arriving batch.
        ("p11_incremental_probe", "base",
         () => graft.sources.Warehouse.incrementalMinhashIndexed(spark, base)),
        ("p11_incremental_probe", "scaled",
         () => graft.sources.Warehouse.incrementalMinhashIndexed(spark, scaled)),
        // c12's landed form: index built untimed (below), the label is
        // the recurring per-batch membership-gate cost — the curve a
        // crawler pays per recrawl once the seen-set is standing
        ("c12_bloom_probe", "base",
         () => graft.sources.Warehouse.bloomDedupIndexed(spark, base)),
        ("c12_bloom_probe", "scaled",
         () => graft.sources.Warehouse.bloomDedupIndexed(spark, scaled)),
        // f7's landed form: only the arriving image batch is hashed,
        // the standing catalog index loads from its persisted tables
        ("f7_image_probe", "base",
         () => graft.sources.Warehouse.imageNearDupIndexed(spark, base)),
        ("f7_image_probe", "scaled",
         () => graft.sources.Warehouse.imageNearDupIndexed(spark, scaled)),
        // f8b's landed form: only the arriving audio batch is
        // fingerprinted; the standing catalog index loads from its
        // persisted tables (built untimed below)
        ("f8b_audio_probe", "base",
         () => graft.sources.Warehouse.audioNearDupIndexed(spark, base)),
        ("f8b_audio_probe", "scaled",
         () => graft.sources.Warehouse.audioNearDupIndexed(spark, scaled)),
        // d16b's landed form: the index builds untimed (ensureIvf in
        // preps — the d15/ann_split amortization precedent), so this
        // label is the recurring classify-batch cost: probe + vote.
        // Its decade must sit well under d16's full-scan 6.2×.
        ("d16b_knn_probe", "base",
         () => graft.sources.Warehouse.knnClassifyIndexed(spark, base)),
        ("d16b_knn_probe", "scaled",
         () => graft.sources.Warehouse.knnClassifyIndexed(spark, scaled)),
        // the sustainable-config arm (the c9/c11 precedent): nlist ∝
        // √N holds the pruning factor nProbe·nAssign/nlist — at fixed
        // nlist=64 the ×1000 probe reads HALF the posting rows per
        // query and ADC flops equal the exact scan's, so the fixed
        // arm's curve converges to brute force BY DESIGN; this is the
        // config a deployment actually grows. The scaled arm carries
        // the √N rule IN THE INDEX METADATA (round-13): the prep lands
        // the index under a "sqrt:64@<baseN>" rule and the probe reads
        // the landed rule back — no hand-carried ×factor constant.
        ("d16b_knn_scalednlist", "base",
         () => graft.sources.Warehouse.knnClassifyIndexed(spark, base)),
        ("d16b_knn_scalednlist", "scaled",
         () => graft.sources.Warehouse.knnClassifyIndexed(spark, scaled,
                 nlistRule = graft.sources.Warehouse
                   .landedNlistRule(spark, scaled))))
    // untimed per-measurement preparation (index builds): runs before
    // the timer, so the label measures ONLY the recurring cost
    val preps: Map[(String, String), () => Unit] = Map(
      ("p11_incremental_probe", "base") ->
        (() => graft.sources.Warehouse.buildMinhash(spark, base)),
      ("p11_incremental_probe", "scaled") ->
        (() => graft.sources.Warehouse.buildMinhash(spark, scaled)),
      ("c12_bloom_probe", "base") ->
        (() => graft.sources.Warehouse.buildBloom(spark, base)),
      ("c12_bloom_probe", "scaled") ->
        (() => graft.sources.Warehouse.buildBloom(spark, scaled)),
      ("f7_image_probe", "base") ->
        (() => graft.sources.Warehouse.buildPhash(spark, base)),
      ("f7_image_probe", "scaled") ->
        (() => graft.sources.Warehouse.buildPhash(spark, scaled)),
      ("f8b_audio_probe", "base") ->
        (() => graft.sources.Warehouse.buildAudio(spark, base)),
      ("f8b_audio_probe", "scaled") ->
        (() => graft.sources.Warehouse.buildAudio(spark, scaled)),
      // the landed retrieval/quality probes: ensure* is the UNTIMED
      // prep — it rebuilds when the loop flips dirs (the metadata key
      // is dir-scoped), so the timed run is always probe-only
      ("e16b_bm25_indexed", "base") ->
        (() => graft.sources.Warehouse.ensurePostings(spark, base)),
      ("e16b_bm25_indexed", "scaled") ->
        (() => graft.sources.Warehouse.ensurePostings(spark, scaled)),
      ("d17b_hybrid_indexed", "base") ->
        (() => { graft.sources.Warehouse.ensurePostings(spark, base)
                 graft.sources.Warehouse.ensureIvf(spark, base,
                   kmeansIters = 0) }),
      ("d17b_hybrid_indexed", "scaled") ->
        (() => { graft.sources.Warehouse.ensurePostings(spark, scaled)
                 graft.sources.Warehouse.ensureIvf(spark, scaled,
                   kmeansIters = 0) }),
      ("e17b_quality_indexed", "base") ->
        (() => graft.sources.Warehouse.ensureNbModel(spark, base)),
      ("e17b_quality_indexed", "scaled") ->
        (() => graft.sources.Warehouse.ensureNbModel(spark, scaled)),
      ("d16b_knn_probe", "base") ->
        (() => graft.sources.Warehouse.ensureIvf(spark, base,
                 kmeansIters = 0)),
      ("d16b_knn_probe", "scaled") ->
        (() => graft.sources.Warehouse.ensureIvf(spark, scaled,
                 kmeansIters = 0)),
      ("d16b_knn_scalednlist", "base") ->
        (() => graft.sources.Warehouse.ensureIvf(spark, base,
                 kmeansIters = 0)),
      ("d16b_knn_scalednlist", "scaled") ->
        (() => {
          // rule calibrated at the base dir's measured count — at the
          // scaled dir it resolves to 64·√factor with nothing typed in
          val n0 = spark.read.parquet(s"$base/embeddings.parquet").count()
          graft.sources.Warehouse.ensureIvf(spark, scaled,
            kmeansIters = 0, nlistRule = s"sqrt:64@$n0")
        }))
    def items = allItems.filter(i => only.forall(_.contains(i._1)))

    // warmup: flagship-equivalent scan of both dirs
    timeNoop(SparkEntry.queries("c1_dedup_exact")(spark, base))
    timeNoop(SparkEntry.queries("c1_dedup_exact")(spark, scaled))
    controlCpu(); controlSched() // warm the control plans

    val times = scala.collection.mutable.LinkedHashMap[(String, String), Vector[Double]]()
    val cpu = scala.collection.mutable.ArrayBuffer[Double]()
    val sched = scala.collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to repeats) {
      cpu += controlCpu(); sched += controlSched()
      for ((q, tag, mk) <- items) {
        preps.get((q, tag)).foreach(_.apply())
        val t = timeNoop(mk())
        times((q, tag)) = times.getOrElse((q, tag), Vector.empty) :+ t
        System.err.println(f"[scale-bench] $q%-22s $tag%-6s ${t}%.2fs")
      }
    }
    cpu += controlCpu(); sched += controlSched()

    def fmt(d: Double) = if (d < 0) "-1" else f"$d%.4f"
    def mn(v: Vector[Double]) = { val ok = v.filter(_ >= 0)
      if (ok.nonEmpty) ok.min else -1.0 }
    val labels = items.map(i => (i._1, i._2)).distinct.map(_._1).distinct
    val baseMin = labels.map(q => q -> mn(times((q, "base")))).toMap
    val scaledMin = labels.map(q => q -> mn(times((q, "scaled")))).toMap
    def obj(m: Map[String, Double]) = labels
      .map(q => "\"" + q + "\":" + fmt(m(q))).mkString("{", ",", "}")
    val ratios = labels.map { q =>
      val r = if (baseMin(q) > 0 && scaledMin(q) > 0) scaledMin(q) / baseMin(q)
              else -1.0
      "\"" + q + "\":" + fmt(r)
    }.mkString("{", ",", "}")
    val amb = s"""{"cpu_runs":${cpu.map(fmt).mkString("[", ",", "]")},""" +
      s""""sched_runs":${sched.map(fmt).mkString("[", ",", "]")}}"""
    // raw per-pass times (mirrors Bench's queries_runs): min-of-N hides
    // a contention burst's shape, the arrays keep it diagnosable
    def runsObj(tag: String) = labels.map { q =>
      "\"" + q + "\":" + times((q, tag)).map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val narrowed = only.map(n => s""","narrowed":${n.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")}""").getOrElse("")
    println(s"""{"metric":"scale_curve","base_dir":"$base","scaled_dir":"$scaled","factor":$factor,"repeats":$repeats,"base":${obj(baseMin)},"scaled":${obj(scaledMin)},"ratio":$ratios,"base_runs":${runsObj("base")},"scaled_runs":${runsObj("scaled")},"ambient":$amb$narrowed}""")
    spark.stop()
  }
}
