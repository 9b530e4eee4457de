package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFns
import graft.sources.Tables

/** Similarity search over the `embeddings` table (SURVEY §2.D):
  * exact brute-force ANN as the correctness baseline, hyperplane-LSH
  * bucketed ANN as the scale path, per-label stats.
  *
  * Scale notes: the query side is always the small side — it is
  * broadcast, so the fact-scale candidate set is scanned exactly once,
  * map-side, with no shuffle of candidates. Top-k uses `row_number() <=
  * k`, which Spark's InferWindowGroupLimit rewrites into a partial
  * per-partition top-k BEFORE the shuffle (check the plan for
  * WindowGroupLimit) — the full candidate ranking never materializes.
  */
object SimOps {

  /** Query set: every `qmod`-th vector (a deterministic small sample —
    * at real scale this is the user-supplied query batch).
    */
  private def queriesOf(emb: DataFrame, qmod: Int): DataFrame =
    emb.filter(pmod(col("vec_id"), lit(qmod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  /** The registered fixed-Q batch size (d13/d14/d15) — interpolation
    * source for their oracles.
    */
  val FixedQBatch: Int = 100

  /** FIXED-size query batch: the `nq` vectors of smallest
    * (md5(vec_id ∥ 'q'), vec_id) rank — the 'q' salt keeps the batch
    * decorrelated from the centroid/codebook samples, which rank by
    * unsalted md5. This is the production ANN workload shape: query
    * traffic does not grow because the corpus did, so the qmod forms
    * (|Q| = N/qmod) are the wrong curve to extrapolate — their scaled
    * cost is Q·scan = quadratic in SF by workload definition, not by
    * algorithm. A TakeOrdered top-nq, never a full sort. Expects the
    * (vec_id, embedding, nrm) projection.
    */
  private[graft] def fixedQueryBatch(emb: DataFrame, nq: Int,
                                     carry: Seq[String] = Nil): DataFrame =
    emb.select(Seq(col("vec_id").as("query_id"), col("embedding").as("qe"),
                   col("nrm").as("qnrm"),
                   md5(concat(col("vec_id").cast("string"), lit("q"))).as("qk"))
                 ++ carry.map(col): _*)
      .orderBy(col("qk"), col("query_id")).limit(nq)
      .select(Seq(col("query_id"), col("qe"), col("qnrm"))
                ++ carry.map(col): _*)

  /** d1: exact cosine top-10 per query — broadcast-nested-loop of the
    * tiny query batch against every candidate, exact double cosine,
    * group-limited rank.
    */
  def annBruteforce(spark: SparkSession, dir: String,
                    k: Int = 10, qmod: Int = 50): DataFrame = {
    // Norms materialize once per side (the join is the barrier); the
    // per-pair work is one dot product + a division, not 3 vector folds.
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              VectorFns.norm(col("embedding")).as("nrm"))
    val q = queriesOf(emb, qmod)
      .withColumn("qnrm", VectorFns.norm(col("qe")))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
              (VectorFns.dot(col("embedding"), col("qe")) /
               (col("nrm") * col("qnrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("rnk"),
              round(col("cos"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** d2: LSH-bucketed ANN — 16 hyperplanes, 4 bands × 4 bits; a
    * candidate is scored only if it shares ≥1 (possibly multi-probed)
    * band key with the query. The bucket join replaces the full scan:
    * at 100 TB each band bucket holds ~N/16 candidates and only probed
    * buckets are read. Multi-probe is ON by default — measured at
    * sf0.1 it doubles recall (0.44 → 0.92) at indistinguishable cost,
    * because only the ≤N/qmod query rows fan out, never the corpus
    * index. Approximate by construction; recall vs d1 is measured in
    * SimOpsSpec and floored on planted twins in RecallAtScaleSpec.
    */
  def annLsh(spark: SparkSession, dir: String,
             k: Int = 10, qmod: Int = 50,
             multiProbe: Boolean = true): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              VectorFns.lshSig(col("embedding"), 16).as("sig"))
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"), VectorFns.lshBand(col("sig"), b, 4).as("bkey"))
    }
    def explodeBands(df: DataFrame, idCol: String, vecCol: String) = df
      .select(col("vec_id").as(idCol), col("embedding").as(vecCol),
              explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col(vecCol), col("bk.band"), col("bk.bkey"))
    val cands = explodeBands(emb, "cand_id", "ce")
    val qs0 = explodeBands(
      emb.filter(pmod(col("vec_id"), lit(qmod)) === 0), "query_id", "qe")
    // Multi-probe: a near neighbor that lands hamming-1 off the
    // query's 4-bit band key in EVERY band still gets probed — the
    // classic fewer-tables/more-probes trade. Only the QUERY side
    // fans out (5 keys per band instead of 1); the corpus-side index
    // is untouched, which is what makes this cheap at 100 TB — probe
    // count scales with the query batch, not the data.
    val qs =
      if (!multiProbe) qs0
      else qs0.select(col("query_id"), col("qe"), col("band"),
        explode(array((Seq(lit(0L)) ++ (0 until 4).map(j => lit(1L << j)))
          .map(col("bkey").bitwiseXOR(_)): _*)).as("bkey"))
    // Dedup AFTER scoring, not before: the old `.distinct()` on
    // (query_id, cand_id, qe, ce) dragged both 64-float vectors
    // through the dedup exchange (20 MB at sf0.1 — ~85% of the
    // query's shuffle). Scoring first costs one extra cosine per
    // duplicate band hit (≤ bands × probes per pair, map-side), and
    // the dedup becomes max over identical per-pair values — the
    // ivfScoreTopK collapse — shuffling only (query, cand, cos)
    // partial-aggregated rows (guide §2.3: shuffle keys and results,
    // not payloads).
    val scored = cands
      .join(broadcast(qs),
        cands("band") === qs("band") && cands("bkey") === qs("bkey") &&
          col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
              VectorFns.cosine(col("ce"), col("qe")).as("cos"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("rnk"),
              round(col("cos"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** d4: d1's exact top-10, computed through the custom TopKAggregator
    * instead of a window — each map partition ships at most k rows per
    * query into the shuffle (a true partial top-k aggregate, the shape
    * that survives a query key with millions of candidates). Verified
    * against the SAME oracle as d1: a hash match proves the custom
    * aggregate bit-equivalent to the window form.
    */
  def annTopKAgg(spark: SparkSession, dir: String,
                 k: Int = 10, qmod: Int = 50): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              VectorFns.norm(col("embedding")).as("nrm"))
    val q = queriesOf(emb, qmod)
      .withColumn("qnrm", VectorFns.norm(col("qe")))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
              (graft.functions.FloatVecDot(col("embedding"), col("qe")) /
               (col("nrm") * col("qnrm"))).as("cos"))
    val topk = graft.functions.TopKAgg.topK(k)
    scored.groupBy(col("query_id"))
      .agg(topk(col("cand_id"), col("cos")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.cand_id").as("cand_id"),
              (col("pos") + 1).cast("int").as("rnk"),
              round(col("col.cos"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** d5: IVF-flat ANN — the inverted-file scale path: a small FIXED
    * centroid set partitions the corpus into cells (one broadcast
    * assignment pass); each query probes only its `nProbe` nearest
    * cells and scores just those lists. At 100 TB the cell lists are
    * the partitioning: a query touches ~nProbe·nAssign/nlist of the
    * data instead of all of it. Centroids are trained on a BOUNDED
    * corpus sample (hash-ranked, see `ivfCentroids`) so nlist — and
    * with it the broadcast size and the O(N·nlist) assignment cost —
    * is independent of corpus size; at real scale pick nlist ≈ √N
    * (the classic IVF sizing: cells of ~√N vectors each) — the
    * default 64 fits the test corpora (N ≤ 2000). Two recall levers,
    * both measured in grid runs at sf0.1 (BASELINE.md "Recall"; the
    * nlist=64/nProbe=8/nAssign=4 default is the measured frontier
    * point: recall 0.793 at the same ~50 % scan fraction the old
    * 32/8/2 point spent for 0.743): soft corpus assignment
    * `nAssign=4` (default — a boundary vector is indexed in its 4
    * nearest cells; recall up at equal probe cost, index ×4) and
    * `kmeansIters` Lloyd rounds (a BUILD-time cost — per-query here
    * because the bench rebuilds the index, amortized to zero on a
    * real corpus where centroids are trained once and reused).
    * Approximate — recall vs d1 is measured in SimOpsSpec and
    * surfaced per-run in the bench JSON.
    */
  /** IVF centroid set: exactly `min(nlist, N)` vectors chosen by
    * md5-rank over vec_id (a deterministic, order-free sample; the
    * rank-cap runs as TakeOrderedAndProject — a per-partition top-k
    * merged on the driver, never a global sort), optionally refined
    * by `kmeansIters` rounds of spherical k-means (assign every
    * vector to its max-cosine centroid, replace each centroid with
    * its members' element-wise mean — cosine ignores magnitude, so
    * the mean IS the spherical update, and the cosine objective is
    * monotone non-decreasing per Lloyd). Each round is one broadcast
    * assignment pass + one partial-aggregable per-(cell, dim) mean —
    * the standard distributed k-means shape; a cell that loses all
    * members drops out. Fixed cardinality is the scale contract:
    * round 6 sampled every 16th vector (nlist = N/16), which grew the
    * broadcast linearly with the corpus and made assignment O(N²/16).
    * Exposed for the refinement spec (SimOpsSpec asserts the
    * objective improves) and the cardinality spec (count == nlist at
    * every SF).
    */
  private[graft] def ivfCentroids(emb: DataFrame, nlist: Int,
                                  kmeansIters: Int): DataFrame = {
    var cents = emb
      .select(col("vec_id"), col("embedding"), col("nrm"),
              md5(col("vec_id").cast("string")).as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(nlist)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"),
              col("nrm").as("cnrm"))
    for (_ <- 1 to kmeansIters) {
      // same slim-window discipline as nearestCells: rank cells on
      // (vec_id, cent_id, csim) rows only, then re-join the vector —
      // the array must not ride the |emb|×nlist window shuffle
      val scored = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cent_id"),
                (graft.functions.FloatVecDot(col("embedding"), col("ce")) /
                 (col("nrm") * col("cnrm"))).as("csim"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("cent_id"))
      val assigned = scored.withColumn("crnk", row_number().over(w))
        .filter(col("crnk") === 1)
        .select(col("vec_id"), col("cent_id"))
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .select(col("cent_id"), col("embedding"))
      cents = assigned
        .select(col("cent_id"), posexplode(col("embedding")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cent_id"),
                transform(col("pm"), s => s.getField("m").cast("float"))
                  .as("ce"))
        .select(col("cent_id"), col("ce"), VectorFns.norm(col("ce")).as("cnrm"))
        .localCheckpoint(false)
    }
    cents
  }

  /** Max-cosine cell routing against a broadcast centroid set: each
    * row of `side` gets its `n` nearest cells (IVF list assignment for
    * the corpus, probe selection for queries). Shared by d5 and d10.
    */
  private[graft] def nearestCells(cents: DataFrame)(
      side: DataFrame, idCol: String, vecCol: String,
      nrmCol: String, n: Int): DataFrame = {
    // The ranking runs on SLIM (id, cent_id, csim) rows — the vector
    // array must not ride through the window shuffle: with it along,
    // the |side|×nlist scored stream serialized ~40 GB of shuffle at
    // the ×1000 slice (2M vectors × 64 cells × ~300 B) and filled the
    // disk; slim, InferWindowGroupLimit's map-side partial top-n cuts
    // the same shuffle to ≤n rows/vector of a few dozen bytes (all
    // nlist rows of a vector share the map partition — the crossJoin
    // side is broadcast). Survivors then re-join `side` by id to pick
    // the vector back up (AQE broadcasts whichever side is tiny).
    val scored = side.crossJoin(broadcast(cents))
      .select(col(idCol), col("cent_id"),
              (graft.functions.FloatVecDot(col(vecCol), col("ce")) /
               (col(nrmCol) * col("cnrm"))).as("csim"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("csim").desc, col("cent_id"))
    val picked = scored.withColumn("crnk", row_number().over(w))
      .filter(col("crnk") <= n)
      .select(col(idCol), col("cent_id"))
    picked.join(side.select(col(idCol), col(vecCol), col(nrmCol)), idCol)
      .select(col(idCol), col(vecCol), col(nrmCol), col("cent_id"))
  }

  /** The shared IVF probe tail: cell-match posting lists against probe
    * routes, exact cosine per surfaced pair, soft-assignment dedup
    * (a pair surfacing from two shared cells collapses by max — cos is
    * deterministic per pair so max == the value; partial-aggregable,
    * and skipped when `dedup` is false for nAssign == 1 semantics),
    * per-query top-k. Shared by d5, d11, and the landed-index probe.
    */
  private[graft] def ivfScoreTopK(lists: DataFrame, probes: DataFrame,
                                  k: Int, dedup: Boolean = true): DataFrame = {
    val matched = lists
      .join(probes, lists("cent_id") === probes("cent_id") &&
                    col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
              (graft.functions.FloatVecDot(col("embedding"), col("qe")) /
               (col("nrm") * col("qnrm"))).as("cos"))
    val scored =
      if (!dedup) matched
      else matched.groupBy(col("query_id"), col("cand_id"))
        .agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("rnk"),
              round(col("cos"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  def annIvf(spark: SparkSession, dir: String, k: Int = 10,
             qmod: Int = 50, nlist: Int = 64, nProbe: Int = 8,
             kmeansIters: Int = 0, nAssign: Int = 4,
             nq: Int = 0): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              VectorFns.norm(col("embedding")).as("nrm"))
    // fixed nlist sampled centroids, optionally Lloyd-refined — the
    // plan shape below is identical either way
    val cells = nearestCells(ivfCentroids(emb, nlist, kmeansIters)) _
    // corpus: each vector is indexed into its nAssign nearest cells
    // (soft assignment — the IVF analog of d2's multi-probe: a vector
    // on a cell boundary is findable from either side; index size
    // grows ×nAssign, probe cost doesn't); queries probe nProbe cells
    val lists = cells(emb, "vec_id", "embedding", "nrm", nAssign)
    val qbase = if (nq > 0) fixedQueryBatch(emb, nq)
      else emb.filter(pmod(col("vec_id"), lit(qmod)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
                col("nrm").as("qnrm"))
    val probes = cells(qbase, "query_id", "qe", "qnrm", nProbe)
    ivfScoreTopK(lists, probes, k, dedup = nAssign > 1)
  }

  /** d11: incremental IVF — the ANN twin of p11's cross-batch dedup:
    * the corpus minus an arriving batch (`vec_id % batchMod != 0`) is
    * the STANDING index — its centroids are trained on it alone and
    * then FROZEN, exactly what a production vector index does between
    * retrains — and the batch is upserted by routing each new vector
    * through the frozen centroids into its `nAssign` cells, touching
    * none of the standing postings. Queries (old and new vectors
    * alike) probe the merged lists. The one-shot form here states the
    * semantics; `Warehouse.upsertIvf` is the landed production path
    * (append-only partition writes against the persisted index) and
    * is spec-proven result-identical. Incremental cost at scale:
    * O(|batch|·nlist) routing + an append of |batch|·nAssign posting
    * rows — the standing corpus is never re-scanned or re-sharded.
    */
  def annIvfIncremental(spark: SparkSession, dir: String, k: Int = 10,
                        qmod: Int = 50, nlist: Int = 64, nProbe: Int = 8,
                        nAssign: Int = 4, batchMod: Int = 17): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              VectorFns.norm(col("embedding")).as("nrm"))
    val corpus = emb.filter(pmod(col("vec_id"), lit(batchMod)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(batchMod)) === 0)
    // routing trained on the standing corpus ONLY, then frozen — the
    // batch has zero influence on cell geometry (kmeansIters = 0 so
    // the DuckDB oracle replays the centroid set exactly)
    val cells = nearestCells(ivfCentroids(corpus, nlist, 0)) _
    val lists = cells(corpus, "vec_id", "embedding", "nrm", nAssign)
      .unionAll(cells(batch, "vec_id", "embedding", "nrm", nAssign))
    val probes = cells(
      emb.filter(pmod(col("vec_id"), lit(qmod)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
                col("nrm").as("qnrm")),
      "query_id", "qe", "qnrm", nProbe)
    ivfScoreTopK(lists, probes, k, dedup = nAssign > 1)
  }

  /** d10: IVF-PQ with exact rerank — the composition a production
    * 100 TB vector index actually runs: IVF cell routing prunes the
    * corpus to probed lists (d5's stage), PQ asymmetric distance
    * scores the survivors WITHOUT touching full vectors (the shortlist
    * reads 8 byte-codes per candidate — here the code's centroid
    * vectors, same arithmetic Catalyst sees), and only the top
    * `rerank`·k ADC candidates get their full vector re-read for exact
    * cosine. At scale the expensive exact pass thus touches
    * rerank·k rows per query instead of every list member; ADC's
    * ranking error is absorbed by the rerank margin. rerank=16 chosen
    * from a measured grid (BASELINE.md "Recall", re-run after the
    * round-7 fixed-codebook redesign): sf0.1 recall 0.588 / 0.672 /
    * 0.730 at rerank 4 / 8 / 16, i.e. rerank=16 sits essentially at
    * the 0.7425 ceiling the IVF routing itself sets, at unchanged
    * runtime (the exact pass reads rerank·k rows per query — still
    * negligible next to the probed-list ADC scan at any scale).
    *
    * Plan shape: broadcast centroid probe (documented BNLJ) → cell
    * join → pair dedup → shuffle join to the code table on cand_id →
    * broadcast query-subvector join → two WindowGroupLimit top-ks
    * (ADC shortlist, then exact). Approximate — recall vs d1 is in
    * SimOpsSpec and the bench recall JSON; exactness of the FINAL
    * scores (they're true cosines) is spec-checked like d5's.
    */
  def annIvfPq(spark: SparkSession, dir: String, k: Int = 10,
               qmod: Int = 50, nlist: Int = 64, nProbe: Int = 8,
               nAssign: Int = 4, ks: Int = 256, m: Int = 8,
               subDim: Int = 8, rerank: Int = 16,
               kmeansIters: Int = 0, nq: Int = 0): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              VectorFns.norm(col("embedding")).as("nrm"))
    val cells = nearestCells(ivfCentroids(emb, nlist, kmeansIters)) _
    val lists = cells(emb, "vec_id", "embedding", "nrm", nAssign)
      .select(col("vec_id").as("cand_id"), col("cent_id"))
    val queries = if (nq > 0) fixedQueryBatch(emb, nq)
      else emb.filter(pmod(col("vec_id"), lit(qmod)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
                col("nrm").as("qnrm"))
    val probes = cells(queries, "query_id", "qe", "qnrm", nProbe)
      .select(col("query_id"), col("cent_id"))
    val pairs = lists.join(probes, "cent_id")
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id")).distinct()
    // corpus PQ codes, ONE wide row per candidate: `cevec` is the
    // sub_j-ordered PQ reconstruction (m·subDim floats), `cn2` its
    // norm² — at scale this table is the 32×-compressed index, built
    // once; encoding is the per-row expression argmin against the
    // fixed ≤256-entry codebook (no join), and the pivot's exchange is
    // keyed on the id the pairs join needs, so it plans as the join
    // shuffle, not an extra one
    val codes = pqCodesWide(pqEncode(
        pqSubs(emb.select(col("vec_id"), col("embedding")),
               Seq("vec_id"), m, subDim), ks, m, kmeansIters), m)
      .select(col("vec_id").as("cand_id"), col("cevec"), col("cn2"))
    // ADC: approx cos = dot(q, reconstruction) / (‖recon‖ · ‖q‖) —
    // one fused m·subDim-element dot per (query, cand) row (pairs are
    // already distinct), replacing the old per-sub_j row fanout (×m
    // rows through the codes join) + hits-scale reassembly aggregate
    val adc = pairs.join(codes, "cand_id")
      .join(broadcast(queries), "query_id")
      .filter(col("cn2") > 0)
      .select(col("query_id"), col("cand_id"),
              (graft.functions.FloatVecDot(col("qe"), col("cevec")) /
               (sqrt(col("cn2")) * col("qnrm"))).as("adc_cos"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cos").desc, col("cand_id"))
    val shortlist = adc.withColumn("arnk", row_number().over(wAdc))
      .filter(col("arnk") <= rerank * k)
      .select(col("query_id"), col("cand_id"))
    // exact rerank: full vectors re-read for shortlist members only
    val exact = shortlist
      .join(emb.select(col("vec_id").as("cand_id"), col("embedding"),
                       col("nrm")), "cand_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("cand_id"),
              (graft.functions.FloatVecDot(col("embedding"), col("qe")) /
               (col("nrm") * col("qnrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("rnk"),
              round(col("cos"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** d6: range (radius) search — every (query, candidate) pair with
    * cosine ≥ τ, the other fundamental vector-DB operation (top-k
    * bounds the COUNT, range bounds the SIMILARITY — dedup gates and
    * "all sufficiently similar" retrieval need the latter). Exact
    * scan form: the threshold filter runs inside the scan stage right
    * after the fused dot product, so only passing pairs survive into
    * the output — no window, no rank, fully partial. The LSH/IVF
    * bucketing of d2/d5 composes for the 100 TB path (score only
    * bucket-mates, same filter).
    */
  def annRange(spark: SparkSession, dir: String,
               tau: Double = 0.15, qmod: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              VectorFns.norm(col("embedding")).as("nrm"))
    val q = emb.filter(pmod(col("vec_id"), lit(qmod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
              col("nrm").as("qnrm"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
              (graft.functions.FloatVecDot(col("embedding"), col("qe")) /
               (col("nrm") * col("qnrm"))).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("query_id"), col("cand_id"),
              round(col("cos"), 6).as("cosine"))
      .orderBy(col("query_id"), col("cand_id"))
  }

  /** d7: metadata-filtered vector search — "nearest neighbors among
    * documents WHERE lang = X", the retrieval-with-filter shape every
    * RAG/curation pipeline needs. PRE-filter semantics: the predicate
    * prunes the candidate set BEFORE scoring (a left-semi join from
    * embeddings to the filtered metadata), so a selective predicate
    * cuts scoring compute proportionally and the result always has k
    * hits per query when k survivors exist — post-filtering a plain
    * top-k would instead return short pages under selective filters.
    *
    * 100 TB shape: the lang predicate pushes into the documents scan
    * (PushedFilters), which reads only (doc_id, lang). Over these
    * plain parquet reads the id semi join is an ordinary shuffled
    * join (both sides exchange on the id); since documents and
    * embeddings share the id space, a deployment lands both bucketed
    * on it — `Warehouse.annFilteredBucketed` is that layout, with a
    * spec proving the semi join runs with NO Exchange on either side.
    * The scoring pass is then identical to d1: broadcast query batch,
    * one map-side scan of the surviving candidates, partial top-k.
    */
  def annFiltered(spark: SparkSession, dir: String, k: Int = 10,
                  qmod: Int = 50, lang: String = "en"): DataFrame = {
    val meta = Tables.documents(spark, dir)
      .filter(col("lang") === lang)
      .select(col("doc_id"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              VectorFns.norm(col("embedding")).as("nrm"))
    annFilteredFrom(emb, meta, k, qmod)
  }

  /** d7's plan over caller-supplied sides — `emb` must carry (vec_id,
    * embedding, nrm), `meta` the surviving doc_ids. Shared by the
    * plain-parquet d7 above and `Warehouse.annFilteredBucketed` (the
    * exchange-free layout). Queries are NOT filtered — the query batch
    * is the caller's; only the candidate corpus passes the gate.
    */
  private[graft] def annFilteredFrom(emb: DataFrame, meta: DataFrame,
                                     k: Int, qmod: Int): DataFrame = {
    val q = queriesOf(emb, qmod)
      .withColumn("qnrm", VectorFns.norm(col("qe")))
    val cands = emb.join(meta, col("vec_id") === col("doc_id"), "left_semi")
    val scored = cands.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
              (graft.functions.FloatVecDot(col("embedding"), col("qe")) /
               (col("nrm") * col("qnrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("rnk"),
              round(col("cos"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** d8: int8 symmetric per-vector quantization with error accounting —
    * the storage/bandwidth trade every 100 TB ANN deployment makes
    * (4x smaller vectors, SIMD-able int8 dot products) is only safe if
    * the reconstruction error is measured, so this emits per-label
    * quantization quality: cosine preserved between the original and
    * the dequantized vector, and the max absolute component error.
    *
    * scale = 127 / max|v| per vector (symmetric, zero-point free);
    * q_i = floor(v_i * scale + 0.5) — floor(x + 0.5) instead of
    * round() because Spark and DuckDB disagree on HALF_UP vs
    * HALF_EVEN at exact .5 boundaries, and floor is bit-identical in
    * both. All arithmetic in double; pure partial-aggregable scan.
    */
  /** d9: product quantization error accounting — the OTHER compression
    * every 100 TB vector deployment runs (d8's int8 keeps all dims at
    * lower precision; PQ replaces each of `m` subvectors with a
    * codebook id: 64 floats → 8 byte-codes, 32× smaller, the layout
    * IVF-PQ indexes scan). Sub-codebooks are a FIXED-cardinality
    * md5-rank sample (ks ≤ 256 entries per subspace at any corpus
    * size — see `pqTrainCodebook`); assignment is argmin squared
    * distance per (vector, subspace), tie-broken by centroid id,
    * computed per-row by the codegen'd PqNearestCentroid expression.
    *
    * Nothing reassembles physically: cosine(reconstruction, original)
    * decomposes over subspaces (Σ dot_j / (√Σ‖ce_j‖² · √Σ‖sub_j‖²)),
    * so the plan is ONE shuffle-free expression scan + two
    * partial-aggregable groupBys — per-label quality (cosine
    * preserved, squared reconstruction error) out of a scan.
    * `kmeansIters` Lloyd-refines the codebook per subspace (assign →
    * per-(cell, dim) mean — plain Euclidean k-means, the PQ metric is
    * L2); the spec asserts the quantization error is monotone
    * non-increasing.
    */
  /** Explode vectors into their m `subDim`-dim subvectors:
    * (carried..., sub_j, sub).
    */
  private[graft] def pqSubs(emb: DataFrame, carry: Seq[String],
                            m: Int, subDim: Int): DataFrame = {
    val subsOf = transform(sequence(lit(0), lit(m - 1)),
      j => slice(col("embedding"), j * subDim + 1, lit(subDim)))
    emb.filter(col("embedding").isNotNull)
      .select(carry.map(col) :+ posexplode(subsOf): _*)
      .select(carry.map(col) ++
        Seq(col("pos").as("sub_j"), col("col").as("sub")): _*)
  }

  /** Train the per-subspace PQ codebook to a FIXED cardinality: the
    * `ks` vectors with the smallest (md5(vec_id), vec_id) rank seed
    * one sub-centroid per subspace each (a deterministic, order-free
    * bounded sample — the rank-cap is TakeOrderedAndProject, a
    * per-partition top-k, never a global sort), optionally refined by
    * `kmeansIters` rounds of plain Euclidean k-means per subspace
    * (assign every subvector to its argmin-distance sub-centroid via
    * the per-row expression, replace each sub-centroid with its
    * members' element-wise mean — the mean minimizes within-cell
    * squared distance, so the PQ objective is monotone non-increasing
    * per Lloyd; a cell that loses all members drops out).
    *
    * The materialized book is ≤ ks·m small vectors (a few hundred KB
    * at ks=256, m=8) — collected to the driver as the index-build
    * step and shipped to executors as a codegen reference object.
    * Fixed cardinality is the scale contract round 6 broke: sampling
    * every 8th vector made ks = N/8, which (a) grew the broadcast
    * linearly with the corpus, (b) made assignment O(N²·m/8), and
    * (c) silently broke the "byte codes" invariant past N = 2048.
    * ks ≤ 256 keeps a code one byte at ANY corpus size.
    */
  private[graft] def pqTrainCodebook(subs: DataFrame, ks: Int, m: Int,
                                     kmeansIters: Int): graft.functions.PqCodebook = {
    def toBook(rows: Array[org.apache.spark.sql.Row]): graft.functions.PqCodebook = {
      val byJ = rows.groupBy(_.getInt(0))
      new graft.functions.PqCodebook((0 until m).toArray.map { j =>
        byJ(j).map(r => new graft.functions.PqCent(
            r.getLong(1), r.getSeq[Float](2).toArray, r.getDouble(3)))
          .sortBy(_.centId)
      })
    }
    val ids = subs.filter(col("sub_j") === 0)
      .select(col("vec_id"), md5(col("vec_id").cast("string")).as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(ks)
      .select(col("vec_id"))
    var book = toBook(subs.join(broadcast(ids), "vec_id")
      .select(col("sub_j"), col("vec_id").as("cent_id"), col("sub").as("ce"),
              graft.functions.FloatVecDot(col("sub"), col("sub")).as("cn"))
      .collect())
    for (_ <- 1 to kmeansIters) {
      val w = graft.functions.PqNearestCentroid(book)(
        col("sub_j"), col("sub"),
        graft.functions.FloatVecDot(col("sub"), col("sub")))
      book = toBook(subs
        .select(col("sub_j"), w.getField("cent_id").as("cent_id"), col("sub"))
        .select(col("sub_j"), col("cent_id"), posexplode(col("sub")))
        .groupBy(col("sub_j"), col("cent_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("sub_j"), col("cent_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("sub_j"), col("cent_id"),
                transform(col("pm"), s => s.getField("m").cast("float"))
                  .as("ce"))
        .withColumn("cn", graft.functions.FloatVecDot(col("ce"), col("ce")))
        .collect())
    }
    book
  }

  /** PQ encode: every (vector, subspace) row gets its argmin-sq-dist
    * sub-centroid (tie-broken by centroid id) as a nested struct `w` =
    * (cent_id, dist, dotj, cn, ce) — computed INSIDE the row by the
    * codegen'd PqNearestCentroid expression against the fixed
    * ≤256-entry codebook. Round 6 built this as an N×m×ks candidate
    * join + two-pass groupBy argmin — two exchanges of a 4M-row
    * intermediate at sf0.1 (the 28.9 s driver-bench d9); the per-row
    * form is one whole-stage-codegen scan pass, zero shuffles, and
    * identical bits (left-to-right dot fold, dist = sn + cn − 2·dot
    * with the oracle's parenthesization, strict-< over id-sorted
    * entries ≡ (dist, cent_id) argmin). Shared by d9, d10's code
    * table, and Warehouse.buildIvf.
    */
  private[graft] def pqEncode(subs: DataFrame, ks: Int, m: Int,
                              kmeansIters: Int = 0): DataFrame =
    pqEncodeWith(subs, pqTrainCodebook(subs, ks, m, kmeansIters))

  /** Encode against an ALREADY-TRAINED book — the probe-side cost a
    * production deployment pays per batch (training amortizes to zero
    * over the corpus lifetime; the bench's ann_split reports the two
    * separately).
    */
  private[graft] def pqEncodeWith(subs: DataFrame,
                                  book: graft.functions.PqCodebook): DataFrame = {
    val subsN = subs.withColumn(
      "sn", graft.functions.FloatVecDot(col("sub"), col("sub")))
    val w = graft.functions.PqNearestCentroid(book)(
      col("sub_j"), col("sub"), col("sn"))
    subsN.withColumn("w", w)
      .select(col("*"), col("w.cent_id").as("cent_id"),
              col("w.dist").as("dist"), col("w.dotj").as("dotj"),
              col("w.cn").as("cn"), col("w.ce").as("ce"))
      .drop("w")
  }

  /** Collapse the m exploded (vec_id, sub_j, ce, cn) code rows of each
    * vector into ONE wide row: `cevec` = the sub_j-ordered concatenation
    * of the code centroid subvectors (the PQ reconstruction — m·subDim
    * floats) and `cn2` = Σ_j cn_j = ‖reconstruction‖². ADC then scores
    * dot(q, reconstruction) in one fused loop per candidate row — the
    * Σ_j dot(q_j, ce_j) decomposition evaluated flat — instead of
    * paying a per-(query, cand, sub_j) row fanout plus a hits-scale
    * aggregate exchange to reassemble the sum (measured the dominant
    * shuffle of every IVF-PQ probe at sf0.1, round 17). The m slot
    * pivot is a codegen HashAggregate (the bm25 tord-slot pattern);
    * every encoded vector lands all m sub_j rows adjacent from one
    * posexplode, so the partial aggregate completes map-side.
    */
  private[graft] def pqCodesWide(codes: DataFrame, m: Int): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(flatten(array((0 until m).map(j =>
             max(when(col("sub_j") === j, col("ce")))): _*)).as("cevec"),
           sum(col("cn")).as("cn2"))

  def pqQuantize(spark: SparkSession, dir: String, m: Int = 8,
                 subDim: Int = 8, ks: Int = 256,
                 kmeansIters: Int = 0): DataFrame = {
    val subs = pqSubs(Tables.embeddings(spark, dir),
      Seq("label", "vec_id"), m, subDim)
    pqQuantizeFrom(pqEncode(subs, ks, m, kmeansIters))
  }

  /** d9 with a caller-supplied trained codebook (the bench's
    * probe-side timing; result-identical to `pqQuantize` when the book
    * comes from `pqTrainCodebook` with the same parameters).
    */
  private[graft] def pqQuantizeWith(spark: SparkSession, dir: String,
                                    book: graft.functions.PqCodebook,
                                    m: Int = 8, subDim: Int = 8): DataFrame =
    pqQuantizeFrom(pqEncodeWith(
      pqSubs(Tables.embeddings(spark, dir), Seq("label", "vec_id"), m, subDim),
      book))

  private def pqQuantizeFrom(encoded: DataFrame): DataFrame = {
    val assigned = encoded
      .select(col("label"), col("vec_id"), col("dist"), col("dotj"),
              col("cn").as("qn"), col("sn").as("onr"))
    assigned.groupBy(col("label"), col("vec_id"))
      .agg((sum(col("dotj")) /
            (sqrt(sum(col("qn"))) * sqrt(sum(col("onr"))))).as("cos_pq"),
           sum(col("dist")).as("sq"),
           sum(col("qn")).as("qn_t"), sum(col("onr")).as("onr_t"))
      .filter(col("qn_t") > 0 && col("onr_t") > 0)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
           round(avg(col("cos_pq")), 6).as("avg_cos_preserved"),
           round(min(col("cos_pq")), 6).as("min_cos_preserved"),
           round(avg(col("sq")), 6).as("avg_sq_err"))
      .orderBy(col("label"))
  }

  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    val v = col("embedding")
    val absMax = aggregate(v, lit(0.0d),
      (a, x) => greatest(a, abs(x.cast("double"))))
    val scale = lit(127.0d) / col("abs_max")
    // dequantized component: floor(v*scale + 0.5) / scale
    def dq(x: Column) =
      floor(x.cast("double") * scale + lit(0.5d)) / scale
    val errs = transform(v, x => abs(dq(x) - x.cast("double")))
    val dot = aggregate(zip_with(v, v, (a, b) => dq(a) * b.cast("double")),
      lit(0.0d), (acc, x) => acc + x)
    val nrmQ = sqrt(aggregate(v, lit(0.0d), (a, x) => a + dq(x) * dq(x)))
    val nrm = VectorFns.norm(v)
    Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull)
      .select(col("label"), col("embedding"), absMax.as("abs_max"))
      .filter(col("abs_max") > 0)
      .select(col("label"),
              array_max(errs).as("max_err"),
              (dot / (nrmQ * nrm)).as("cos_preserved"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
           round(avg(col("cos_preserved")), 6).as("avg_cos_preserved"),
           round(min(col("cos_preserved")), 6).as("min_cos_preserved"),
           round(max(col("max_err")), 6).as("max_abs_err"))
      .orderBy(col("label"))
  }

  /** d16: kNN auto-labeling (label propagation) — classify each query
    * vector by the majority label of its k exact-cosine nearest
    * neighbors in the labeled corpus, reporting predicted vs actual.
    * The training-data use: propagate a small set of trusted labels
    * onto unlabeled data (or audit an existing labeling) — the
    * reference's tag/classification backfill jobs re-expressed as one
    * declarative plan (PasarDAssist keeps per-token `tags` it
    * re-derives in batch; app.service.ts browse filters consume them).
    *
    * Scale shape: the fixed-|Q| batch broadcasts (the d13 production
    * contract — query traffic does not grow with the corpus), the
    * corpus streams through ONE scan with a per-partition TopK partial
    * (≤ k rows per query per map task reach the shuffle — the d4
    * aggregator), and the vote/argmax runs over k·|Q| rows, driver-
    * trivial at any corpus size. The label join probes the corpus a
    * second time but column-pruned to (vec_id, label) — at 100 TB
    * that's a metadata-narrow scan, not a second embedding read, and
    * the probe side (k·|Q| rows) broadcasts so nothing re-shuffles.
    * The query batch CARRIES its own label out of the first scan, so
    * the actual-vs-predicted report costs a tiny-⋈-tiny join, not a
    * third corpus read. Ties: cosine ties break by cand_id (the d1
    * contract), vote ties by smallest label — both total orders, so
    * the result is exact and DuckDB-replayable.
    */
  def knnClassify(spark: SparkSession, dir: String,
                  k: Int = 10, nq: Int = FixedQBatch): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"),
              VectorFns.norm(col("embedding")).as("nrm"))
    val q = fixedQueryBatch(emb, nq, carry = Seq("label"))
    // the corpus side owns "label" in the scoring join — drop the
    // carried copy there and keep it for the final report
    val scored = emb.crossJoin(broadcast(q.drop("label")))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
              (graft.functions.FloatVecDot(col("embedding"), col("qe")) /
               (col("nrm") * col("qnrm"))).as("cos"))
    val topk = graft.functions.TopKAgg.topK(k)
    val top = scored.groupBy(col("query_id"))
      .agg(topk(col("cand_id"), col("cos")).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.cand_id").as("cand_id"))
    knnVoteTail(spark, dir, top,
                q.select(col("query_id"), col("label").as("actual_label")))
  }

  /** The d16 vote/report tail over a caller-supplied neighbor list
    * (query_id, cand_id) and actual-label frame — shared by the exact
    * full-scan d16 and the landed-index d16b so their vote semantics
    * (vote ties by smallest label) can never drift. The neighbor list
    * is k·|Q| rows, so IT broadcasts into the metadata-narrow
    * (vec_id, label) corpus probe; nothing fact-scale re-shuffles.
    */
  private[graft] def knnVoteTail(spark: SparkSession, dir: String,
                                 top: DataFrame, actual: DataFrame): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("cand_id"), col("label"))
    val votes = labels.join(broadcast(top), "cand_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label"))
    val pred = votes.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("query_id"), col("label").as("predicted_label"),
              col("votes"))
    actual
      .join(pred, "query_id")
      .select(col("query_id"), col("actual_label"), col("predicted_label"),
              col("votes"),
              (col("predicted_label") === col("actual_label")).as("agrees"))
      .orderBy(col("query_id"))
  }

  /** d3: per-label embedding stats — count, average L2 norm, average
    * component mean. Pure partial-aggregable scan.
    */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"),
              VectorFns.norm(col("embedding")).as("nrm"),
              (aggregate(col("embedding"), lit(0.0), (a, x) => a + x) /
                size(col("embedding"))).as("cmean"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
           round(avg(col("nrm")), 4).as("avg_norm"),
           round(avg(col("cmean")), 6).as("avg_component_mean"))
      .orderBy(col("label"))
}
