package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFns, VectorFns}
import graft.sources.Tables

/** Deduplication operators over `documents`/`embeddings` (SURVEY §2.C)
  * — the LLM-pipeline layer: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard and embedding-cosine near-dup detection.
  *
  * Scale invariant (the one that matters at 100 TB): candidate pairs
  * are NEVER generated by an all-pairs crossJoin. Every pairwise
  * operator goes shingle-index or band-bucket self-join, with an
  * explicit bucket/document-frequency cap so one hot bucket cannot
  * produce a quadratic blowup; AQE's skew splitting covers the rest.
  * Similarity outputs are top-N ranked (not threshold-filtered) so the
  * operators stay non-vacuous on corpora with few true duplicates.
  */
object DedupOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  /** Distinct 3-gram shingle-hash SET per doc (md5hash64 → BIGINT,
    * array_distinct on the primitive fast path; md5-derived since
    * round 7 so c2's signatures replay in DuckDB — the oracle only
    * needs the LOW 32 bits, 2^32 ≡ 0 mod the 2^31 minhash modulus).
    * Shared by the MinHash
    * signature build (explode — min over the set equals min over the
    * multiset) and by p3's exact-Jaccard verification (array_intersect
    * of two BIGINT sets). NOT materialized here: c2 consumes it once
    * (recompute is cheaper than a checkpoint round-trip); p3, which
    * reads it three times, checkpoints its own copy.
    */
  private[operators] def shingleSets(spark: SparkSession, dir: String): DataFrame =
    shingleSetsFrom(docs(spark, dir))

  /** [[shingleSets]] over a caller-supplied (doc_id, text) frame —
    * the streaming gate hands each micro-batch here.
    */
  private[graft] def shingleSetsFrom(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
              array_distinct(transform(TextFns.shingles(col("toks"), 3),
                                       s => TextFns.md5hash64(s))).as("hs"))

  /** MinHash signature per doc: 128 per-permutation minima over the
    * md5-derived shingle hashes, as ONE typed aggregate (see
    * MinhashAgg: bit-identical to the 128-column declarative form,
    * ~2x faster — that form falls out of codegen past the field
    * limit). localCheckpoint, not persist: see dedupMinhash's note.
    * Signatures are PER-DOC (no cross-doc term), which is what makes
    * p11's incremental form exact: a new batch's signatures computed
    * alone equal its signatures computed inside the union corpus.
    */
  private[graft] def minhashSigs(sets: DataFrame): DataFrame =
    sets
      .select(col("doc_id"), explode(col("hs")).as("h64"))
      .select(col("doc_id"), pmod(col("h64"), lit(TextFns.MinhashM)).as("h"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.MinhashAgg.sig(128)(col("h")).as("sig"))
      .localCheckpoint(false)

  /** The 32 LSH band keys per signature. Band key = the md5-derived
    * 64-BIT hash of the comma-joined 4-entry slice (round 17 — was the
    * full 32-char md5 hex string): like the c3 word hash, md5 keeps
    * the ENTIRE c2 pipeline DuckDB-replayable (xxhash64-of-array
    * isn't) — the oracle groups on substr(md5(...), 1, 16), the hex
    * image of the SAME 64 bits, so the two engines' bucket equivalence
    * classes are identical. Versus the full string the key is 8 bytes
    * instead of a 32-char UTF8String riding EVERY row of the banding
    * exchange — the c2/c4-banded/p3/p11 family's dominant shuffle
    * (guide §2.3: narrower types). Two distinct slices colliding on
    * the 64-bit prefix (2^-64/pair, the c8 span-key convention) would
    * only MERGE two buckets: extra candidate pairs, killed by the
    * exact/estimate verification every consumer runs downstream.
    */
  private[graft] def bandKeys(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until 32).map { b =>
      struct(lit(b).as("band"),
             TextFns.md5hash64(
               concat_ws(",", transform(slice(col("sig"), b * 4 + 1, 4),
                                        v => v.cast("string")))).as("bkey"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bkey"))
  }

  /** MinHash(128)+LSH(32×4) machinery shared by c2 and p3: returns
    * (signatures, bucket-capped candidate pairs). See dedupMinhash for
    * the shape rationale; `sets` is shingleSets(...).
    *
    * Pair generation is the c4 inverted-index shape (round 11 — was
    * window-count + band self-join): ONE `groupBy(band, bkey)` through
    * [[graft.functions.CappedDistinctAgg]] builds each bucket's doc
    * set with ≤ cap + 1 ids of state at every point (a degenerate
    * band key shared by millions of docs costs O(cap), not a
    * quadratic bucket), then candidate pairs expand IN-ARRAY from
    * each surviving bucket (ids are sorted ascending, so the nested
    * transform emits exactly the a_id < b_id pairs). The window form
    * shuffled the full 32N band rows TWICE (window + self-join re-
    * exchange) and sorted every band partition for the window — at
    * data ×100 that per-task sort state was c2's measured residual
    * (the round-10 p256 control). Map-side partial aggregation also
    * shrinks the one remaining exchange below the raw band-row
    * volume. Same relational semantics, same DuckDB replay.
    */
  private def minhashCandidates(sets: DataFrame,
                                bucketCap: Int): (DataFrame, DataFrame) = {
    val sigs = minhashSigs(sets)
    val buckets = bandKeys(sigs)
      .groupBy(col("band"), col("bkey"))
      .agg(graft.functions.CappedDistinctAgg.fn(bucketCap)(col("doc_id"))
             .as("ids"))
      .filter(size(col("ids")) <= bucketCap)
    val pairs = buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
                  y => struct(x.as("a_id"), y.as("b_id")))))).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .distinct()
    (sigs, pairs)
  }

  /** c1: exact dedup by content hash — every doc scored with its
    * duplicate-group size and a canonical flag (min doc_id wins), the
    * form a pipeline actually consumes (filter is_canonical).
    * One shuffle on the fingerprint.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    docs(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("dup_count", count(lit(1)).over(w))
      .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(w))
      .orderBy(col("doc_id"))
  }

  /** c2: MinHash(128 perms) + LSH(32 bands × 4 rows) near-dup candidate
    * pairs with estimated Jaccard (fraction of agreeing signature
    * positions), top-50.
    *
    * Shape: signature per doc (native transform/aggregate, codegen'd) →
    * explode 32 band keys → ONE capped-distinct aggregation per band
    * bucket with in-array pair expansion (shuffle on band key, O(cap)
    * state per key, never all-pairs) → signature compare on candidates
    * only.
    */
  def dedupMinhash(spark: SparkSession, dir: String,
                   bucketCap: Int = 64, limit: Int = 50): DataFrame = {
    // Signature via explode + groupBy: each shingle hashed once per
    // row, the typed 128-min signature aggregate (MinhashAgg) combines
    // map-side before the one shuffle on doc_id — the distributed
    // minhash shape that survives 100 TB.
    // The signature table feeds three consumers (band explode + both
    // sides of the pair lookup) — materialize it instead of recomputing
    // the signature chain thrice. localCheckpoint rather than persist():
    // CacheManager pins a persisted plan until an explicit unpersist
    // (which no lazy-returning operator can safely schedule), leaking
    // executor memory across calls in a long-lived session, while a
    // checkpointed RDD is freed by the ContextCleaner as soon as the
    // returned result is dropped. Trade-off: checkpoint blocks survive
    // no executor loss — a cluster deployment that needs that writes
    // the signature table out as the reference pipeline would anyway.
    val (sigs, pairs) = minhashCandidates(shingleSets(spark, dir), bucketCap)
    val sa = sigs.select(col("doc_id").as("a_id"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("b_id"), col("sig").as("sig_b"))
    pairs.join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"),
        round(size(filter(zip_with(col("sig_a"), col("sig_b"),
                                   (p, q) => p === q), b => b))
                .cast("double") / 128.0, 4).as("est_jaccard"))
      .orderBy(col("est_jaccard").desc, col("a_id"), col("b_id"))
      .limit(limit)
  }

  /** The default c3 band layout: the 64-bit signature split into 6
    * blocks (11,11,11,11,10,10 bits) and one band per C(6,3) = 20
    * 3-block combination, band key = the combination's 3 block values
    * packed into fixed 11-bit slots (b_i << 22 | b_j << 11 | b_k —
    * injective since every block is ≤ 11 bits wide, ≤ 33-bit keys).
    * This is the block-permutation construction of Manku/Jain/Sarma,
    * "Detecting near-duplicates for web crawling", WWW'07 §3 — public
    * knowledge. Any pair within hamming ≤ 3 damages at most 3 blocks,
    * leaving ≥ 3 intact, so SOME combination of 3 intact blocks is
    * shared — the same pigeonhole radius as 4 contiguous 16-bit
    * bands, but with keys wide enough that expected occupancy N/2³¹
    * stays ~0 into billions of docs.
    */
  private[graft] val simhashBlocks: Array[(Int, Int)] =
    Array((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))
  private[graft] val simhashCombos: Array[Array[Int]] =
    simhashBlocks.indices.combinations(3).map(_.toArray).toArray

  /** Block b of a packed 64-bit simhash signature, as a Column. */
  private[graft] def simhashBlock(sig: Column, b: Int): Column = {
    val (start, width) = simhashBlocks(b)
    shiftright(sig, start).bitwiseAND(lit((1L << width) - 1))
  }

  /** Block b of a packed 64-bit simhash signature, on the driver —
    * the same arithmetic as [[simhashBlock]], for specs that verify
    * the shared-band pigeonhole against collected signatures.
    */
  private[graft] def simhashBlockOf(sig: Long, b: Int): Long = {
    val (start, width) = simhashBlocks(b)
    (sig >> start) & ((1L << width) - 1)
  }

  /** The (band, bkey) struct columns of the C(6,3) block-combination
    * banding. Shared by [[dedupSimhash]], f6–f8's phash banding and
    * ZipfDedupBench's occupancy reporter, so the measured cap pressure
    * is the shipped banding, not a re-derivation.
    */
  private[graft] def simhashBandCols(sig: Column): Seq[Column] =
    simhashCombos.indices.map { c =>
      val Array(i, j, k) = simhashCombos(c)
      val key = shiftleft(simhashBlock(sig, i), 22)
        .bitwiseOR(shiftleft(simhashBlock(sig, j), 11))
        .bitwiseOR(simhashBlock(sig, k))
      struct(lit(c).as("band"), key.as("bkey"))
    }

  /** c3's signature stage: idf-WEIGHTED 64-bit SimHash per doc —
    * per-token vote weight w(t) = bit_length(N div df(t)) =
    * 1 + ⌊log2(N/df)⌋ (exactly: for rational x ≥ 1, ⌊log2 x⌋ =
    * bit_length(⌊x⌋) − 1), each (doc, token) contributing
    * m = tf · w(t) votes per bit. This is the Manku WWW'07 §2
    * weighted-feature form, landed for the measured round-16 reason:
    * UNWEIGHTED votes on Zipf text are dominated by the handful of
    * stopwords every doc shares, which concentrates the signature bit
    * marginals and makes DISTINCT signatures collide on 31–33-bit
    * band keys at 20–40× the uniform rate (BASELINE.md round-16
    * Zipf ×1000 decomposition, `BENCH_dev_r16_c3_probe.json`:
    * 40.3M candidate pairs, 0.7% within the guaranteed hamming ≤ 3
    * radius, 18.7× decade cost). Integer idf-bucket weights make the
    * votes of a doc's RARE (discriminative) tokens dominate — a
    * stopword (df ≈ N) keeps w = 1 while a singleton token gets
    * w = bit_length(N) — pushing the marginals back toward 1/2 and
    * the accidental collision rate toward the uniform ~N/2³¹ ≈ 0.
    *
    * Shape (2 exchanges, both linear): explode tokens → repartition
    * by token (exchange 1, the raw occurrence stream) → per-(doc,
    * token) tf aggregate + df count window, both EXCHANGE-FREE on the
    * token partitioning (HashPartitioning(tok) satisfies both
    * ClusteredDistributions) → slim (doc_id, h, m) projection →
    * repartition by doc_id (exchange 2, ≤ one row per distinct
    * (doc, token)) → the 64-counter vote fold runs exchange-local
    * ([[graft.functions.SimhashVoteAgg]]; aggregating THROUGH an
    * exchange would ship a 64-long partial buffer per (doc ×
    * map-partition) — far wider than the rows). N rides in as a
    * broadcast 1-row frame (the corpusStats pattern).
    *
    * Every step is integer-exact relational algebra, so the DuckDB
    * oracle replays it term for term: same string_split tokens (empty
    * tokens KEPT — the kernel's split contract), same md5-derived
    * per-token hash, same bit_length-via-bin weight, same sign pack.
    */
  private[graft] def simhashWeightedSigsFrom(docsDf: DataFrame): DataFrame = {
    val live = docsDf.filter(col("text").isNotNull)
    val nDocs = live.agg(count(lit(1)).as("n"))
    val wDf = Window.partitionBy(col("tok"))
    live
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .repartition(col("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), TextFns.md5hash64(col("tok")).as("h"),
              (col("cnt") * length(bin(expr("n DIV df")))).as("m"))
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimhashVoteAgg.fn(col("h"), col("m")).as("sig"))
  }

  /** c3: idf-weighted 64-bit SimHash near-dup pairs via
    * block-combination banding (pigeonhole: any pair with hamming ≤ 3
    * shares at least one band), ranked by hamming distance, top-100.
    *
    * Band layout is the SCALE decision here, and round 16 moved it
    * TWICE, each time off a measurement:
    *  - 8 bands × 8 contiguous bits (rounds 7–15): 256 keys/band, so
    *    expected occupancy N/256 crosses the default cap 64 at
    *    N ≈ 16k docs — measured planted-twin recall 0.35 at 20k Zipf
    *    docs (the round-15 weak mark).
    *  - 4 bands × 16 contiguous bits (round 16 first cut, the f6/f7
    *    image layout): 65,536 keys/band defers the same collapse
    *    ~100×, but occupancy N·p(bucket) crosses the cap again at
    *    N ≈ 4M docs (5M/65536 ≈ 76 > 64 mean occupancy) AND the
    *    in-bucket pair work grows ~N²/65536 — measured 14.5×/decade
    *    at the ×100 Zipf slice. Deferring a collapse is not removing
    *    it.
    *  - C(6,3) block combinations (this form, the Manku/WWW'07
    *    construction — see [[simhashBlocks]]): 20 bands of ≤ 33-bit
    *    keys hold the SAME hamming ≤ 3 guarantee; under UNIFORM
    *    signatures occupancy is ~N/2³¹ ≈ 0 into billions of docs.
    *    Measured caveat (×1000 Zipf decade, BASELINE.md round 16):
    *    stopword-heavy text CONCENTRATES simhash bit marginals, so
    *    distinct signatures collide on block keys far above the uniform rate —
    *    40M candidates at 5M docs, only 0.7% within the guaranteed
    *    radius, 18.7× for that decade. The cost self-limits into the
    *    cap regime (sub-cap pair volume ≤ 32·rows, linear) and recall
    *    degrades only when ALL 20 of a pair's shared bands go
    *    over-cap (occupancy measured per decade by ZipfDedupBench's
    *    c3_occupancy artifact: 6e-5 of buckets at 5M docs, vs 23%
    *    for the retired 4×16 and 100% for 8×8 — the contiguous
    *    layouts were cheaper at ×1000 ONLY because they dropped those
    *    buckets wholesale). Round 17 landed the semantic remedy for
    *    the concentration itself: integer-idf-weighted votes (Manku §2
    *    uses weighted features; [[simhashWeightedSigsFrom]]).
    * The retired contiguous layouts' curves are recorded in
    * `BENCH_dev_r16_zipf*` and `BENCH_dev_r17_zipf.json`. Over-cap
    * buckets mean ≥ cap docs share 31+ signature bits — true
    * boilerplate mega-clusters, c1's territory by definition (the cap
    * bounds their quadratic, exactly as in c2).
    */
  def dedupSimhash(spark: SparkSession, dir: String,
                   bucketCap: Int = 64, limit: Int = 100): DataFrame = {
    // Signatures: idf-WEIGHTED votes (round 17 — was the unweighted
    // one-pass Simhash64 kernel; see [[simhashWeightedSigsFrom]] for
    // the measured collision-concentration reason and the 2-exchange
    // shape). The md5-derived per-token word hash is unchanged, so the
    // ENTIRE query — weights, signatures, banding, cap, hamming —
    // still replays in the DuckDB oracle; c3 is hash-checked, not
    // rows-only, since round 7. Null-text docs carry no signature
    // (the explode drops them — the kernel-era contract).
    // materialized once (c2's localCheckpoint rationale): three
    // consumers — band explode + both sides of the pair hamming lookup
    val sigs = simhashWeightedSigsFrom(docs(spark, dir))
      .localCheckpoint(false)
    val bandCols = simhashBandCols(col("sig"))
    // bucket-capped pair generation in the c4/c2 inverted-index shape
    // (round 11 — was window-count + band self-join): one groupBy with
    // O(cap) state per band key, pairs expanded in-array from the
    // sorted bucket doc set, hamming computed once per DISTINCT pair
    // (the window form computed it per shared band, pre-distinct).
    val buckets = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bkey"))
      .groupBy(col("band"), col("bkey"))
      .agg(graft.functions.CappedDistinctAgg.fn(bucketCap)(col("doc_id"))
             .as("ids"))
      .filter(size(col("ids")) <= bucketCap)
    val pairs = buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
                  y => struct(x.as("a_id"), y.as("b_id")))))).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sig_a")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sig_b")), "b_id")
      .select(col("a_id"), col("b_id"),
              TextFns.hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .orderBy(col("hamming"), col("a_id"), col("b_id"))
      .limit(limit)
  }

  /** c4's inverted shingle index: one ObjectHashAggregate over the raw
    * (doc, 3-gram) rows through [[graft.functions.CappedDistinctAgg]] —
    * the partial aggregate IS the dedup (so no separate `.distinct()`
    * shuffle) and the buffer is hard-capped at `dfCap + 1` ids per
    * shingle, so a stop-shingle in billions of docs costs O(cap) memory
    * and O(1) per row past the cap instead of a quadratic bucket.
    * Surviving rows: `ids` = the complete sorted distinct doc set of a
    * shingle with df ≤ dfCap — df = 1 singletons INCLUDED (they carry
    * no pair but do count in every doc's denominator size).
    * Package-private: PlanAuditSpec pins the ShingleWindows kernel in
    * this stage's plan.
    */
  private[graft] def ngramJaccardIndex(spark: SparkSession, dir: String,
                                       dfCap: Int): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
              explode(TextFns.shingles(col("toks"), 3)).as("shingle"))
      .groupBy(col("shingle"))
      .agg(graft.functions.CappedDistinctAgg.fn(dfCap)(col("doc_id")).as("ids"))
      .filter(size(col("ids")) <= dfCap)

  /** c4's EXHAUSTIVE arm: word-3-gram Jaccard via inverted shingle
    * index, every surviving posting list expanded to C(df,2) pairs
    * in-array. Unconditionally exact — [[ngramJaccard]]'s fallback and
    * the specs' reference for the banded arm. The
    * document-frequency cap drops super-common shingles (the classic
    * skew guard); Jaccard is computed over the capped shingle
    * vocabulary for both numerator and denominator, so the metric
    * stays internally consistent. Top-50 pairs.
    *
    * Shape (round 9 — was distinct → window-df → self-join, the ×10
    * slice's worst scaler at 6.8×): ONE capped-distinct aggregation
    * builds the index ([[ngramJaccardIndex]]); candidate pairs are then
    * expanded IN-ARRAY from each surviving posting list (≤ C(cap,2)
    * structs per shingle, codegen'd nested transform — no join at all),
    * and doc sizes fall out of the same index by exploding it back.
    * Both branches aggregate over the identical shuffle-by-shingle
    * exchange, which AQE stage reuse executes once — the corpus is
    * scanned/tokenized/shingled exactly once, and nothing in the plan
    * sorts the full shingle stream (the old window + SMJ sorted it
    * three times). Per-key state and per-key output are both bounded by
    * the cap at any corpus size.
    */
  private[graft] def ngramJaccardExhaustive(spark: SparkSession, dir: String,
                                            dfCap: Int = 100): DataFrame = {
    val index = ngramJaccardIndex(spark, dir, dfCap).select(col("ids"))
    val sizes = index
      .select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = index
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
                  y => struct(x.as("a_id"), y.as("b_id")))))).as("p"))
      .groupBy(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(50)
  }

  /** c4's BANDED candidate path (round 16 — the registered scale
    * form): MinHash-LSH candidate generation over the df-capped
    * shingle vocabulary, exact capped-Jaccard verification on the
    * candidates only — p3's verify-on-candidates shape pointed at
    * c4's metric. This is the fix for the round-15 measured weak
    * mark: the retired PPJoin prefix arm's candidate self-join volume
    * is Σ df² over the sub-cap shingle population, which on a
    * Heaps-widening Zipf vocabulary grew 19.1×/decade at ×1000 —
    * super-linear, a 100 TB-killer — while c2's banded candidates measured ~8×/decade
    * (linear in corpus size: signatures are per-doc, band buckets are
    * cap-bounded, pairs expand in-array from sub-cap buckets only).
    *
    * The metric is IDENTICAL to the exhaustive arm's: Jaccard over
    * each doc's df-capped shingle set (md5-derived 64-bit shingle
    * hashes, the c2/p3 2^-64-collision convention), 6dp-rounded,
    * (jaccard desc, a, b) tiebreak, top-50 — so on any corpus where
    * the candidate stage is complete the output is byte-identical.
    * Completeness here is the c2/p3 contract, not a deterministic
    * theorem: a τ=0.8 pair escapes all 32 bands with prob
    * (1−0.8⁴)³² ≈ 5e-8, and an OVER-CAP band bucket drops its
    * candidates wholesale. [[ngramJaccard]]'s auto guard therefore
    * requires (a) 50 verified rows all ≥ τ AND (b) ZERO over-cap
    * buckets (a driver-side scalar off the same aggregation) before
    * trusting this arm — measured occupancy at 500k Zipf docs: max
    * bucket 52, zero over cap, so at scale the guard passes and the
    * exhaustive fallback never runs; on corpora with planted
    * mega-clusters the guard fails closed.
    */
  private[graft] def ngramJaccardBandedParts(spark: SparkSession, dir: String,
                                             dfCap: Int = 100,
                                             bucketCap: Int = 64)
      : (DataFrame, DataFrame) = {
    // per-doc surviving-shingle hash sets off the ONE capped index
    // aggregation; three consumers — signature build + both verify
    // sides
    val sets = ngramJaccardIndex(spark, dir, dfCap)
      .select(TextFns.md5hash64(col("shingle")).as("h"),
              explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("h")).as("hs"))
      .localCheckpoint(false)
    val sigs = minhashSigs(sets)
    val bucketsAll = bandKeys(sigs)
      .groupBy(col("band"), col("bkey"))
      .agg(graft.functions.CappedDistinctAgg.fn(bucketCap)(col("doc_id"))
             .as("ids"))
      .localCheckpoint(false) // two consumers: pair expansion + over-cap guard
    val pairs = bucketsAll
      .filter(size(col("ids")) <= bucketCap)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
                  y => struct(x.as("a_id"), y.as("b_id")))))).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .distinct()
    val a = sets.select(col("doc_id").as("a_id"), col("hs").as("ha"))
    val b = sets.select(col("doc_id").as("b_id"), col("hs").as("hb"))
    val inter = size(array_intersect(col("ha"), col("hb")))
    val result = pairs.join(a, "a_id").join(b, "b_id")
      .select(col("a_id"), col("b_id"),
        round(inter.cast("double") /
              (size(col("ha")) + size(col("hb")) - inter), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(50)
    (result, bucketsAll.filter(size(col("ids")) > bucketCap))
  }

  private[graft] def ngramJaccardBanded(spark: SparkSession, dir: String,
                                        dfCap: Int = 100,
                                        bucketCap: Int = 64): DataFrame =
    ngramJaccardBandedParts(spark, dir, dfCap, bucketCap)._1

  /** c4: exact word-3-gram Jaccard top-50 — banded fast path
    * with an exactness guard and exhaustive fallback.
    *
    * The fast path (round 16: [[ngramJaccardBanded]] — was the PPJoin
    * prefix arm, whose candidate volume measured 19.1×/decade on Zipf
    * text at ×1000) generates candidates through c2's MinHash-LSH
    * banding and verifies each exactly, so its top-50 equals the
    * exhaustive top-50 precisely when (a) the true 50th-best pair
    * clears τ — LSH recall at J ≥ τ = 1 − (1−τ⁴)³² ≈ 1 − 5e-8 — and
    * (b) no band bucket exceeded the cap (an over-cap bucket drops
    * candidates wholesale). Both are checked at runtime on bounded
    * driver-side scalars (≤50 verified rows + one over-cap count off
    * the same aggregation): 50 rows AND min(jaccard) ≥ τ AND zero
    * over-cap buckets ⇒ return them (as a local relation — they are
    * already computed); otherwise — a corpus with fewer than 50
    * near-dup pairs at τ (the tiny spec corpora), or one with planted
    * mega-clusters — run the exhaustive in-array expansion
    * ([[ngramJaccardExhaustive]]), which is unconditionally exact.
    * The residual divergence risk when the guard passes is the 5e-8
    * LSH escape (p3's disclosed contract); the guard fails closed on
    * everything else.
    *
    * τ is the constant [[C4Tau]] = 0.8; a corpus whose top-50 does
    * not reach it takes the fallback, never a wrong answer.
    *
    * Cost routing (round 17 — the round-16 verdict's "guard refusal
    * shouldn't cost a full wasted banded pass"): the auto path used to
    * ALWAYS attempt the banded arm, so on a corpus without a duplicate
    * head (the ×1000 Zipf decade: no 50 pairs at τ) the guard refused
    * AFTER the whole banded pass and the exhaustive fallback then ran
    * too — 1432.8 s at ×1000 vs the banded arm's 800.6 s alone. A
    * cheap PRE-CHECK now predicts the guard's verdict before either
    * arm runs: one md5(text) fingerprint pass (narrow 8-byte shuffle,
    * linear at any corpus size) counts exact-duplicate pairs and the
    * largest duplicate group. ≥ 50 exact-dup pairs means ≥ 50 pairs at
    * J = 1 ≥ τ exist, so the banded arm is attempted; a duplicate
    * group wider than the bucket cap would make its band buckets
    * over-cap in ALL 32 bands (identical texts ⇒ identical signatures
    * ⇒ identical band keys), which the guard rejects — so that, and a
    * thin head, route straight to the exhaustive arm. The pre-check is
    * COST-ONLY routing: whenever the in-band guard passes, the two
    * arms' outputs are byte-identical (the guard's own exactness
    * conditions), so a mispredicted head costs a wasted pass, never a
    * wrong answer — the runtime guard stays the correctness gate.
    * A corpus can hold ≥ 50 near-dup pairs at τ with < 50 EXACT-dup
    * pairs (it then runs the unconditionally-exact exhaustive arm
    * where banded might have been cheaper — disclosed trade), but a
    * corpus with a real boilerplate head has exact duplicates in it,
    * which is the regime the banded arm exists for.
    */
  def ngramJaccard(spark: SparkSession, dir: String,
                   dfCap: Int = 100): DataFrame = {
    // duplicate-head pre-check (bounded scalars; per-group pair count
    // saturates at 50 before the multiply so the arithmetic can never
    // overflow on a mega-group)
    val head = docs(spark, dir)
      .filter(col("text").isNotNull)
      .groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(coalesce(sum(when(col("n") >= 11, lit(50L))
             .otherwise((col("n") * (col("n") - 1) / 2).cast("long"))),
             lit(0L)).as("pairs"),
           coalesce(max(col("n")), lit(0L)).as("maxg"))
      .collect()(0)
    val tryBanded = head.getLong(0) >= 50 && head.getLong(1) <= 64
    if (!tryBanded) ngramJaccardExhaustive(spark, dir, dfCap)
    else {
      val (fast, overCap) = ngramJaccardBandedParts(spark, dir, dfCap)
      val rows = fast.collect()
      val complete = rows.length == 50 &&
        rows.forall(_.getAs[Double]("jaccard") >= C4Tau) &&
        overCap.isEmpty
      if (complete)
        spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(rows: _*)),
          fast.schema)
      else ngramJaccardExhaustive(spark, dir, dfCap)
    }
  }

  /** c4's exactness-guard threshold: the banded arm's top-50 is
    * trusted only when every row clears it.
    */
  private[graft] val C4Tau = 0.8

  /** c6: duplicate-CLUSTER assignment — connected components over the
    * chunk-fingerprint near-dup graph. Pair operators (c2–c5) stop at
    * candidate pairs, but a pipeline keeps ONE survivor per transitive
    * duplicate cluster: if A~B and B~C, all three are one cluster even
    * when A and C share nothing directly.
    *
    * Edges: docs sharing any 8-token chunk fingerprint (md5 of each
    * 8-token slice of the token stream — the CDC-style "shared block ⇒
    * near-dup" gate), with a document-frequency cap dropping
    * boilerplate chunks (the stop-chunk quadratic-bucket guard, same
    * as c4's). Components: GraphOps.connectedComponents — hash-min
    * label propagation with pointer jumping, O(log diameter) rounds
    * (dedup clusters are near-cliques, so typically 2–3), union-find-
    * verified on random graphs in GraphOpsSpec.
    *
    * Output: every doc (singletons included) with its cluster id (min
    * doc_id in the component) and cluster size. Oracle: DuckDB
    * recursive-CTE reachability closure over the identical edge set.
    */
  def dedupClusters(spark: SparkSession, dir: String,
                    chunk: Int = 8, dfCap: Int = 100,
                    maxIter: Int = 50): DataFrame = {
    val base = docs(spark, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
    val chunks = base
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")), lit(chunk)),
          s => md5(concat_ws(" ", slice(col("toks"), s, lit(chunk))))))
          .as("cfp"))
      .distinct()
    val capped = chunks
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("cfp"))))
      .filter(col("df") <= dfCap)
    val pairs = capped.as("x")
      .join(capped.as("y"),
        col("x.cfp") === col("y.cfp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val labels = GraphOps.connectedComponents(
      base.select(col("doc_id").as("id")), pairs, maxIter)
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "component")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
              col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** p3 (surfaced via PipelineOps): the end-to-end fuzzy-dedup
    * composition every production near-dedup runs —
    *
    *   MinHash-LSH candidate pairs  →  exact-Jaccard verification
    *   →  connected components      →  per-cluster representative.
    *
    * c2 stops at ranked candidate pairs; this closes the loop: verify
    * each candidate with the TRUE 3-gram-set Jaccard (array_intersect
    * of the two BIGINT shingle sets, computed only on the LSH
    * candidates — never all pairs), keep pairs ≥ tau as edges, label
    * transitive clusters with GraphOps.connectedComponents, and mark
    * the min-id member as the cluster representative.
    *
    * 100 TB shape: the only pairwise work is LSH-bucketed (banded,
    * bucket-capped, AQE skew-split); verification joins the pair list
    * (≪ corpus) back to the shingle-set table twice on doc_id; CC is
    * O(log diameter) pointer-jumping rounds. Nothing materializes an
    * all-pairs product.
    *
    * Recall: a tau=0.8 pair escapes all 32 bands with probability
    * (1-0.8⁴)³² ≈ 5e-8 — the planted-duplicate spec checks recall = 1
    * on the test corpus, which is what makes the exact recursive-CTE
    * oracle reproducible (see SparkEntry.oracleSql p3 note).
    *
    * Output: every doc (singletons included) with cluster_id (min
    * member id), cluster_size, is_representative.
    */
  def fuzzyDedup(spark: SparkSession, dir: String,
                 tau: Double = 0.8, bucketCap: Int = 64): DataFrame = {
    // four consumers (signature explode, both pair sides, CC vertex
    // set) → materialize once; see dedupMinhash's localCheckpoint note.
    val sets = shingleSets(spark, dir).localCheckpoint(false)
    val (_, pairs) = minhashCandidates(sets, bucketCap)
    val a = sets.select(col("doc_id").as("a_id"), col("hs").as("ha"))
    val b = sets.select(col("doc_id").as("b_id"), col("hs").as("hb"))
    val inter = size(array_intersect(col("ha"), col("hb"))).cast("double")
    val edges = pairs.join(a, "a_id").join(b, "b_id")
      .select(col("a_id").as("a"), col("b_id").as("b"),
              (inter / (size(col("ha")) + size(col("hb")) - inter)).as("jacc"))
      .filter(col("jacc") >= tau)
      .select(col("a"), col("b"))
    // vertex set from the checkpointed shingle table (one row per doc,
    // empty-shingle docs included) — not a third scan of the corpus
    val labels = GraphOps.connectedComponents(
      sets.select(col("doc_id").as("id")), edges)
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "component")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
              col("cluster_size"),
              (col("id") === col("component")).as("is_representative"))
      .orderBy(col("doc_id"))
  }

  /** c7: content-defined-chunking (CDC) near-dup pairs — the gear/FastCDC
    * idea on token streams: chunk boundaries are cut where a rolling
    * window hash over the last `window` tokens hits 0 mod `divisor`
    * (expected chunk length ≈ divisor tokens), then docs sharing any
    * chunk fingerprint pair up, ranked by chunk overlap.
    *
    * Why this exists next to c6: c6's fixed 8-token stride anchors
    * chunks at absolute positions, so ONE inserted token near the head
    * shifts every later chunk and the two docs share nothing. CDC
    * boundaries depend only on local content — after an edit the very
    * next boundary resynchronizes and every following chunk matches
    * again (spec-proven with a prepended-token twin).
    *
    * Scale shape: per-doc work is one linear pass (token array and
    * value array each materialized ONCE as their own projection —
    * round 5's O(tokens²) lesson; the rolling window hash reads 4
    * values per position via element_at); the pair stage is the same
    * inverted-index join as c4/c6 with the df cap as the stop-chunk
    * quadratic guard. Nothing all-pairs.
    */
  /** The per-doc CDC stage as column expressions over a projected
    * (toks, vals) pair — exposed for the ScalaCheck twin in
    * KernelPropertySpec. `cuts`: 0, every rolling-window boundary, n
    * (array_distinct folds the n==last-boundary duplicate; the concat
    * is already ascending). Spark's sequence(a, b) DESCENDS when
    * a > b, so a below-window doc short-circuits to "no boundaries"
    * (one whole-doc chunk) instead of a descending index walk.
    */
  private[graft] def cdcCuts(window: Int, divisor: Int): Column = {
    require(window == 4, "rolling hash is unrolled for window=4")
    val B = 1000003L
    val M = 2147483647L
    def at(i: Column, off: Int) = element_at(col("vals"), (i - off).cast("int"))
    def roll(i: Column): Column =
      pmod(pmod(pmod(at(i, 3) * B + at(i, 2), lit(M)) * B + at(i, 1), lit(M)) * B
             + at(i, 0), lit(M))
    val bnds = when(size(col("vals")) >= window,
      filter(sequence(lit(window.toLong), size(col("vals")).cast("long")),
             i => pmod(roll(i), lit(divisor.toLong)) === 0))
      .otherwise(array().cast("array<bigint>"))
    array_distinct(concat(
      array(lit(0L)), bnds, array(size(col("vals")).cast("long"))))
  }

  /** md5 fingerprints of the token slices between `cuts`. */
  private[graft] def cdcFps: Column =
    transform(sequence(lit(1), size(col("cuts")) - 1), j =>
      md5(concat_ws(" ", slice(col("toks"),
        (element_at(col("cuts"), j) + 1).cast("int"),
        (element_at(col("cuts"), j + 1) - element_at(col("cuts"), j))
          .cast("int")))))

  /** Token values feeding the rolling hash (e5's value function). */
  private[graft] def cdcVals(toks: Column): Column =
    transform(toks, t => (ascii(t) * 256 + length(t)).cast("long"))

  def cdcChunks(spark: SparkSession, dir: String,
                window: Int = 4, divisor: Int = 8,
                dfCap: Int = 100, limit: Int = 50): DataFrame = {
    val base = docs(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), col("toks"), cdcVals(col("toks")).as("vals"))
    val withCuts = base.select(col("doc_id"), col("toks"),
      cdcCuts(window, divisor).as("cuts"))
    val cfps = withCuts.select(col("doc_id"), explode(cdcFps).as("cfp"))
      .distinct()
    val capped = cfps
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("cfp"))))
      .filter(col("df") <= dfCap)
      .select(col("doc_id"), col("cfp"))
    // per-doc chunk counts over the SAME capped vocabulary as the
    // intersection, so overlap = shared / min(na, nb) stays internally
    // consistent (c4's convention)
    val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    capped.as("x")
      .join(capped.as("y"),
        col("x.cfp") === col("y.cfp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared_chunks"))
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("a_chunks")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("b_chunks")), "b_id")
      .select(col("a_id"), col("b_id"), col("shared_chunks"),
              col("a_chunks"), col("b_chunks"),
              round(col("shared_chunks").cast("double") /
                    least(col("a_chunks"), col("b_chunks")), 6).as("overlap"))
      .orderBy(col("overlap").desc, col("a_id"), col("b_id"))
      .limit(limit)
  }

  /** c8: exact-substring duplicate SPANS per document — the
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better", ExactSubstr) cut, bounded to k-token windows:
    * any k-token window whose text occurs more than once ANYWHERE in
    * the corpus (cross-doc or within-doc) is duplicated; per doc,
    * overlapping/abutting duplicated windows merge into maximal spans
    * (gap ≤ k between window starts ⇒ same span, i.e. coverage
    * overlaps or touches). Complements e9 (paragraph-level
    * boilerplate) and c4 (whole-doc similarity): this finds the
    * REGIONS to cut, not the docs to drop.
    *
    * 100 TB shape: windows shuffle once on an 8-byte md5-derived hash
    * (partial-aggregable count — no pair join, so no df-cap needed:
    * a boilerplate window in a million docs costs one counter, not a
    * quadratic bucket); the span merge is a per-doc window function
    * over only the DUPLICATED positions. The suffix array the paper
    * builds single-node becomes this one groupBy — same cut, shuffle-
    * native. Oracle: DuckDB groups on substr(md5(gram), 1, 16) — the
    * same equivalence classes as Md5Hash64's first-8-bytes long, no
    * hex parse needed since the hash never reaches the output.
    *
    * Output: every doc with its span count, duplicated-token total and
    * duplicated fraction (0 for clean docs).
    */
  def dupSpans(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val toks = docs(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
    val wins = toks
      .select(col("doc_id"),
              posexplode(TextFns.shingles(col("toks"), k)).as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
              TextFns.md5hash64(col("gram")).as("h"))
    val dupH = wins.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .select(col("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = wins.join(dupH, "h")
      // lag is null on the first duplicated window of a doc: null > k
      // is null, `when` falls through to 0 — first window opens island
      // 0 in both engines
      .withColumn("ni",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > k, 1).otherwise(0))
      .withColumn("island",
        sum(col("ni")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perDoc = islands
      .groupBy(col("doc_id"), col("island"))
      // windows at [min..max] cover tokens min .. max+k-1
      .agg((max(col("pos")) - min(col("pos")) + k).cast("long").as("span_tokens"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_tokens")).as("dup_tokens"))
    toks.select(col("doc_id"), size(col("toks")).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_spans"), lit(0L)).as("n_spans"),
              coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
              round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
                    col("n_tokens"), 6).as("dup_token_frac"))
      .orderBy(col("doc_id"))
  }

  /** c5: embedding-cosine near-dup pairs — candidates from 12-plane
    * hyperplane-LSH band buckets (3 bands × 4 bits), exact cosine on
    * candidates only, top-50. The LSH gate is the 100 TB path: buckets
    * shuffle on the band key; cosine runs on the O(bucket²) candidate
    * set, never on N².
    */
  def dedupEmbedding(spark: SparkSession, dir: String,
                     bucketCap: Int = 1024, limit: Int = 50): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              VectorFns.norm(col("embedding")).as("nrm"),
              VectorFns.lshSig(col("embedding"), 12).as("sig"))
    val bandCols = (0 until 3).map { b =>
      struct(lit(b).as("band"), VectorFns.lshBand(col("sig"), b, 4).as("bkey"))
    }
    // bucket-capped pair generation in the c4/c2 inverted-index shape
    // (round 11 — was window-count + band self-join carrying the full
    // embedding through the window sort and the join): buckets hold
    // only vec_ids with O(cap) state per band key, pairs expand
    // in-array, and the 256-float embeddings are joined back ONCE per
    // DISTINCT pair — the cosine runs once per pair instead of once
    // per shared band.
    val buckets = emb
      .select(col("vec_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("vec_id"), col("bk.band"), col("bk.bkey"))
      .groupBy(col("band"), col("bkey"))
      .agg(graft.functions.CappedDistinctAgg.fn(bucketCap)(col("vec_id"))
             .as("ids"))
      .filter(size(col("ids")) <= bucketCap)
    val pairs = buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
                  y => struct(x.as("a_id"), y.as("b_id")))))).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .distinct()
    pairs
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
                       col("nrm").as("na")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
                       col("nrm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
              round(VectorFns.dot(col("ea"), col("eb")) /
                    (col("na") * col("nb")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("a_id"), col("b_id"))
      .limit(limit)
  }

  /** Standing-corpus MinHash index parts for p11's landed form
    * (Warehouse.buildMinhash persists them): the bucket-capped band
    * keys of the EXISTING docs (doc_id % `newMod` != 0) and their
    * signatures. Cap on the index side only — one hot standing bucket
    * cannot blow up any future probe, and the cap is a build-time
    * decision like a real index's posting-list limit.
    */
  private[graft] def minhashIndexParts(spark: SparkSession, dir: String,
                                       bucketCap: Int = 64,
                                       newMod: Int = IncrementalNewMod): (DataFrame, DataFrame) = {
    val sigs = minhashSigs(shingleSets(spark, dir))
      .filter(pmod(col("doc_id"), lit(newMod)) =!= 0)
    // cap via the c4/c2 capped-distinct aggregation (round 11 — was a
    // window count, which sorts every band partition and buffers a hot
    // bucket whole), exploded back to the persisted (doc_id, band,
    // bkey) row layout so the landed index schema is unchanged.
    val capped = bandKeys(sigs)
      .groupBy(col("band"), col("bkey"))
      .agg(graft.functions.CappedDistinctAgg.fn(bucketCap)(col("doc_id"))
             .as("ids"))
      .filter(size(col("ids")) <= bucketCap)
      .select(explode(col("ids")).as("doc_id"), col("band"), col("bkey"))
    (capped, sigs)
  }

  /** New-batch probe side shared by p11's one-shot and landed forms:
    * signatures + band keys of just the arriving docs. Signatures are
    * per-doc, so computing them for the batch ALONE is exactly what
    * the union-corpus batch pipeline would compute for those docs —
    * the property the incremental≡batch spec pins down.
    */
  private def minhashNewBatch(spark: SparkSession, dir: String,
                              newMod: Int): (DataFrame, DataFrame) = {
    val newSigs = minhashSigs(
      shingleSets(spark, dir).filter(pmod(col("doc_id"), lit(newMod)) === 0))
    (newSigs, bandKeys(newSigs))
  }

  /** Probe + label stage shared by the one-shot and landed p11 forms.
    * Candidates = new docs sharing any band bucket with a standing
    * doc; verification = signature-agreement Jaccard estimate ≥ `tau`;
    * label = best standing partner (max est, then min id — ties
    * deterministic). Every arriving doc appears in the output (dup_of
    * NULL = novel content), newest-batch ordering.
    */
  private def incrementalLabels(newDocs: DataFrame, newSigs: DataFrame,
                                newBands: DataFrame, exBands: DataFrame,
                                exSigs: DataFrame, tau: Double,
                                probeHint: DataFrame => DataFrame = identity)
      : DataFrame = {
    val cands = probeHint(newBands.as("n")
      .join(exBands.as("x"),
        col("n.band") === col("x.band") && col("n.bkey") === col("x.bkey"))
      .select(col("n.doc_id").as("doc_id"), col("x.doc_id").as("ex_id"))
      .distinct())
    val est = cands
      .join(newSigs.select(col("doc_id"), col("sig").as("sig_n")), "doc_id")
      .join(exSigs.select(col("doc_id").as("ex_id"), col("sig").as("sig_x")),
            "ex_id")
      .select(col("doc_id"), col("ex_id"),
        round(size(filter(zip_with(col("sig_n"), col("sig_x"),
                                   (p, q) => p === q), b => b))
                .cast("double") / 128.0, 4).as("est"))
      .filter(col("est") >= tau)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("est").desc, col("ex_id"))
    val best = est.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("ex_id").as("dup_of"),
              col("est").as("est_jaccard"))
    newDocs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .orderBy(col("doc_id"))
  }

  /** p11: INCREMENTAL fuzzy dedup — the cross-run shape a production
    * crawler needs at 100 TB: the standing corpus' LSH band keys are a
    * persisted INDEX (Warehouse.buildMinhash is the landed form; this
    * one-shot recomputes it so the whole query replays in DuckDB), and
    * an arriving batch (doc_id % `newMod` == 0 here) is labeled
    * against it WITHOUT re-sharding the corpus: the batch computes its
    * own signatures + band keys (per-doc computation — batch-local ≡
    * union-corpus, the exactness guarantee DedupOpsSpec pins), probes
    * the index buckets, verifies candidates by signature-estimated
    * Jaccard ≥ `tau`, and takes the best standing partner (max est,
    * min id). At scale the probe is a broadcast of the small arriving
    * batch against the bucket-capped index — zero shuffle of standing
    * data (WarehouseSpec asserts it on the landed form).
    */
  def incrementalMinhash(spark: SparkSession, dir: String,
                         bucketCap: Int = 64, tau: Double = 0.5,
                         newMod: Int = IncrementalNewMod): DataFrame = {
    val (exBands, exSigs) = minhashIndexParts(spark, dir, bucketCap, newMod)
    val (newSigs, newBands) = minhashNewBatch(spark, dir, newMod)
    val newDocs = docs(spark, dir)
      .filter(col("text").isNotNull && pmod(col("doc_id"), lit(newMod)) === 0)
    incrementalLabels(newDocs, newSigs, newBands, exBands, exSigs, tau)
  }

  /** p11 over a landed standing index (graft_minhash_bands/_sigs,
    * Warehouse.buildMinhash): only the arriving batch is computed
    * fresh; the index is read in place and joined via a BROADCAST of
    * the batch side, so no standing-corpus row ever moves through an
    * exchange — the "probe without re-sharding" contract.
    */
  private[graft] def incrementalMinhashIndexed(spark: SparkSession,
                                               dir: String, tau: Double = 0.5,
                                               newMod: Int = IncrementalNewMod): DataFrame =
    minhashProbeFrom(
      docs(spark, dir).filter(pmod(col("doc_id"), lit(newMod)) === 0), dir, tau)

  /** The landed-index probe over an arbitrary (doc_id, text) batch
    * frame — shared by the dir-slice form above and the streaming
    * gate (CorpusStream.minhashGate hands each micro-batch here).
    * Signatures are per-doc, so a batch's verdicts are identical
    * whether it arrives whole or split across micro-batches.
    */
  private[graft] def minhashProbeFrom(batchDocs: DataFrame, dir: String,
                                      tau: Double = 0.5): DataFrame = {
    import graft.sources.Warehouse
    import graft.sources.Warehouse.tbl
    val spark = batchDocs.sparkSession
    val live = batchDocs.filter(col("text").isNotNull)
    val newSigs = minhashSigs(shingleSetsFrom(live))
    val newBands = bandKeys(newSigs)
    // deletion layer: candidacy flows through the band index, so the
    // anti-join there alone guarantees a tombstoned standing doc can
    // never surface as a dup_of partner (the sigs side only verifies
    // pairs candidacy produced)
    incrementalLabels(live, broadcast(newSigs), broadcast(newBands),
                      Warehouse.exceptTombstoned(
                        spark.table(tbl(dir, "graft_minhash_bands")),
                        dir, "doc_id"),
                      spark.table(tbl(dir, "graft_minhash_sigs")), tau,
                      probeHint = broadcast)
  }

  /** c10: ExactSubstr CUT (Lee et al. 2021 "Deduplicating Training
    * Data Makes Language Models Better", the dedup step c8 only
    * reports): every duplicated k-token window occurrence EXCEPT the
    * corpus-wide first (min (doc_id, pos)) is cut from its document;
    * a token goes when any cut window covers it; the survivors rejoin
    * in order as the cleaned text. Exact copies collapse to one full
    * text plus empty husks — the downstream filter drops
    * `n_removed = n_tokens` rows (or thresholds on the removed
    * fraction); husks stay in the output so the verdict is total.
    *
    * Scale shape (round 11): the occurrence ranking is ONE shuffle on
    * the 8-byte window hash, sorted by the partition key alone
    * (count + min(struct) over the unbounded frame replace the
    * round-10 row_number, whose orderBy extended every partition sort
    * to (h, doc_id, pos)); after it, the only shuffled rows are the
    * duplicate-occurrence window STARTS grouped per doc — the
    * round-10 form instead exploded cut positions ×k, re-exploded the
    * whole corpus to token level, and shuffled that token stream
    * TWICE (anti-join on position, then a collect_list/array_sort
    * rebuild carrying the full text payload). The rebuild is now a
    * per-doc O(n) chain of element-wise array ops: starts whose
    * predecessor is ≤ k away merge into one covered range
    * (shifted-index compare), and the cleaned text is the token
    * slices in the gaps between ranges. No pair join anywhere — same
    * invariant as c8.
    */
  def dedupCut(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val toks = docs(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
    val wins = toks
      .select(col("doc_id"),
              posexplode(TextFns.shingles(col("toks"), k)).as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
              TextFns.md5hash64(col("gram")).as("h"))
    val byH = Window.partitionBy(col("h"))
    // one select so both window expressions land in ONE WindowExec
    // pass over the h-sorted stream (chained withColumn leaves a
    // Project between two Window nodes CollapseWindow can't merge)
    val occ = wins.select(col("doc_id"), col("pos"),
      count(lit(1)).over(byH).as("cnt"),
      min(struct(col("doc_id"), col("pos"))).over(byH).as("fst"))
    // every duplicated occurrence except the corpus-wide first is cut;
    // only the per-doc start positions travel to the rebuild
    val cutStarts = occ
      .filter(col("cnt") > 1 &&
              struct(col("doc_id"), col("pos")) =!= col("fst"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("starts"))
    // in-array range merge + gap slicing (all O(doc length); the
    // `when` guards keep element_at indices in [1, size] — CaseWhen
    // branches evaluate lazily)
    val s = col("starts")
    val jIdx = sequence(lit(1), size(s)) // size >= 1 whenever s is non-null
    val rangeStarts = transform(
      filter(jIdx, j => when(j === 1, lit(true))
        .otherwise(element_at(s, j) > element_at(s, j - 1) + k)),
      j => element_at(s, j))
    val rangeEnds = transform(
      filter(jIdx, j => when(j === size(s), lit(true))
        .otherwise(element_at(s, j + 1) > element_at(s, j) + k)),
      j => element_at(s, j) + k - 1)
    val gapStarts = concat(array(lit(1)), transform(rangeEnds, e => e + 1))
    val gapEnds = concat(transform(rangeStarts, st => st - 1),
                         array(size(col("toks"))))
    // zero-length slice returns [] (gap of width 0 between abutting
    // ranges, or a fully-cut doc)
    val kept = flatten(zip_with(gapStarts, gapEnds,
      (gs, ge) => slice(col("toks"), gs, greatest(ge - gs + 1, lit(0)))))
    toks.join(cutStarts, Seq("doc_id"), "left")
      .select(col("doc_id"),
              size(col("toks")).cast("long").as("n_tokens"),
              when(s.isNull, lit(0L))
                .otherwise((size(col("toks")) - size(kept)).cast("long"))
                .as("n_removed"),
              when(s.isNull, concat_ws(" ", col("toks")))
                .otherwise(concat_ws(" ", kept)).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** c9: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * dedup by clustering embeddings and pruning within-cluster
    * near-duplicates, the form that scales where a global pair pass
    * (c5) cannot: candidate pairs exist only inside a cluster, so the
    * corpus-level pair count is Σ|cluster|² ≈ N²/nlist. `nlist` is the
    * scale knob, but NOT linearly: routing is an exhaustive
    * O(N·nlist) broadcast score, so nlist ∝ N makes routing the
    * quadratic stage (measured: nlist×10 at data×10 ran 18× vs 2.5×
    * for fixed nlist — BENCH_r09_sf1_c9c10.json). Grow nlist ∝ √N:
    * both stages are then O(N^1.5); past that, route hierarchically
    * (a coarse quantizer over the centroids, IVF-style) to push the
    * routing below N·√N. The paper's k=50k at 600M is ≈ 2√N·(√N/30) —
    * the same √-regime.
    *
    * Deterministic formulation (every arm DuckDB-replayable):
    * centroids are the d5 md5-ordered sample (fixed cardinality,
    * collected nowhere — broadcast as a plan, no Lloyd rounds in the
    * registered form); each vector routes to its single max-cosine
    * centroid; cluster members rank by (cent_cos ASC, vec_id) — most
    * atypical first, the paper's keep-low-centroid-similarity rule;
    * a member is removed iff some EARLIER-ranked member has cosine
    * ≥ tau with it (pure pairwise against all earlier members,
    * regardless of their own removal — the paper's matrix-max form,
    * no transitive closure). `clusterCap` mirrors c5's bucketCap:
    * members ranked past the cap in a pathological hot cluster are
    * kept unchecked (conservative — no false removals) instead of
    * feeding a quadratic join.
    *
    * Output: every vector with its cluster, centroid cosine and
    * kept/removed verdict — the downstream filter is `WHERE kept`.
    */
  def semDedup(spark: SparkSession, dir: String, nlist: Int = SemNlist,
               tau: Double = SemTau,
               clusterCap: Int = SemClusterCap): DataFrame =
    semDedupFrom(Tables.embeddings(spark, dir), nlist, tau, clusterCap)

  /** c9's registered defaults as named constants — SparkEntry
    * interpolates THESE into the DuckDB oracle SQL (same no-drift
    * pattern as c2/c5), so changing a default here moves the oracle
    * with it instead of silently diverging.
    */
  val SemNlist: Int = 64
  val SemTau: Double = 0.45
  val SemClusterCap: Int = 1024
  /** c11's registered hierarchical-routing defaults (same no-drift
    * interpolation contract as the c9 constants above).
    */
  val SemNCoarse: Int = math.ceil(math.sqrt(SemNlist.toDouble)).toInt
  val SemCoarseProbes: Int = 4

  private[graft] def semDedupFrom(raw: DataFrame, nlist: Int,
                                  tau: Double, clusterCap: Int): DataFrame = {
    val emb = raw
      .select(col("vec_id"), col("embedding"),
              VectorFns.norm(col("embedding")).as("nrm"))
    val cents = emb
      .select(col("vec_id"), col("embedding"), col("nrm"),
              md5(col("vec_id").cast("string")).as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(nlist)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"),
              col("nrm").as("cnrm"))
    // slim-window discipline (the nearestCells rationale): rank cells
    // on (vec_id, cent_id, csim) rows, then re-join the vector — the
    // array riding the |emb|×nlist window shuffle serialized ~40 GB
    // at the ×1000 slice
    val scored = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
              (VectorFns.dot(col("embedding"), col("ce")) /
               (col("nrm") * col("cnrm"))).as("csim"))
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cent_id"))
    val assigned = scored
      .withColumn("crnk", row_number().over(byVec))
      .filter(col("crnk") === 1)
      .select(col("vec_id"), col("cent_id"), col("csim").as("cent_cos"))
      .join(emb.select(col("vec_id"), col("embedding"), col("nrm")),
            "vec_id")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"),
              col("cent_cos"))
    semDedupTail(assigned, tau, clusterCap)
  }

  /** The SemDeDup keep/remove tail over an assignment frame
    * `(vec_id, embedding, nrm, cent_id, cent_cos)` — shared by the
    * exhaustive-routing registered form and the hierarchical arm.
    *
    * The keep-rank ordering (cent_cos ASC, vec_id — most atypical
    * first) is materialized as a comparable struct key, NOT a
    * per-cluster `row_number`: pair precedence compares the structs
    * directly, and the `clusterCap` cut selects members at-or-below
    * the cap-th smallest key, found per over-cap cluster with the
    * bounded TopK aggregator (O(cap) state, map-side combined). A
    * pathological mega-cluster therefore never pays a full member
    * sort before the cap trims it — its cost is one heap-bounded
    * aggregation — and clusters at or under the cap (the normal case)
    * skip the threshold machinery entirely: the thresholds frame only
    * has rows for over-cap clusters (≤ nlist rows either way, so it
    * broadcasts).
    */
  private def semDedupTail(assigned: DataFrame, tau: Double,
                           clusterCap: Int): DataFrame = {
    val keyed = assigned.withColumn(
      "okey", struct(col("cent_cos").as("c"), col("vec_id").as("v")))
    val sizes = keyed.groupBy(col("cent_id"))
      .agg(count(lit(1)).as("csz"))
    // bottom-k by (cent_cos, vec_id) == top-k on the negated cosine
    // (TopKAggregator's tie-break is id ASC, matching the rank order);
    // the cap-th element of the bounded heap is the admission threshold
    val capAgg = graft.functions.TopKAgg.topK(clusterCap)
    val thresholds = keyed
      .join(broadcast(sizes.filter(col("csz") > clusterCap)
                           .select(col("cent_id"))), "cent_id")
      .groupBy(col("cent_id"))
      .agg(capAgg(col("vec_id"), -col("cent_cos")).as("bot"))
      .select(col("cent_id"),
              element_at(col("bot"), clusterCap).as("th"))
      .select(col("cent_id"),
              struct((-col("th.cos")).as("c"),
                     col("th.cand_id").as("v")).as("thkey"))
    val within = keyed
      .join(broadcast(thresholds), Seq("cent_id"), "left")
      .filter(col("thkey").isNull || col("okey") <= col("thkey"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"),
              col("okey"))
    val removed = within.as("x")
      .join(within.as("y"),
        col("x.cent_id") === col("y.cent_id") &&
          col("x.okey") < col("y.okey"))
      .filter(VectorFns.dot(col("x.embedding"), col("y.embedding")) /
              (col("x.nrm") * col("y.nrm")) >= tau)
      .select(col("y.vec_id").as("vec_id")).distinct()
      .withColumn("rm", lit(true))
    assigned.join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
              round(col("cent_cos"), 6).as("cent_cos"),
              col("rm").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** c9 hierarchical-routing arm — the coarse-quantizer step the
    * exhaustive form's scaladoc names: routing a vector against every
    * centroid is O(N·nlist), which caps sustainable nlist growth at
    * √N (measured, BENCH_r09_sf1_c9c9sqrt family). Here a vector first
    * scores the ⌈√nlist⌉ COARSE centroids (the same md5-rank sample's
    * prefix), keeps its `coarseProbes` best coarse cells, and scores
    * only the fine centroids whose nearest coarse centroid lies in
    * those cells — O(N·√nlist·(1 + coarseProbes)) total, unlocking
    * nlist beyond √N growth. Assignment is approximate (a fine
    * centroid outside every probed coarse cell is invisible to that
    * vector — same trade as IVF probe recall); the dedup tail is
    * unchanged. Registered as `c11_semdedup_hier` (round 11): the
    * whole routing is deterministic relational algebra, so its DuckDB
    * oracle replays the coarse sample, home cells, probe ranks and
    * fine argmax exactly (constants interpolated from [[SemNCoarse]]/
    * [[SemCoarseProbes]]); the agreement-fraction contract vs
    * exhaustive routing stays in DedupOpsSpec, the scale curve in
    * ScaleBench.
    */
  def semDedupHier(spark: SparkSession, dir: String,
                   nlist: Int = SemNlist, tau: Double = SemTau,
                   clusterCap: Int = SemClusterCap,
                   coarseProbes: Int = SemCoarseProbes): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
              VectorFns.norm(col("embedding")).as("nrm"))
    val cents = emb
      .select(col("vec_id"), col("embedding"), col("nrm"),
              md5(col("vec_id").cast("string")).as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(nlist)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"),
              col("nrm").as("cnrm"))
    val nCoarse = math.ceil(math.sqrt(nlist.toDouble)).toInt
    // coarse level = the first ⌈√nlist⌉ of the SAME md5-rank sample
    // (cents is already in that order pre-broadcast, but limit() on a
    // broadcast frame re-sorts nothing — re-rank deterministically)
    val coarse = cents
      .select(col("cent_id").as("co_id"), col("ce").as("coe"),
              col("cnrm").as("conrm"),
              md5(col("cent_id").cast("string")).as("hk"))
      .orderBy(col("hk"), col("co_id")).limit(nCoarse)
      .drop("hk")
    // each fine centroid's home coarse cell (nlist×√nlist — trivial)
    val wFine = Window.partitionBy(col("cent_id"))
      .orderBy(col("fsim").desc, col("co_id"))
    val fineHome = cents.crossJoin(broadcast(coarse))
      .select(col("cent_id"), col("ce"), col("cnrm"), col("co_id"),
              (VectorFns.dot(col("ce"), col("coe")) /
               (col("cnrm") * col("conrm"))).as("fsim"))
      .withColumn("fr", row_number().over(wFine))
      .filter(col("fr") === 1)
      .select(col("co_id"), col("cent_id"), col("ce"), col("cnrm"))
    // vector → top coarseProbes coarse cells → fine candidates therein.
    // Both routing windows run SLIM (the nearestCells rationale): the
    // embedding scores inside a broadcast-join stage, is projected out
    // before each window shuffle, and re-joins by vec_id afterwards —
    // arrays never ride a |emb|×cells shuffle.
    val wCo = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosim").desc, col("co_id"))
    val probed = emb.crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("co_id"),
              (VectorFns.dot(col("embedding"), col("coe")) /
               (col("nrm") * col("conrm"))).as("cosim"))
      .withColumn("cr", row_number().over(wCo))
      .filter(col("cr") <= coarseProbes)
      .select(col("vec_id"), col("co_id"))
      .join(emb.select(col("vec_id"), col("embedding"), col("nrm")),
            "vec_id")
    val wVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cent_id"))
    val assigned = probed.join(broadcast(fineHome), "co_id")
      .select(col("vec_id"), col("cent_id"),
              (VectorFns.dot(col("embedding"), col("ce")) /
               (col("nrm") * col("cnrm"))).as("csim"))
      .withColumn("crnk", row_number().over(wVec))
      .filter(col("crnk") === 1)
      .select(col("vec_id"), col("cent_id"), col("csim").as("cent_cos"))
      .join(emb.select(col("vec_id"), col("embedding"), col("nrm")),
            "vec_id")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"),
              col("cent_cos"))
    semDedupTail(assigned, tau, clusterCap)
  }

  /** Word-SET fingerprint: md5-derived 64-bit hash of the sorted
    * distinct token vocabulary — the cheap order/multiplicity-blind
    * normalization layer (two docs that permute or repeat the same
    * words collide; c1's raw-text hash treats them as distinct).
    * DuckDB twin: the join key is the normalized STRING itself — the
    * equivalence classes agree up to 64-bit hash collisions (two
    * distinct vocabularies colliding would make Spark report a dup
    * the oracle does not; ~2^-64 per pair, the same disclosed
    * convention as c8's span keys). The hash never reaches the output.
    */
  private[graft] def wordSetFp(text: Column): Column =
    TextFns.md5hash64(
      concat_ws(" ", array_sort(array_distinct(TextFns.tokens(text)))))

  /** c12: incremental exact-normalized dedup behind a SHARDED BLOOM
    * membership gate — the front door a crawler-scale pipeline puts
    * before any history join: an arriving batch (doc_id % `newMod`
    * == 0, p11's split convention) is checked against the standing
    * corpus' word-set fingerprints ([[wordSetFp]]), and only the
    * fingerprints the bloom CANNOT rule out ever reach the exact
    * verify join. p11 answers "is this NEARLY like something we have"
    * (MinHash estimate); c12 answers the cheaper, earlier question
    * "have we seen exactly this content before" — the URL-seen-set /
    * content-hash gate that in production drops the bulk of a recrawl
    * without touching the history table.
    *
    * Index: one [[graft.functions.BloomAgg]] bloom per fingerprint
    * shard (pmod(fp, nShards)), built in ONE aggregation pass over
    * standing fingerprints — fixed `optimalNumOfBits(expected, fpp)`
    * state per shard regardless of shard row count, map-side partial
    * folding, nShards serialized filters out. The collected shard
    * table is BOUNDED (nShards rows — the PQ-codebook build-once
    * pattern) and ships to executors as one broadcast; at a 10^10-doc
    * history the same build lands the shard files in the warehouse
    * and probe tasks route by the shard key to load only their own
    * (the Warehouse.buildMinhash landing pattern), keeping every
    * per-task working set at one shard's bits.
    *
    * Probe: per-row `mightContainLong` against the broadcast shard
    * map — a scalar JVM kernel by necessity (a sketch membership test
    * has no Column-expression form; disclosed like e14's BPE encode).
    * NO false negatives (the sketch contract BloomAgg documents), so
    * a bloom miss is definitively novel and skips the join; false
    * positives (≈fpp of the batch) join the standing side to be
    * resolved exactly. The verify join BROADCASTS the candidate
    * slice — dup rate and fpp are both small in the production case,
    * so no standing-corpus row ever moves through an exchange; the
    * output is exact regardless of fpp (the bloom only prunes, never
    * decides), which is what makes the query DuckDB-replayable as a
    * plain join.
    *
    * Output: every arriving doc with its standing partner (min
    * doc_id sharing the fingerprint, NULL = novel) and the is_dup
    * verdict.
    */
  /** c12's shard count — shared by the one-shot and the landed index
    * (a probe must be built and probed at the SAME sharding).
    */
  val BloomShards = 16

  /** The batch/standing split modulus shared by EVERY incremental text
    * gate (p11 minhash, c12 bloom) across build AND probe — one
    * constant so an index landed by Warehouse.buildBloom/buildMinhash
    * can never be probed at a silently different split (round-12
    * advice fix; the image twin is MultimodalOps.NearDupBatchMod).
    */
  val IncrementalNewMod = 10

  private def wordSetDocs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), wordSetFp(col("text")).as("fp"))

  /** c12's index build: (per-shard bloom table — exactly nShards
    * rows, and the exact fingerprint store pre-collapsed to the min
    * standing doc_id per fingerprint — the verify join's build side,
    * one row per distinct standing vocabulary). Live-tombstoned docs
    * are excluded from the standing side, so a gated rebuild
    * (ensureBloom keys on the tombstone state) is the EXACT deletion
    * path; between delete and rebuild the probe-side owner anti-join
    * guarantees absence, conservatively reporting a fingerprint novel
    * if its one recorded owner was deleted while an unrecorded
    * co-owner survives (the min-collapse trades that corner for a
    * store the streaming gate can join without re-aggregating per
    * micro-batch).
    */
  private[graft] def bloomIndexParts(spark: SparkSession, dir: String,
                                     nShards: Int = BloomShards,
                                     fpp: Double = 0.01,
                                     newMod: Int = IncrementalNewMod)
      : (DataFrame, DataFrame) = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val standing = graft.sources.Warehouse.exceptTombstoned(
      wordSetDocs(spark, dir)
        .filter(pmod(col("doc_id"), lit(newMod)) =!= 0),
      dir, "doc_id")
    // shard sizing from the parquet row count (metadata-only scan —
    // the production form reads the same number from catalog stats);
    // undersizing only degrades fpp, never correctness
    val total = docs(spark, dir).count()
    val perShard = math.max(64L, total / math.max(1, nShards))
    val shards = standing
      .select(pmod(col("fp"), lit(nShards.toLong)).cast("int").as("shard"),
              col("fp"))
      .groupBy(col("shard"))
      .agg(graft.functions.BloomAgg.fn(perShard, fpp)(col("fp")).as("bf"))
    val fps = standing.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("ex_id"))
    (shards, fps)
  }

  /** c12's probe: bloom gate (broadcast shard map; a miss is
    * definitively novel — the no-false-negative contract) → exact
    * verify of the surviving candidate slice, BROADCAST into the
    * fingerprint store so no standing row ever shuffles.
    */
  private def bloomLabels(batch: DataFrame,
                          shardRows: Array[org.apache.spark.sql.Row],
                          fps: DataFrame, nShards: Int): DataFrame = {
    val spark = batch.sparkSession
    val shardMap = shardRows.map(r =>
      r.getInt(0) -> graft.functions.BloomAgg.deserialize(
        r.getAs[Array[Byte]](1))).toMap
    val bcast = spark.sparkContext.broadcast(shardMap)
    val mightContain = udf((shard: Int, fp: Long) =>
      bcast.value.get(shard).exists(_.mightContainLong(fp)))
    val candidates = batch
      .filter(mightContain(pmod(col("fp"), lit(nShards.toLong)).cast("int"),
                           col("fp")))
    // candidates ≈ true dups + fpp·|batch| — small by construction, so
    // THEY broadcast; the store's fp is unique, so each candidate
    // matches at most one row and no re-aggregation is needed
    val dupOf = fps
      .join(broadcast(candidates), "fp")
      .select(col("doc_id"), col("ex_id").as("dup_of"))
    batch.select(col("doc_id"))
      .join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
              col("dup_of").isNotNull.as("is_dup"))
      .orderBy(col("doc_id"))
  }

  def bloomDedup(spark: SparkSession, dir: String,
                 nShards: Int = BloomShards, fpp: Double = 0.01,
                 newMod: Int = IncrementalNewMod): DataFrame = {
    val (shards, fps) = bloomIndexParts(spark, dir, nShards, fpp, newMod)
    val batch = wordSetDocs(spark, dir)
      .filter(pmod(col("doc_id"), lit(newMod)) === 0)
    // bounded collect: exactly nShards rows at ANY corpus size
    bloomLabels(batch, shards.collect(), fps, nShards)
  }

  /** c12 over a LANDED standing index (graft_bloom_shards /
    * graft_bloom_fps, Warehouse.buildBloom): only the arriving batch
    * computes fingerprints; the shard blooms load from their bounded
    * table and the verify probes the persisted fingerprint store in
    * place — the history corpus itself is never read, the
    * "membership gate without the history join" contract at its
    * cheapest.
    */
  private[graft] def bloomDedupIndexed(spark: SparkSession, dir: String,
                                       newMod: Int = IncrementalNewMod): DataFrame = {
    val batch = wordSetDocs(spark, dir)
      .filter(pmod(col("doc_id"), lit(newMod)) === 0)
    // deletion layer: a tombstoned OWNER drops from the verify store —
    // the bloom itself cannot forget (it only prunes; a stale positive
    // just reaches the verify, where the surviving-owner min decides),
    // so correctness is exact without rebuilding the sketch
    bloomLabels(batch,
                spark.table(graft.sources.Warehouse
                  .tbl(dir, "graft_bloom_shards")).collect(),
                graft.sources.Warehouse.exceptTombstoned(
                  spark.table(graft.sources.Warehouse
                    .tbl(dir, "graft_bloom_fps")), dir, "ex_id"),
                BloomShards)
  }
}
