package graft

/** Partition-perturbation parity: a distributed plan whose output
  * depends on partition count or AQE has a tie-break bug (the classic
  * "passes locally, flakes on the cluster" class). Every query here
  * ends in an ORDER BY with full tiebreaks, so its collected output
  * must be IDENTICAL — row order included — under different shuffle
  * partitioning and with AQE disabled.
  */
class DeterminismSpec extends SparkSpec {

  // tie-heavy representatives: pages with boundary ties, rank ties,
  // max_by ties, bucket-join candidate ordering
  private val targets = Seq(
    "a1_latest_event_per_user", "b3_marketplace_listing",
    "b29_wallet_listed", "b35_keyset_page",
    "d1_ann_bruteforce", "c2_dedup_minhash",
    "b39_nft_directory", "p4_stratified_sample", "p3_fuzzy_dedup",
    "p6_token_budget_mix",
    // round 6: regex-pruned page with 1-row total broadcast; CDC pair
    // ranking (overlap ties broken by id); double-fold aggregation
    "b41_feeds_channels", "c7_cdc_chunks", "d8_embedding_quantize",
    // round 6 late additions: chunk-df reassembly (collect_list order),
    // rank-based repetition factors, two-pass PQ argmin (dist==min
    // equality + min(cent_id) tie-break), IVF-PQ ADC shortlist →
    // exact rerank (soft-assignment pair dedup + two group limits)
    "e9_para_dedup", "p7_temperature_mix", "d9_pq_quantize",
    "d10_ann_ivfpq",
    // round 7: block-prefix-sum global rank with arithmetic ntile
    // (score ties broken by doc_id); gaps-and-islands span merge over
    // a partitioned running sum; sorted-order mode tie-break inside
    // MaxRun; newest-first list form with id tiebreak
    "e11_unigram_logprob", "c8_dup_spans", "e10_top_ngram_share",
    "b44_earned_list",
    // round 9: SemDeDup keep-rank (cent_cos ties on exact twins broken
    // by vec_id), cut-rebuild collect_list reassembled via array_sort,
    // trailing-window stats over a partitioned ordered frame
    "c9_semdedup", "c10_dedup_cut", "a18_hourly_anomaly",
    // round 10: 4-branch union page (per-branch LIMIT boundaries +
    // global page slice + kind-split lookup), the fixed-|Q| md5-rank
    // query batch (TakeOrdered boundary ties) through both the
    // one-shot and landed-index probes, BPE counts (driver-trained
    // merge table must be partitioning-independent)
    "b50_transactions_union", "b54_sorted_price_desc",
    "d13_ann_ivf_fixedq", "d14_ann_ivfpq_fixedq",
    "e14_bpe_token_stats",
    // round 11: c4's adaptive candidate path (top-50
    // Jaccard cut boundary ties + the exactness-guard arm choice must
    // not depend on partitioning), the rewritten banding family's
    // in-array pair expansion (c5 joins embeddings back once per
    // DISTINCT pair), hierarchical SemDeDup coarse-cell top-probes +
    // fine-centroid argmax ties, and C&T rank-profile distance ties
    "c4_ngram_jaccard", "c5_dedup_embedding",
    "c11_semdedup_hier", "e3_lang_id", "p11_incremental_dedup")

  private def snap(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("results are identical under perturbed shuffle partitioning and AQE off") {
    targets.foreach { name =>
      val base = snap(name)
      assert(base.nonEmpty, s"$name: vacuous")
      val fewParts = withConf("spark.sql.shuffle.partitions" -> "5") { snap(name) }
      assert(fewParts == base, s"$name: differs at 5 shuffle partitions")
      val noAqe = withConf("spark.sql.adaptive.enabled" -> "false") { snap(name) }
      assert(noAqe == base, s"$name: differs with AQE disabled")
    }
  }
}
