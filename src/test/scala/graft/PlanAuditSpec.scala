package graft

import org.apache.spark.sql.execution.ExplainMode

/** The release plan sweep (SURVEY §6) as a regression test: no query
  * may plan a cartesian product, and BroadcastNestedLoopJoin may
  * appear ONLY where it is the documented broadcast-small-side design
  * (1-row totals, scalar-subquery dashboards, broadcast query batches
  * / centroid probes). A new query that accidentally plans an
  * unconstrained join fails here instead of surviving until a manual
  * Explain audit.
  */
class PlanAuditSpec extends SparkSpec {

  // streaming-backed queries EXECUTE their catch-up run at plan-build
  // time (memory-sink materialization) — audited via their own specs
  private val streamingBacked = Set(
    "a9_stream_hourly", "a10_stream_state", "a13_stream_join",
    "a14_stream_asof", "a15_stream_asof_ooo", "a19_stream_anomaly",
    "p5_stream_ingest")

  // every BNLJ here is a documented broadcast-small-side pattern
  private val bnljByDesign = Set(
    "b23_platform_counts",     // scalar-subquery count dashboard
    "b34_marketplace_page",    // 1-row total broadcast
    "b39_nft_directory",       // 1-row total broadcast
    "b41_feeds_channels",      // 1-row total broadcast
    "d1_ann_bruteforce", "d4_ann_topk_agg", "d6_ann_range",
    "d7_ann_filtered",         // broadcast query batch (exact baseline)
    "d5_ann_ivf",              // broadcast centroid probe
    "d10_ann_ivfpq",           // broadcast centroid probe + query subs
    "d11_ann_incremental",     // broadcast frozen-centroid routing
    "d12_ann_indexed",         // broadcast PERSISTED-centroid probe (d10's landed twin)
    "d12b_ann_deleted",        // d12's probe behind the tombstone layer
    "d13_ann_ivf_fixedq",      // d5's probe with the fixed-|Q| batch
    "d14_ann_ivfpq_fixedq",    // d10's probe with the fixed-|Q| batch
    "d15_ann_indexed_fixedq",  // d12's probe with the fixed-|Q| batch
    "d16_knn_classify",        // d4's scan vs the broadcast fixed-|Q| batch
    "d16b_knn_indexed",        // broadcast PERSISTED-centroid probe (d15's landed twin)
    "d17_hybrid_retrieval",    // d5 centroid probe + 1-row corpus-stats broadcast
    "d17b_hybrid_indexed",     // PERSISTED-centroid probe + 1-row landed stats
    "e16_bm25_search",         // 1-row (N, avgdl) corpus-stats broadcast
    "e16b_bm25_indexed",       // 1-row LANDED (N, avgdl) stats broadcast
    "e16c_bm25_deleted",       // e16b's probe behind the tombstone layer
    "e16z_bm25_zipf",          // e16b's probe over the ZipfCheck corpus
    "e17_quality_classifier",  // 1-row totals/priors broadcasts
    "e17b_quality_indexed",    // 1-row LANDED priors broadcast
    "c9_semdedup",             // broadcast centroid routing (d5's sample)
    "c11_semdedup_hier",       // broadcast coarse+fine centroid routing
    "e3_lang_id",              // broadcast nLang-row profile cross
    "e11_unigram_logprob",     // 1-row total-tokens + n_docs broadcasts
    "e13_bigram_logprob",      // 1-row (T, V) broadcast
    "p12_source_filter")       // 1-row median-quality broadcast

  test("no cartesian products; BNLJ only in the documented broadcast patterns") {
    SparkEntry.queries.keys.filterNot(streamingBacked).toSeq.sorted.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      if (!bnljByDesign(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin outside the documented set")
    }
  }

  test("the native kernels stay in the hot plans (no interpreted fold regression)") {
    // the round-7 kernel rewrites are easy to silently undo with a
    // well-meaning refactor back to transform/aggregate lambdas; the
    // optimized plan must carry the codegen'd expressions
    def planOf(name: String) =
      SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.toString
    assert(planOf("e10_top_ngram_share").contains("max_run"),
      "e10 lost MaxRun")
    // (c2's signatures cross a typed-Aggregator LogicalRDD boundary,
    // so its shingle stage isn't visible in the final plan — its
    // kernel use is covered by the shared shingleSets helper c4 audits)
    Seq("e7_dup_ngram_ratio", "e6_ngram_freq", "c8_dup_spans",
        "p2_decontaminate")
      .foreach { q =>
        assert(planOf(q).contains("shingle_windows"),
          s"$q lost ShingleWindows")
      }
    // c4 picks its arm at call time (banded fast path vs exhaustive
    // fallback), so audit BOTH builders directly instead of the
    // registered query. The exhaustive arm must keep the
    // ShingleWindows kernel visible; the banded arm checkpoints its
    // shingle-hash sets (LogicalRDD boundary — kernel use is the same
    // shared ngramJaccardIndex, covered by the exhaustive row, the
    // c2-signature precedent), and must stay cartesian/BNLJ-free: its
    // verify joins are equi on the pair ids.
    assert(operators.DedupOps.ngramJaccardExhaustive(spark, sf)
      .queryExecution.optimizedPlan.toString.contains("shingle_windows"),
      "c4/exhaustive lost ShingleWindows")
    Seq(
      "c4/exhaustive" -> operators.DedupOps.ngramJaccardExhaustive(spark, sf),
      "c4/banded" -> operators.DedupOps.ngramJaccardBanded(spark, sf))
      .foreach { case (tag, df) =>
        val phys = df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        assert(!phys.contains("CartesianProduct"), s"$tag plans a CartesianProduct")
        assert(!phys.contains("BroadcastNestedLoopJoin"),
          s"$tag plans a BroadcastNestedLoopJoin")
      }
    assert(planOf("p10_holdout_split").contains("md5_hash64"),
      "p10 lost Md5Hash64")
  }

  test("streaming micro-batch plans: state stores placed, no cartesians") {
    // the expected STATEFUL operator per stream — the placement that
    // makes each one a true incremental computation (state store keyed
    // by the shuffle partitioning) rather than a re-aggregation
    val statefulOp = Map(
      "a9_stream_hourly"   -> "StateStoreSave",            // windowed agg
      "a10_stream_state"   -> "FlatMapGroupsWithState",    // per-user fold
      "a13_stream_join"    -> "StreamingSymmetricHashJoin",// stream⋈stream
      "a14_stream_asof"    -> "FlatMapGroupsWithState",    // as-of state
      "a15_stream_asof_ooo" -> "FlatMapGroupsWithState",   // OOO buffer
      "a19_stream_anomaly" -> "StateStoreSave",            // windowed agg feed
      "p5_stream_ingest"   -> "FlatMapGroupsWithState")    // dedup winner
    statefulOp.keys.toSeq.sorted.foreach { name =>
      SparkEntry.queries(name)(spark, sf).collect()
      val plan = graft.streaming.EventStream.lastMicroBatchPlan
      assert(plan.nonEmpty, s"$name: no micro-batch plan captured")
      assert(plan.contains(statefulOp(name)),
        s"$name micro-batch plan lost its ${statefulOp(name)} operator")
      assert(!plan.contains("CartesianProduct"),
        s"$name micro-batch plans a CartesianProduct")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name micro-batch plans a BroadcastNestedLoopJoin")
    }
  }

  test("same-spec window expressions share one WindowExec pass") {
    // the a12/a18/c10 defect class (fixed round 11): chained
    // withColumn leaves a Project between two Window nodes over the
    // SAME (partition, order) spec, which CollapseWindow cannot merge
    // — the sorted stream is walked twice for expressions that could
    // share one pass. Legitimate stacks (a5/c8's lag feeding a running
    // sum) are excluded by the dependence check: the upper node's
    // expressions must reference the lower node's outputs (resolved
    // through the intermediate Projects' aliases).
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    def audit(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.sparkPlan.foreach {
        case w1: WindowExec =>
          val projects = scala.collection.mutable.ArrayBuffer[ProjectExec]()
          var cur = w1.child
          while (cur.isInstanceOf[ProjectExec]) {
            projects += cur.asInstanceOf[ProjectExec]
            cur = cur.asInstanceOf[ProjectExec].child
          }
          cur match {
            case w2: WindowExec
              if w1.partitionSpec.length == w2.partitionSpec.length &&
                 w1.partitionSpec.zip(w2.partitionSpec)
                   .forall { case (a, b) => a.semanticEquals(b) } &&
                 w1.orderSpec.length == w2.orderSpec.length &&
                 w1.orderSpec.zip(w2.orderSpec)
                   .forall { case (a, b) => a.semanticEquals(b) } =>
              var refs: Set[Attribute] =
                w1.windowExpression.flatMap(_.references).toSet
              projects.foreach { p =>
                val aliased = p.projectList.collect {
                  case a: Alias => (a.toAttribute: Attribute) -> a.child.references.toSeq
                }.toMap
                refs = refs.flatMap(att =>
                  aliased.getOrElse(att, Seq(att)))
              }
              val lowerOut: Set[Attribute] =
                w2.windowExpression.map(_.toAttribute).toSet
              assert(refs.exists(lowerOut.contains),
                s"$name: two same-spec Window nodes with independent " +
                "expressions — put them in one select so WindowExec " +
                "walks the sorted stream once")
            case _ => ()
          }
        case _ => ()
      }
    // planted control: the detector must actually flag the defect —
    // a12's pre-fix shape (two independent same-spec withColumns)
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val w = Window.partitionBy($"k").orderBy($"t")
        .rowsBetween(Window.unboundedPreceding, 0)
      // the second window function's argument must be a derived
      // expression: the analyzer extracts it into a Project between
      // the two Window nodes, which is exactly what blocks
      // CollapseWindow (plain-column arguments collapse fine)
      val bad = Seq((1L, 1L, 2.0), (1L, 2L, 3.0)).toDF("k", "t", "v")
        .withColumn("a", last($"v", ignoreNulls = true).over(w))
        .withColumn("b",
          last(when($"v" > 2.5, $"t"), ignoreNulls = true).over(w))
      val caught = intercept[org.scalatest.exceptions.TestFailedException] {
        audit("planted-control", bad)
      }
      assert(caught.getMessage.contains("same-spec Window nodes"),
        s"detector control failed for the wrong reason: ${caught.getMessage}")
    }
    SparkEntry.queries.keys.filterNot(streamingBacked).toSeq.sorted
      .foreach(name => audit(name, SparkEntry.queries(name)(spark, sf)))
  }
}
