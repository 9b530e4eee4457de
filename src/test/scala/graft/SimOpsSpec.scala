package graft

import org.apache.spark.sql.functions._
import graft.operators.SimOps
import graft.sources.Tables

/** Module D specs — d1 against a naive JVM top-k, d2 recall vs d1. */
class SimOpsSpec extends SparkSpec {

  private lazy val embs: Map[Long, Array[Float]] =
    Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def naiveTopK(q: Long, k: Int): Seq[Long] =
    embs.toSeq.filter(_._1 != q)
      .map { case (id, v) => (id, cos(embs(q), v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)

  test("d1 brute-force matches naive exact top-10 for every query") {
    val got = SimOps.annBruteforce(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("cand_id")).toSeq }
    assert(got.nonEmpty)
    got.foreach { case (q, cands) => assert(cands == naiveTopK(q, 10), s"query $q") }
  }

  test("d16 kNN classify matches a naive vote over the naive top-10") {
    val labels: Map[Long, Int] =
      Tables.embeddings(spark, sf).select("vec_id", "label")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = SimOps.knnClassify(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val votes = naiveTopK(q, 10).map(labels)
        .groupBy(identity).map { case (l, xs) => (l, xs.size) }
      val (predLabel, predVotes) =
        votes.toSeq.sortBy { case (l, n) => (-n, l) }.head
      assert(r.getAs[Int]("predicted_label") == predLabel, s"query $q")
      assert(r.getAs[Long]("votes") == predVotes.toLong, s"query $q votes")
      assert(r.getAs[Int]("actual_label") == labels(q), s"query $q actual")
      assert(r.getAs[Boolean]("agrees") == (predLabel == labels(q)))
    }
  }

  test("d2 LSH ANN: scores exact, candidates only from shared buckets, recall>0") {
    val got = SimOps.annLsh(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val expected = cos(embs(r.getAs[Long]("query_id")), embs(r.getAs[Long]("cand_id")))
      assert(math.abs(r.getAs[Double]("cosine") - expected) < 1e-5)
    }
    // recall vs exact top-10, averaged over queries (approximate by
    // design; must beat random-bucket floor)
    val byQ = got.groupBy(_.getAs[Long]("query_id"))
    val recalls = byQ.map { case (q, rs) =>
      val lsh = rs.map(_.getAs[Long]("cand_id")).toSet
      val exact = naiveTopK(q, 10).toSet
      lsh.intersect(exact).size.toDouble / exact.size
    }
    val avgRecall = recalls.sum / recalls.size
    info(f"d2 avg recall@10 vs exact: $avgRecall%.3f over ${recalls.size} queries")
    assert(avgRecall > 0.1)
  }

  test("d2 multi-probe LSH: recall never drops, scores stay exact") {
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows.groupBy(_.getAs[Long]("query_id"))
      val rs = byQ.map { case (q, hits) =>
        hits.map(_.getAs[Long]("cand_id")).toSet
          .intersect(naiveTopK(q, 10).toSet).size / 10.0
      }
      rs.sum / rs.size
    }
    val single = SimOps.annLsh(spark, sf, multiProbe = false).collect()
    val multi = SimOps.annLsh(spark, sf, multiProbe = true).collect()
    multi.foreach { r =>
      val expected = cos(embs(r.getAs[Long]("query_id")),
                         embs(r.getAs[Long]("cand_id")))
      assert(math.abs(r.getAs[Double]("cosine") - expected) < 1e-5)
    }
    val (r1, rm) = (recallOf(single), recallOf(multi))
    info(f"d2 recall@10: single-probe $r1%.3f, multi-probe $rm%.3f")
    // probing a superset of buckets can only widen the candidate set
    assert(rm >= r1 - 1e-9, s"multi-probe lost recall: $r1 -> $rm")
  }

  test("d4 custom top-k aggregate reproduces d1's window top-k exactly") {
    val viaAgg = SimOps.annTopKAgg(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"),
                 r.getAs[Long]("cand_id"), r.getAs[Double]("cosine"))).toSeq
    val viaWindow = SimOps.annBruteforce(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"),
                 r.getAs[Long]("cand_id"), r.getAs[Double]("cosine"))).toSeq
    assert(viaAgg == viaWindow && viaAgg.nonEmpty)
  }

  test("d6 range search: exactly the pairs above the threshold, values exact") {
    val got = SimOps.annRange(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) ->
        r.getAs[Double]("cosine")).toMap
    assert(got.nonEmpty)
    // completeness AND soundness vs the naive full scan
    val queries = embs.keys.filter(_ % 10 == 0)
    val expected = (for {
      q <- queries; (id, v) <- embs if id != q
      c = cos(embs(q), v) if c >= 0.15
    } yield (q, id) -> c).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, c) =>
      assert(math.abs(c - expected(k)) < 1e-5, s"pair $k")
    }
  }

  test("d5 IVF ANN: scores exact, recall beats the probe-fraction floor") {
    val got = SimOps.annIvf(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val expected = cos(embs(r.getAs[Long]("query_id")), embs(r.getAs[Long]("cand_id")))
      assert(math.abs(r.getAs[Double]("cosine") - expected) < 1e-5)
    }
    val byQ = got.groupBy(_.getAs[Long]("query_id"))
    val recalls = byQ.map { case (q, rs) =>
      val ivf = rs.map(_.getAs[Long]("cand_id")).toSet
      val exact = naiveTopK(q, 10).toSet
      ivf.intersect(exact).size.toDouble / exact.size
    }
    val avgRecall = recalls.sum / recalls.size
    info(f"d5 avg recall@10 vs exact: $avgRecall%.3f over ${recalls.size} queries")
    // default np=8, na=2 over 32 cells: a BLIND probe of 8 cells with
    // each vector indexed in 2 would see ≈ 1 - C(24,2)/C(32,2) ≈ 44% of
    // the corpus — the quantizer must beat that by a clear margin
    assert(avgRecall > 0.55)
  }

  test("d5 k-means refinement improves the spherical quantization objective") {
    import graft.functions.VectorFns
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"),
              VectorFns.norm(col("embedding")).as("nrm"))
    def objective(iters: Int): Double = {
      // mean over vectors of max cosine to any centroid — the spherical
      // k-means objective Lloyd monotonically improves
      val cents = SimOps.ivfCentroids(emb, nlist = 32, kmeansIters = iters)
        .collect().map(r => r.getSeq[Float](1).toArray)
      assert(cents.nonEmpty)
      embs.values.map(v => cents.map(c => cos(v, c)).max).sum / embs.size
    }
    val base = objective(0)
    val refined = objective(2)
    info(f"spherical objective: sampled $base%.4f -> 2xLloyd $refined%.4f")
    assert(refined >= base - 1e-9,
      s"k-means refinement worsened the objective: $base -> $refined")
    // and the refined index still returns exact-scored, well-formed hits
    val got = SimOps.annIvf(spark, sf, kmeansIters = 2).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val expected = cos(embs(r.getAs[Long]("query_id")),
                         embs(r.getAs[Long]("cand_id")))
      assert(math.abs(r.getAs[Double]("cosine") - expected) < 1e-5)
    }
    val byQ = got.groupBy(_.getAs[Long]("query_id"))
    val recalls = byQ.map { case (q, rs) =>
      rs.map(_.getAs[Long]("cand_id")).toSet
        .intersect(naiveTopK(q, 10).toSet).size / 10.0
    }
    info(f"d5+kmeans avg recall@10: ${recalls.sum / recalls.size}%.3f")
  }

  test("d8 quantization error honors the int8 symmetric bound per label") {
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = SimOps.embeddingQuantize(spark, sf).collect()
    assert(got.nonEmpty)
    // ground truth per label: the largest half-step 0.5/scale =
    // abs_max/254 over the label's vectors bounds every component error
    val maxHalfStep = embs.toSeq.groupBy { case (id, _) => labels(id) }
      .map { case (l, vs) =>
        l -> vs.map { case (_, v) => v.map(x => math.abs(x.toDouble)).max / 254.0 }.max
      }
    var totalVecs = 0L
    got.foreach { r =>
      val l = r.getAs[Int]("label")
      totalVecs += r.getAs[Long]("n_vecs")
      assert(r.getAs[Double]("max_abs_err") <= maxHalfStep(l) + 1e-9,
        s"label $l: err ${r.getAs[Double]("max_abs_err")} above int8 bound")
      assert(r.getAs[Double]("min_cos_preserved") > 0.999,
        s"label $l: int8 should preserve cosine to 3+ nines")
      assert(r.getAs[Double]("avg_cos_preserved") >=
             r.getAs[Double]("min_cos_preserved"))
    }
    assert(totalVecs == embs.size)
  }

  test("d10 IVF-PQ rerank: final scores exact, recall within reach of d5") {
    val got = SimOps.annIvfPq(spark, sf).collect()
    assert(got.nonEmpty)
    // the rerank stage re-reads full vectors, so every emitted score
    // must be a TRUE cosine, not an ADC approximation
    got.foreach { r =>
      val expected = cos(embs(r.getAs[Long]("query_id")),
                         embs(r.getAs[Long]("cand_id")))
      assert(math.abs(r.getAs[Double]("cosine") - expected) < 1e-5)
    }
    val byQ = got.groupBy(_.getAs[Long]("query_id"))
    def recallOf(rows: Map[Long, Array[org.apache.spark.sql.Row]]): Double = {
      val rs = rows.map { case (q, xs) =>
        val found = xs.map(_.getAs[Long]("cand_id")).toSet
        found.intersect(naiveTopK(q, 10).toSet).size / 10.0
      }
      rs.sum / rs.size
    }
    val r10 = recallOf(byQ)
    info(f"d10 avg recall@10 vs exact: $r10%.3f over ${byQ.size} queries")
    // ADC ranks the same probed lists d5 scores exactly; the rerank
    // margin must keep most of d5's recall (d5 measured 0.78 here)
    assert(r10 > 0.5, s"IVF-PQ recall $r10 collapsed vs the IVF stage")
    // a wider rerank margin than the default (16 since the rerank
    // grid re-run, BASELINE.md "Recall" — this must stay STRICTLY above it or the check is
    // vacuous, the round-6 ADVICE trap) can only help: more ADC
    // candidates get the exact pass
    val r32 = recallOf(SimOps.annIvfPq(spark, sf, rerank = 32).collect()
      .groupBy(_.getAs[Long]("query_id")))
    assert(r32 >= r10 - 1e-9, s"wider rerank lost recall: $r10 -> $r32")
    // and a NARROWER margin must not beat the default (sanity that the
    // margin is what moves recall)
    val r8 = recallOf(SimOps.annIvfPq(spark, sf, rerank = 8).collect()
      .groupBy(_.getAs[Long]("query_id")))
    assert(r8 <= r10 + 1e-9, s"narrower rerank beat the default: $r8 > $r10")
  }

  test("d9 PQ accounting matches a naive JVM product quantizer") {
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // naive PQ: same fixed-cardinality codebook (the 256 vec_ids of
    // smallest (md5, id) rank), argmin sq distance per 8-dim
    // subvector with centroid-id tie-break
    val subsOf = (v: Array[Float]) =>
      v.map(_.toDouble).grouped(8).toVector
    val sampleIds = embs.keys.toSeq
      .sortBy(id => (md5hex(id.toString), id)).take(256).sorted
    val books = (0 until 8).map { j =>
      sampleIds.map(id => id -> subsOf(embs(id))(j))
    }
    def cosSq(id: Long): (Double, Double) = {
      val subs = subsOf(embs(id))
      val picks = (0 until 8).map { j =>
        books(j).minBy { case (cid, ce) =>
          (subs(j).zip(ce).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
        }._2
      }
      val dot = (0 until 8).map(j => subs(j).zip(picks(j)).map(x => x._1 * x._2).sum).sum
      val qn = picks.map(_.map(x => x * x).sum).sum
      val on = subs.map(_.map(x => x * x).sum).sum
      val sq = (0 until 8).map(j =>
        subs(j).zip(picks(j)).map { case (a, b) => (a - b) * (a - b) }.sum).sum
      (dot / (math.sqrt(qn) * math.sqrt(on)), sq)
    }
    val byLabel = embs.keys.toSeq.groupBy(labels)
    val got = SimOps.pqQuantize(spark, sf).collect()
    assert(got.nonEmpty)
    var n = 0L
    got.foreach { r =>
      val ids = byLabel(r.getAs[Int]("label"))
      val stats = ids.map(cosSq)
      n += r.getAs[Long]("n_vecs")
      assert(r.getAs[Long]("n_vecs") == ids.size)
      assert(math.abs(r.getAs[Double]("avg_cos_preserved") -
        stats.map(_._1).sum / ids.size) < 1e-5)
      assert(math.abs(r.getAs[Double]("min_cos_preserved") -
        stats.map(_._1).min) < 1e-5)
      assert(math.abs(r.getAs[Double]("avg_sq_err") -
        stats.map(_._2).sum / ids.size) < 1e-5)
    }
    assert(n == embs.size)
    // a denser codebook must not reconstruct worse on average
    val coarse = SimOps.pqQuantize(spark, sf, ks = 32).collect()
      .map(r => r.getAs[Double]("avg_cos_preserved")).sum / got.length
    val fine = got.map(_.getAs[Double]("avg_cos_preserved")).sum / got.length
    assert(fine >= coarse - 1e-9,
      f"denser codebook reconstructed worse: $fine%.4f < $coarse%.4f")
  }

  test("d9 per-subspace k-means refinement is Lloyd-monotone on the PQ objective") {
    // global mean squared reconstruction error = the k-means objective;
    // assign + mean-update must never increase it
    def objective(iters: Int): Double = {
      val rows = SimOps.pqQuantize(spark, sf, kmeansIters = iters).collect()
      val (err, n) = rows.foldLeft((0.0, 0L)) { case ((e, c), r) =>
        (e + r.getAs[Double]("avg_sq_err") * r.getAs[Long]("n_vecs"),
         c + r.getAs[Long]("n_vecs"))
      }
      err / n
    }
    val (o0, o1, o2) = (objective(0), objective(1), objective(2))
    info(f"d9 PQ objective: sampled $o0%.4f -> 1xLloyd $o1%.4f -> 2xLloyd $o2%.4f")
    assert(o1 <= o0 + 1e-9, s"one Lloyd round worsened the objective: $o0 -> $o1")
    assert(o2 <= o1 + 1e-9, s"second Lloyd round worsened the objective: $o1 -> $o2")
  }

  test("PQ codebook and IVF centroid cardinality are FIXED across scale factors") {
    // the 100 TB contract: index cardinality must not grow with the
    // corpus (round 6 had ks = N/8 and nlist = N/16 — quadratic
    // assignment, unbounded broadcast, byte-codes broken past N=2048)
    import graft.functions.VectorFns
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")) {
      val subs = SimOps.pqSubs(Tables.embeddings(spark, dir),
        Seq("label", "vec_id"), 8, 8)
      val book = SimOps.pqTrainCodebook(subs, ks = 256, m = 8,
        kmeansIters = 0)
      assert(book.entries.length == 8)
      assert(book.entries.forall(_.length == 256),
        s"$dir: codebook not fixed at 256 entries/subspace " +
          s"(got ${book.entries.map(_.length).toSeq})")
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"),
                VectorFns.norm(col("embedding")).as("nrm"))
      val nCents = SimOps.ivfCentroids(emb, nlist = 32, kmeansIters = 0)
        .count()
      assert(nCents == 32, s"$dir: nlist not fixed (got $nCents)")
    }
  }

  test("d3 per-label stats match naive aggregation") {
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = SimOps.embeddingStats(spark, sf).collect()
    val byLabel = embs.groupBy { case (id, _) => labels(id) }
    got.foreach { r =>
      val vs = byLabel(r.getAs[Int]("label")).values
      assert(r.getAs[Long]("n_vecs") == vs.size)
      val avgNorm = vs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum)).sum / vs.size
      assert(math.abs(r.getAs[Double]("avg_norm") - avgNorm) < 1e-3)
    }
  }
}
