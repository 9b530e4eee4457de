package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.{Tables, Warehouse}

/** The bucketed layout must (a) produce identical results to the raw
  * join and (b) plan the fact⋈fact join with ZERO shuffle exchanges —
  * the property that makes it the 100 TB strategy.
  */
class WarehouseSpec extends SparkSpec {

  // graftbridge.planNodes, NOT a naive children walk: under AQE the
  // finalized plan's top is a childless ResultQueryStage, so a plain
  // walk counts zero exchanges and every assertion here passes
  // vacuously (it did, until round 8 caught it).
  private def nodes(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // finalize AQE
    org.apache.spark.sql.graftbridge.planNodes(df.queryExecution.executedPlan)
  }

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int =
    nodes(df).count(_.isInstanceOf[ShuffleExchangeLike])

  test("bucketed orders-lineitem join is shuffle-free and result-identical") {
    Warehouse.build(spark, sf)
    val bucketed = Warehouse.revenueJoinBucketed(spark, sf)
    // raw equivalent over plain parquet
    val raw = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
             .as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("o_orderstatus"))
    assert(bucketed.collect().toSeq == raw.collect().toSeq)

    // join itself must be exchange-free: only the final tiny
    // groupBy(status) aggregate (post-join, 3 groups) may shuffle
    val joinOnly = Warehouse.lineitemB(spark, sf)
      .join(Warehouse.ordersB(spark, sf),
            col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"))
    assert(shuffleCount(joinOnly) == 0,
      "bucketed fact join should not shuffle either side")
  }

  test("bucketed event log: per-user folds are exchange-free, identical to raw") {
    import graft.operators.EventOps
    Warehouse.buildEvents(spark, sf)
    // result identity for the three per-user folds
    assert(Warehouse.latestEventPerUserBucketed(spark, sf).collect().toSeq ==
           EventOps.latestEventPerUser(spark, sf).collect().toSeq)
    assert(Warehouse.sessionizeBucketed(spark, sf).collect().toSeq ==
           EventOps.sessionize(spark, sf).collect().toSeq)
    assert(Warehouse.stateFoldBucketed(spark, sf).collect().toSeq ==
           EventOps.stateFold(spark, sf).collect().toSeq)
    // the fold itself is exchange-free: groupBy(user_id) is satisfied
    // by the bucketed scan's HashPartitioning — no shuffle of the log
    val foldOnly = Warehouse.eventsB(spark, sf).groupBy(col("user_id"))
      .agg(max(col("ms")).as("last_ms"))
    assert(shuffleCount(foldOnly) == 0,
      "bucketed per-user fold should not shuffle the event log")
    // full queries keep ONLY the presentation sort's range exchange:
    // a1's agg and a5's window/session-agg all reuse the bucketing
    // (HashPartitioning(user_id) satisfies the window's and the
    // (user_id, session_id) agg's clustered distributions)
    assert(shuffleCount(Warehouse.latestEventPerUserBucketed(spark, sf)) == 1)
    assert(shuffleCount(Warehouse.sessionizeBucketed(spark, sf)) == 1)
    assert(shuffleCount(Warehouse.stateFoldBucketed(spark, sf)) == 1)
  }

  test("IVF-PQ over the landed index: partition-pruned probes, identical to d10") {
    Warehouse.buildIvf(spark, sf)
    val indexed = Warehouse.annIvfPqIndexed(spark, sf)
    // the probe join must reach the cent_id PARTITION column as
    // dynamic partition pruning — probing 8 of the cells opens only
    // those directories, the scan never reads unprobed lists
    val plan = indexed.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning"),
      "probe join did not produce a dynamic partition pruning filter")
    // and the landed index must answer exactly what the self-contained
    // d10 computes per run at the SAME build parameters (the build-once
    // path defaults to Lloyd-refined routing/codebooks, kmeansIters=4)
    val fromIndex = indexed.collect().toSeq.map(_.toString)
    val selfContained = graft.operators.SimOps
      .annIvfPq(spark, sf, kmeansIters = 4)
      .collect().toSeq.map(_.toString)
    assert(fromIndex == selfContained)
  }

  test("IVF-flat over the landed index is result-identical to d5") {
    Warehouse.buildIvf(spark, sf)
    val fromIndex = Warehouse.annIvfFlatIndexed(spark, sf)
      .collect().toSeq.map(_.toString)
    val selfContained = graft.operators.SimOps
      .annIvf(spark, sf, kmeansIters = 4)
      .collect().toSeq.map(_.toString)
    assert(fromIndex == selfContained && fromIndex.nonEmpty)
  }

  test("IVF upsert: append-only batch maintenance, identical to one-shot d11") {
    // standing index: everything except the batch (vec_id % 17 == 0);
    // kmeansIters=0 so the routing matches the oracle-replayable
    // one-shot form
    Warehouse.buildIvf(spark, sf, kmeansIters = 0, excludeMod = 17)
    def dataFiles(): Map[String, (Long, String)] = {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(wh, Warehouse.tbl(sf, "graft_ivf_lists")))
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          val md = java.security.MessageDigest.getInstance("MD5")
          f.getPath -> (f.length(), md.digest(bytes).map("%02x".format(_)).mkString)
        }.toMap
    }
    val before = dataFiles()
    val rowsBefore = Warehouse.ivfLists(spark, sf).count()
    Warehouse.upsertIvf(spark, sf, batchMod = 17)
    spark.catalog.refreshTable(Warehouse.tbl(sf, "graft_ivf_lists"))
    // append-only: every standing data file survives BIT-IDENTICAL —
    // the upsert never rewrote or re-shuffled the standing postings
    val after = dataFiles()
    assert(before.keySet.subsetOf(after.keySet))
    before.foreach { case (p, sig) => assert(after(p) == sig, p) }
    assert(after.size > before.size, "upsert appended no files")
    // rows grew by exactly the batch's memberships (one wide posting
    // row per (vector, cell) since the round-17 layout)
    val emb = Tables.embeddings(spark, sf)
    val nBatch = emb.filter(pmod(col("vec_id"), lit(17)) === 0).count()
    val rowsAfter = Warehouse.ivfLists(spark, sf).count()
    assert(rowsAfter == rowsBefore + nBatch * 4,  // nAssign=4
      s"$rowsBefore -> $rowsAfter for $nBatch batch vectors")
    // probe-after-upsert answers EXACTLY what the one-shot incremental
    // query computes (same frozen corpus-trained routing)
    val fromIndex = Warehouse.annIvfFlatIndexed(spark, sf)
      .collect().toSeq.map(_.toString)
    val oneShot = graft.operators.SimOps.annIvfIncremental(spark, sf)
      .collect().toSeq.map(_.toString)
    assert(fromIndex == oneShot && fromIndex.nonEmpty)
    // leave a full default index behind for any test that runs after
    Warehouse.buildIvf(spark, sf)
  }

  test("p11 landed index: probe never re-shards the standing corpus, identical to one-shot") {
    Warehouse.buildMinhash(spark, sf)
    val indexed = Warehouse.incrementalMinhashIndexed(spark, sf)
    val got = nodes(indexed) // collects + walks the finalized plan
    val result = indexed.collect().toSeq.map(_.toString)
    val oneShot = graft.operators.DedupOps.incrementalMinhash(spark, sf)
      .collect().toSeq.map(_.toString)
    assert(result == oneShot && result.nonEmpty)
    // the "no re-sharding" contract: an index-table scan may reach a
    // shuffle exchange ONLY through a BroadcastHashJoin (the probe —
    // past it the data is candidate-sized, not corpus-sized). A
    // shuffle whose subtree holds an index scan with NO intervening
    // broadcast join means the standing corpus itself re-sharded.
    def reshards(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      if (p.nodeName.contains("BroadcastHashJoin")) false
      else if (p.children.isEmpty && p.toString.contains("graft_minhash")) true
      else org.apache.spark.sql.graftbridge.planChildren(p).exists(reshards)
    val offending = got.filter(p => p.isInstanceOf[ShuffleExchangeLike] &&
      org.apache.spark.sql.graftbridge.planChildren(p).exists(reshards))
    assert(offending.isEmpty,
      s"standing index re-sharded:\n${offending.map(_.nodeName).mkString("\n")}")
    // non-vacuity: the walker must actually see exchanges somewhere in
    // the probe plan (the arriving batch's own aggregates shuffle)
    assert(got.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "plan walk saw no exchanges at all — walker broken?")
  }

  test("c12 landed bloom index: probe never reads the history corpus, identical to one-shot") {
    Warehouse.buildBloom(spark, sf)
    val indexed = Warehouse.bloomDedupIndexed(spark, sf)
    val got = nodes(indexed)
    val result = indexed.collect().toSeq.map(_.toString)
    val oneShot = graft.operators.DedupOps.bloomDedup(spark, sf)
      .collect().toSeq.map(_.toString)
    assert(result == oneShot && result.nonEmpty)
    // the probe's only scans are the arriving batch (documents, for
    // its own fingerprints) and the landed store — and the store may
    // reach a shuffle only through the broadcast verify join (same
    // contract as the p11 landed test)
    def reshards(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      if (p.nodeName.contains("BroadcastHashJoin")) false
      else if (p.children.isEmpty && p.toString.contains("graft_bloom")) true
      else org.apache.spark.sql.graftbridge.planChildren(p).exists(reshards)
    val offending = got.filter(p => p.isInstanceOf[ShuffleExchangeLike] &&
      org.apache.spark.sql.graftbridge.planChildren(p).exists(reshards))
    assert(offending.isEmpty,
      s"landed bloom store re-sharded:\n${offending.map(_.nodeName).mkString("\n")}")
  }

  test("f7 landed phash index: probe never re-reads the catalog, identical to one-shot") {
    Warehouse.buildPhash(spark, sf)
    val indexed = Warehouse.imageNearDupIndexed(spark, sf)
    val got = nodes(indexed)
    val result = indexed.collect().toSeq.map(_.toString)
    val oneShot = graft.operators.MultimodalOps
      .imageNearDupIncremental(spark, sf)
      .collect().toSeq.map(_.toString)
    assert(result == oneShot && result.nonEmpty)
    // the landed band index and signature store may reach a shuffle
    // only through broadcast joins (the c12 probe contract)
    def reshards(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      if (p.nodeName.contains("BroadcastHashJoin")) false
      else if (p.children.isEmpty && p.toString.contains("graft_phash")) true
      else org.apache.spark.sql.graftbridge.planChildren(p).exists(reshards)
    val offending = got.filter(p => p.isInstanceOf[ShuffleExchangeLike] &&
      org.apache.spark.sql.graftbridge.planChildren(p).exists(reshards))
    assert(offending.isEmpty,
      s"landed phash store re-sharded:\n${offending.map(_.nodeName).mkString("\n")}")
  }

  test("f8b landed audio index: probe never re-reads the catalog, identical to one-shot") {
    Warehouse.buildAudio(spark, sf)
    val indexed = Warehouse.audioNearDupIndexed(spark, sf)
    val got = nodes(indexed)
    val result = indexed.collect().toSeq.map(_.toString)
    val oneShot = graft.operators.MultimodalOps
      .audioNearDupIncremental(spark, sf)
      .collect().toSeq.map(_.toString)
    assert(result == oneShot && result.nonEmpty)
    // the landed band index and signature store may reach a shuffle
    // only through broadcast joins (the c12/f7 probe contract)
    def reshards(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      if (p.nodeName.contains("BroadcastHashJoin")) false
      else if (p.children.isEmpty && p.toString.contains("graft_audio")) true
      else org.apache.spark.sql.graftbridge.planChildren(p).exists(reshards)
    val offending = got.filter(p => p.isInstanceOf[ShuffleExchangeLike] &&
      org.apache.spark.sql.graftbridge.planChildren(p).exists(reshards))
    assert(offending.isEmpty,
      s"landed audio store re-sharded:\n${offending.map(_.nodeName).mkString("\n")}")
  }

  test("bucketed d7 semi join is exchange-free and result-identical to plain d7") {
    Warehouse.buildAnn(spark, sf)
    val bucketed = Warehouse.annFilteredBucketed(spark, sf)
    val raw = graft.operators.SimOps.annFiltered(spark, sf)
    assert(bucketed.collect().toSeq == raw.collect().toSeq)
    // the candidate semi join itself must not shuffle either side.
    // Disable auto-broadcast so the assertion exercises the bucketed
    // sort-merge path (at test SF the filtered documents side is small
    // enough to broadcast, which would pass vacuously).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val semiOnly = Warehouse.embeddingsB(spark, sf)
        .join(Warehouse.documentsB(spark, sf)
                .filter(col("lang") === "en").select(col("doc_id")),
              col("vec_id") === col("doc_id"), "left_semi")
        .select(col("vec_id"))
      assert(shuffleCount(semiOnly) == 0,
        "bucketed documents-embeddings semi join should not shuffle")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def tableDataFiles(table: String): Map[String, (Long, String)] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(wh, Warehouse.tbl(sf, table)))
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val md = java.security.MessageDigest.getInstance("MD5")
        f.getPath -> (f.length(), md.digest(bytes).map("%02x".format(_)).mkString)
      }.toMap
  }

  test("e16b landed postings: bucket-pruned probe, identical to one-shot e16") {
    Warehouse.buildPostings(spark, sf)
    val indexed = Warehouse.bm25Indexed(spark, sf)
    // the probe's broadcast term join hits the tb PARTITION column —
    // dynamic partition pruning must open only the buckets the query
    // terms hash into, never the whole index
    val plan = indexed.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning"),
      "posting probe did not produce a dynamic partition pruning filter")
    val fromIndex = indexed.collect().toSeq.map(_.toString)
    val oneShot = graft.operators.RetrievalOps.bm25Search(spark, sf)
      .collect().toSeq.map(_.toString)
    assert(fromIndex == oneShot && fromIndex.nonEmpty)
    // freshness gate: matching params reuse, changed params rebuild
    val built = tableDataFiles("graft_post_lists").keySet
    Warehouse.ensurePostings(spark, sf)
    assert(tableDataFiles("graft_post_lists").keySet == built,
      "matching-params ensurePostings rebuilt the index")
    Warehouse.ensurePostings(spark, sf, excludeMod = 10)
    assert(tableDataFiles("graft_post_lists").keySet != built,
      "changed-params ensurePostings did not rebuild")
    Warehouse.buildPostings(spark, sf) // restore the full index
  }

  test("posting upsert: append-only batch maintenance, probe equals full one-shot") {
    // standing index: everything except the arriving batch (doc_id % 10)
    Warehouse.buildPostings(spark, sf, excludeMod = 10)
    val before = tableDataFiles("graft_post_lists")
    val statsBefore = tableDataFiles("graft_post_stats")
    Warehouse.upsertPostings(spark, sf, batchMod = 10, batchKey = 7L)
    spark.catalog.refreshTable(Warehouse.tbl(sf, "graft_post_lists"))
    spark.catalog.refreshTable(Warehouse.tbl(sf, "graft_post_stats"))
    // append-only: every standing data file survives BIT-IDENTICAL
    val after = tableDataFiles("graft_post_lists")
    assert(before.keySet.subsetOf(after.keySet))
    before.foreach { case (p, sig) => assert(after(p) == sig, p) }
    assert(after.size > before.size, "upsert appended no posting files")
    val statsAfter = tableDataFiles("graft_post_stats")
    statsBefore.foreach { case (p, sig) => assert(statsAfter(p) == sig, p) }
    assert(statsAfter.size > statsBefore.size, "upsert added no stats row")
    // probe-after-upsert ≡ the one-shot over the FULL corpus (N, avgdl
    // fold across the two stats rows exactly; postings disjoint union)
    val fromIndex = graft.operators.RetrievalOps
      .bm25SearchIndexedUnchecked(spark, sf)
      .collect().toSeq.map(_.toString)
    val oneShot = graft.operators.RetrievalOps.bm25Search(spark, sf)
      .collect().toSeq.map(_.toString)
    assert(fromIndex == oneShot && fromIndex.nonEmpty)
    // a REPLAY of the same batchKey must be a no-op in content
    // (dynamic overwrite of its own partitions — exactly-once)
    val rowsAfter = spark.table(Warehouse.tbl(sf, "graft_post_lists")).count()
    Warehouse.upsertPostings(spark, sf, batchMod = 10, batchKey = 7L)
    spark.catalog.refreshTable(Warehouse.tbl(sf, "graft_post_lists"))
    assert(spark.table(Warehouse.tbl(sf, "graft_post_lists")).count() == rowsAfter,
      "replayed upsert changed posting row count")
    val replayProbe = graft.operators.RetrievalOps
      .bm25SearchIndexedUnchecked(spark, sf)
      .collect().toSeq.map(_.toString)
    assert(replayProbe == oneShot)
    Warehouse.buildPostings(spark, sf) // restore the full index
  }

  test("ensure* gates key on data content: rebuild on change, not on re-land") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // a private corpus copy this test can mutate
    val tmp = Files.createTempDirectory("graft_fp_").toString
    Seq("documents.parquet", "embeddings.parquet").foreach { f =>
      Files.copy(Paths.get(sf, f), Paths.get(tmp, f),
                 StandardCopyOption.REPLACE_EXISTING)
    }
    def postFiles(): Set[String] = {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(wh, Warehouse.tbl(tmp, "graft_post_lists")))
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    }
    Warehouse.ensurePostings(spark, tmp)
    val built = postFiles()
    assert(built.nonEmpty)
    // byte-identical re-land (fresh mtime): fingerprint is
    // content-derived, so the gate must NOT rebuild
    Files.copy(Paths.get(sf, "documents.parquet"),
               Paths.get(tmp, "documents.parquet"),
               StandardCopyOption.REPLACE_EXISTING)
    Warehouse.ensurePostings(spark, tmp)
    assert(postFiles() == built,
      "byte-identical re-land forced a rebuild (fingerprint not content-derived)")
    // rewrite the corpus at the SAME path (drop one doc): the stale
    // (dir, params) key would serve the old index silently — the
    // fingerprinted key must force a rebuild, and the probe must see
    // the new corpus
    val probeBefore = Warehouse.bm25Indexed(spark, tmp)
      .collect().toSeq.map(_.toString)
    val mutTmp = Files.createTempDirectory("graft_fp_mut_").toString
    Tables.documents(spark, tmp).filter(col("doc_id") =!= 0L)
      .coalesce(1).write.mode("overwrite").parquet(mutTmp)
    val part = {
      val l = Files.list(Paths.get(mutTmp))
      try l.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally l.close()
    }
    Files.copy(part, Paths.get(tmp, "documents.parquet"),
               StandardCopyOption.REPLACE_EXISTING)
    Warehouse.ensurePostings(spark, tmp)
    assert(postFiles() != built,
      "corpus rewrite at the same path did not force a rebuild")
    val probeAfter = Warehouse.bm25Indexed(spark, tmp)
      .collect().toSeq.map(_.toString)
    // the rebuilt index answers over the mutated corpus: stats (N)
    // changed, so scores differ even if the top lists coincide
    assert(probeAfter.nonEmpty && probeAfter != probeBefore)
    Seq("graft_post_lists", "graft_post_stats").foreach(
      t => spark.sql(s"DROP TABLE IF EXISTS ${Warehouse.tbl(tmp, t)}"))
  }

  test("upsert coverage guard + upsert-blind gate detection") {
    // a full (excl=0) posting build admits no upserts: the dir-based
    // upsert must refuse (double-count hazard)...
    Warehouse.buildPostings(spark, sf)
    val e = intercept[IllegalArgumentException] {
      Warehouse.upsertPostings(spark, sf, batchMod = 10)
    }
    assert(e.getMessage.contains("double-count"))
    // ...and if a batch lands anyway (streaming form takes arbitrary
    // frames), the freshness gate must detect the extra batch
    // partition and rebuild instead of serving the corrupted index
    Warehouse.upsertPostingsFrom(
      Tables.documents(spark, sf)
        .filter(pmod(col("doc_id"), lit(10)) === 0), sf, batchKey = 99L)
    spark.catalog.refreshTable(Warehouse.tbl(sf, "graft_post_stats"))
    val statsRows = spark.table(Warehouse.tbl(sf, "graft_post_stats")).count()
    assert(statsRows == 2L, "upsert did not land its stats row")
    Warehouse.ensurePostings(spark, sf) // must rebuild (batch set != {-1})
    assert(spark.table(Warehouse.tbl(sf, "graft_post_stats")).count() == 1L,
      "gate served an index with a foreign batch partition as fresh")
    // the mirrored guard on the vector side
    Warehouse.buildIvf(spark, sf, kmeansIters = 0)
    val e2 = intercept[IllegalArgumentException] {
      Warehouse.upsertIvf(spark, sf, batchMod = 17)
    }
    assert(e2.getMessage.contains("double-count"))
    Warehouse.buildIvf(spark, sf) // restore defaults for later suites
  }

  test("two corpus dirs coexist: namespaced indexes never cross-rebuild") {
    // the round-12 bench/warehouse collision: two dirs sharing one
    // spark-warehouse thrashed each other's fixed-name indexes through
    // the freshness gates. With per-corpus namespacing each dir owns a
    // disjoint table set, so alternating ensure* calls must touch
    // NOTHING of the other dir's index.
    val dirB = "/root/testdata/sf0.001" // == sf; use a distinct path form
    val dir2 = sf.stripSuffix("0.001") + "0.001/../sf0.001"
    // canonicalization: a cosmetic path variant is the SAME corpus
    assert(Warehouse.ns(dirB) == Warehouse.ns(dir2),
      "path canonicalization failed — same dir got two namespaces")
    val other = "/root/testdata/sf0.01"
    assert(Warehouse.ns(sf) != Warehouse.ns(other))
    Warehouse.buildPostings(spark, sf)
    Warehouse.buildPostings(spark, other)
    def files(dir: String): Map[String, (Long, String)] = {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(wh, Warehouse.tbl(dir, "graft_post_lists")))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified().toString)).toMap
    }
    val mine = files(sf)
    val theirs = files(other)
    assert(mine.nonEmpty && theirs.nonEmpty)
    assert(mine.keySet.intersect(theirs.keySet).isEmpty,
      "namespaced indexes share data files")
    // alternating freshness gates: neither dir's gate rebuilds the other
    Warehouse.ensurePostings(spark, sf)
    Warehouse.ensurePostings(spark, other)
    Warehouse.ensurePostings(spark, sf)
    assert(files(sf) == mine, "alternating ensure rebuilt dir A's index")
    assert(files(other) == theirs, "alternating ensure rebuilt dir B's index")
    // and both probes answer from their own corpus (different row sets)
    val a = Warehouse.bm25Indexed(spark, sf).collect().toSeq.map(_.toString)
    val b = Warehouse.bm25Indexed(spark, other).collect().toSeq.map(_.toString)
    assert(a.nonEmpty && b.nonEmpty && a != b)
    // cleanup: drop the other dir's tables so later suites see only sf's
    Seq("graft_post_lists", "graft_post_stats").foreach(
      t => spark.sql(s"DROP TABLE IF EXISTS ${Warehouse.tbl(other, t)}"))
  }

  test("ensureIvf freshness gate + d12 identity with the one-shot d10") {
    def dataFiles(): Set[String] = {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(wh, Warehouse.tbl(sf, "graft_ivf_lists")))
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    }
    Warehouse.ensureIvf(spark, sf, kmeansIters = 0)
    val built = dataFiles()
    assert(built.nonEmpty)
    // matching params: the gate must NOT rebuild (same files on disk)
    Warehouse.ensureIvf(spark, sf, kmeansIters = 0)
    assert(dataFiles() == built, "matching-params ensureIvf rebuilt the index")
    // d12 = the landed probe at d10's registered parameters — the
    // exact rows the one-shot d10 (and its DuckDB oracle) produce
    val viaIndex = Warehouse.annIndexed(spark, sf)
      .collect().toSeq.map(_.toString)
    val oneShot = graft.operators.SimOps.annIvfPq(spark, sf)
      .collect().toSeq.map(_.toString)
    assert(viaIndex.nonEmpty && viaIndex == oneShot)
    // changed params: the metadata mismatch must force a rebuild
    Warehouse.ensureIvf(spark, sf, kmeansIters = 1)
    assert(dataFiles() != built, "changed-params ensureIvf did not rebuild")

    // ---- the persisted nlist RULE (round 13) ----
    // rule arithmetic first
    assert(Warehouse.resolveNlist("fixed:64", 1000000L) == 64)
    assert(Warehouse.resolveNlist("sqrt:64@2000", 2000L) == 64)
    assert(Warehouse.resolveNlist("sqrt:64@2000", 200000L) == 640)
    assert(Warehouse.resolveNlist("sqrt:64@2000", 500L) == 64, "floor at base")
    intercept[IllegalArgumentException](Warehouse.resolveNlist("bogus", 1L))
    // a ruled build lands its rule in the metadata and gates on it:
    // same rule → reuse; fixed at the same resolved nlist → REBUILD
    // (a ruled index and a pinned one are different deployment states)
    val n = sources.Tables.embeddings(spark, sf).count()
    val rule = s"sqrt:64@$n" // resolves to 64 at this SF — same size
    Warehouse.ensureIvf(spark, sf, kmeansIters = 0, nlistRule = rule)
    assert(Warehouse.landedNlistRule(spark, sf) == rule)
    val ruled = dataFiles()
    Warehouse.ensureIvf(spark, sf, kmeansIters = 0, nlistRule = rule)
    assert(dataFiles() == ruled, "same-rule ensureIvf rebuilt the index")
    Warehouse.ensureIvf(spark, sf, kmeansIters = 0)
    assert(dataFiles() != ruled, "rule mismatch did not force a rebuild")
    assert(Warehouse.landedNlistRule(spark, sf) == "fixed:64")
  }
}
