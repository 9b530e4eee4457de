package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, MultimodalOps, RetrievalOps, TextOps}
import graft.sources.{Tables, Warehouse}

/** Round-14 deletion/retraction + compaction contract:
  *
  *  - a doc passed to Warehouse.deleteDocs (live scope) surfaces in NO
  *    landed probe — postings/BM25, IVF, minhash, bloom, phash, audio,
  *    NB scoring — immediately, with no index rewrite;
  *  - BM25 stats stay EXACT: the tombstoned probe is row-identical to
  *    the one-shot over a corpus that never held the deleted docs;
  *  - standing index files are untouched by a delete (tombstones are a
  *    layer, not a rewrite) and a replayed delete batch is a no-op;
  *  - compactPostings/compactIvf fold batch partitions into one base
  *    generation and PHYSICALLY purge live-tombstoned rows with
  *    probe-identity before/after.
  *
  * Runs on a private corpus copy (own warehouse namespace), so the
  * shared-fixture suites never see these tombstones.
  */
class DeletionSpec extends SparkSpec {

  private lazy val tmpDir: String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val d = Files.createTempDirectory("graft_del_").toString
    Seq("documents.parquet", "embeddings.parquet").foreach { f =>
      Files.copy(Paths.get(sf, f), Paths.get(d, f),
                 StandardCopyOption.REPLACE_EXISTING)
    }
    d
  }

  /** A second corpus with `docIds` physically absent — the
    * ground-truth world the tombstone layer must be indistinguishable
    * from (documents only; enough for the text-side identities).
    */
  private def filteredCorpus(docIds: Seq[Long]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_delref_").toString
    Tables.documents(spark, tmpDir)
      .filter(!col("doc_id").isin(docIds: _*))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/documents.parquet")
    d
  }

  private def tableFiles(base: String): Map[String, (Long, String)] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(wh, Warehouse.currentTable(spark, tmpDir, base)))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> ((f.length(), f.lastModified().toString))).toMap
  }

  private def strs(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  test("BM25: tombstoned probe ≡ one-shot over the never-held-them corpus; files untouched; replay no-op") {
    Warehouse.ensurePostings(spark, tmpDir)
    val pre = strs(Warehouse.bm25Indexed(spark, tmpDir))
    // delete docs that actually SERVE (appear in pre-delete results),
    // plus one that may not — absence must hold for both
    val served = Warehouse.bm25Indexed(spark, tmpDir)
      .select(col("doc_id")).distinct().orderBy(col("doc_id")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    val victims = (served :+ 499L).distinct
    val filesBefore = tableFiles("graft_post_lists")
    Warehouse.deleteDocIds(spark, tmpDir, victims)
    assert(tableFiles("graft_post_lists") == filesBefore,
      "deleteDocs rewrote standing posting files (must be a layer, not a rewrite)")
    val post = Warehouse.bm25Indexed(spark, tmpDir)
    assert(strs(post) != pre, "deletion of served docs changed nothing")
    assert(post.filter(col("doc_id").isin(victims: _*)).count() == 0,
      "a deleted doc surfaced from the BM25 probe")
    // EXACT identity with a world that never held the victims: same
    // top-k, same scores (N/avgdl re-summed through the stats delta,
    // df re-counted under the anti-join)
    val ref = filteredCorpus(victims)
    assert(strs(post) == strs(RetrievalOps.bm25Search(spark, ref)),
      "tombstoned probe drifted from the physically-filtered one-shot")
    // replayed delete batch (same batchKey): content no-op
    Warehouse.deleteDocIds(spark, tmpDir, victims)
    assert(strs(Warehouse.bm25Indexed(spark, tmpDir)) == strs(post))
    assert(spark.table(Warehouse.currentTable(spark, tmpDir, "graft_tombstones"))
             .filter(col("scope") === Warehouse.LiveScope).count() ==
           victims.size.toLong)
    // overlapping SECOND batch must not double-subtract stats: the
    // probe still matches the filtered world with the union removed
    val more = victims.take(1) ++ Seq(497L)
    Warehouse.deleteDocIds(spark, tmpDir, more, batchKey = 1L)
    val ref2 = filteredCorpus((victims ++ more).distinct)
    assert(strs(Warehouse.bm25Indexed(spark, tmpDir)) ==
           strs(RetrievalOps.bm25Search(spark, ref2)),
      "overlapping delete batches corrupted the stats delta")
  }

  test("first delete vs a probe: an in-flight tombstone write is never registered") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_delrace_").toString
    Files.copy(Paths.get(sf, "documents.parquet"),
               Paths.get(dir, "documents.parquet"))
    Warehouse.ensurePostings(spark, dir)
    val victim = Warehouse.bm25Indexed(spark, dir)
      .select(col("doc_id")).orderBy(col("doc_id")).limit(1)
      .collect()(0).getLong(0)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val tomb = Warehouse.tbl(dir, "graft_tombstones")
    val loc = new java.io.File(wh, tomb)
    // what the store's first delete leaves mid-write: the location
    // exists, its job has not committed (`_temporary/`, no `_SUCCESS`)
    val attempt = new java.io.File(loc,
      "_temporary/0/_temporary/attempt_0/scope=live/batch_id=0")
    assert(attempt.mkdirs() &&
           new java.io.File(attempt, "part-00000.parquet").createNewFile())
    assert(Warehouse.tombstoneIds(spark, dir, Warehouse.LiveScope).isEmpty,
      "a probe read an uncommitted tombstone write as the tombstone set")
    assert(!spark.catalog.tableExists(tomb),
      "a probe registered the in-flight location (the writer's own " +
        "table creation then fails with TABLE_OR_VIEW_ALREADY_EXISTS)")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(loc)
    // on a clean location the first delete lands and hides the doc
    Warehouse.deleteDocIds(spark, dir, Seq(victim))
    assert(Warehouse.tombstoneIds(spark, dir, Warehouse.LiveScope).get
             .collect().map(_.getLong(0)).toSeq == Seq(victim))
    assert(Warehouse.bm25Indexed(spark, dir)
             .filter(col("doc_id") === victim).isEmpty,
      "the first delete did not hide the doc from the BM25 probe")
  }

  test("IVF: deleted vectors leave every landed ANN surface; compactIvf purge is probe-identical") {
    Warehouse.ensureIvf(spark, tmpDir, kmeansIters = 0)
    val victims = Warehouse.annIndexed(spark, tmpDir)
      .select(col("cand_id")).distinct().orderBy(col("cand_id")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    Warehouse.deleteDocIds(spark, tmpDir, victims, batchKey = 2L)
    val flat = Warehouse.annIvfFlatIndexed(spark, tmpDir)
    val pq = Warehouse.annIndexed(spark, tmpDir)
    Seq(flat, pq).foreach { df =>
      assert(df.filter(col("cand_id").isin(victims: _*)).count() == 0,
        "a deleted vector surfaced from an ANN probe")
    }
    val pqRows = strs(pq)
    // physical purge: identical probe results, victims gone from disk
    Warehouse.compactIvf(spark, tmpDir)
    spark.catalog.refreshTable(Warehouse.currentTable(spark, tmpDir, "graft_ivf_lists"))
    assert(strs(Warehouse.annIndexed(spark, tmpDir)) == pqRows,
      "compactIvf changed probe results")
    assert(spark.table(Warehouse.currentTable(spark, tmpDir, "graft_ivf_lists"))
             .filter(col("vec_id").isin(victims: _*)).count() == 0,
      "compactIvf left tombstoned vectors on disk")
  }

  test("band/sketch gates: a tombstoned standing doc never labels an arriving one") {
    Warehouse.ensureMinhash(spark, tmpDir)
    Warehouse.ensureBloom(spark, tmpDir)
    Warehouse.ensurePhash(spark, tmpDir)
    Warehouse.ensureAudio(spark, tmpDir)
    def partners(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.filter(col("dup_of").isNotNull).select(col("dup_of"))
        .distinct().collect().map(_.getLong(0)).toSeq
    val pre = Seq(
      Warehouse.incrementalMinhashIndexed(spark, tmpDir),
      Warehouse.bloomDedupIndexed(spark, tmpDir),
      Warehouse.imageNearDupIndexed(spark, tmpDir),
      Warehouse.audioNearDupIndexed(spark, tmpDir)).map(df => (df, partners(df)))
    val victims = pre.flatMap(_._2).distinct.sorted.take(6)
    assert(victims.nonEmpty, "vacuous: no probe produced a dup partner")
    Warehouse.deleteDocIds(spark, tmpDir, victims, batchKey = 3L)
    val post = Seq(
      Warehouse.incrementalMinhashIndexed(spark, tmpDir),
      Warehouse.bloomDedupIndexed(spark, tmpDir),
      Warehouse.imageNearDupIndexed(spark, tmpDir),
      Warehouse.audioNearDupIndexed(spark, tmpDir))
    post.zip(pre).foreach { case (df, (preDf, _)) =>
      assert(df.filter(col("dup_of").isin(victims: _*)).count() == 0,
        "a deleted standing doc still labels arriving docs")
      // every arriving doc still gets a verdict row (deletion thins
      // partners, never the batch)
      assert(df.count() == preDf.count())
    }
  }

  test("NB quality: deletion retrains the model and unscores the doc") {
    Warehouse.ensureNbModel(spark, tmpDir)
    val scoredPre = TextOps.qualityClassifierIndexed(spark, tmpDir)
    val someDoc = scoredPre.select(col("doc_id")).orderBy(col("doc_id")).limit(1)
      .collect()(0).getLong(0)
    val preW = strs(spark.table(Warehouse.tbl(tmpDir, "graft_nb_weights"))
      .orderBy(col("term")))
    Warehouse.deleteDocIds(spark, tmpDir, Seq(someDoc), batchKey = 4L)
    val scoredPost = TextOps.qualityClassifierIndexed(spark, tmpDir)
    assert(scoredPost.filter(col("doc_id") === someDoc).count() == 0,
      "a deleted doc was still scored/served")
    val postW = strs(spark.table(Warehouse.tbl(tmpDir, "graft_nb_weights"))
      .orderBy(col("term")))
    assert(postW != preW,
      "live deletion did not retrain the NB model (its counts still include the doc)")
    // identity with the never-held-them world (weights AND scored
    // set): the reference filters EVERY live tombstone, since the
    // model excludes them all
    val allLive = spark.table(Warehouse.currentTable(spark, tmpDir, "graft_tombstones"))
      .filter(col("scope") === Warehouse.LiveScope)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val ref = filteredCorpus(allLive)
    assert(strs(scoredPost) == strs(TextOps.qualityClassifier(spark, ref)),
      "retrained scoring drifted from the physically-filtered one-shot")
  }

  test("streamed deletion drain: probes exclude after drain; restart deletes nothing twice") {
    import java.nio.file.Files
    // a fresh corpus copy so earlier tests' live tombstones don't mix
    // into this test's filtered-world reference
    val dir = {
      val d = Files.createTempDirectory("graft_sdel_").toString
      Seq("documents.parquet", "embeddings.parquet").foreach { f =>
        Files.copy(java.nio.file.Paths.get(sf, f),
                   java.nio.file.Paths.get(d, f))
      }
      d
    }
    Warehouse.ensurePostings(spark, dir)
    val victims = Warehouse.bm25Indexed(spark, dir)
      .select(col("doc_id")).distinct().orderBy(col("doc_id")).limit(4)
      .collect().map(_.getLong(0)).toSeq
    // land the deletion feed as TWO files -> two micro-batches
    val landing = Files.createTempDirectory("graft_sdel_landing")
    victims.grouped(2).zipWithIndex.foreach { case (ids, i) =>
      import spark.implicits._
      val part = Files.createTempDirectory(s"graft_sdel_p$i")
      ids.toDF("doc_id").coalesce(1).write.mode("overwrite")
        .parquet(part.toString)
      val src = Files.list(part)
      val f = try src.filter(_.toString.endsWith(".parquet")).findFirst().get()
              finally src.close()
      Files.copy(f, landing.resolve(s"b$i.parquet"))
    }
    val ckpt = Files.createTempDirectory("graft_sdel_ckpt").toString
    def drain(): Unit = {
      val src = spark.readStream
        .schema("doc_id BIGINT")
        .option("maxFilesPerTrigger", "1").parquet(landing.toString)
      graft.streaming.CorpusStream.maintainTombstones(src, dir, ckpt)
        .awaitTermination()
    }
    drain()
    val post = Warehouse.bm25Indexed(spark, dir)
    assert(post.filter(col("doc_id").isin(victims: _*)).count() == 0,
      "a stream-deleted doc still serves")
    // exact identity with the never-held-them world (per-batch stats
    // deltas summed across the two micro-batches)
    val ref = filteredCorpus(victims)
    assert(strs(post) == strs(RetrievalOps.bm25Search(spark, ref)),
      "streamed deletion drifted from the physically-filtered one-shot")
    // restart on the same checkpoint: nothing new arrives, nothing
    // changes (exactly-once)
    val rows = strs(post)
    drain()
    assert(strs(Warehouse.bm25Indexed(spark, dir)) == rows)
    assert(spark.table(Warehouse.currentTable(spark, dir, "graft_tombstones")).count() ==
           victims.size.toLong)
  }

  test("undeleteDocs: exact restore while physical; purged ids need explicit re-ingest") {
    import java.nio.file.{Files, Paths}
    val dir = {
      val d = Files.createTempDirectory("graft_undel_").toString
      Seq("documents.parquet", "embeddings.parquet").foreach { f =>
        Files.copy(Paths.get(sf, f), Paths.get(d, f))
      }
      d
    }
    Warehouse.ensurePostings(spark, dir)
    val pre = strs(Warehouse.bm25Indexed(spark, dir))
    val victims = Warehouse.bm25Indexed(spark, dir)
      .select(col("doc_id")).distinct().orderBy(col("doc_id")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    import spark.implicits._
    Warehouse.deleteDocIds(spark, dir, victims)
    assert(strs(Warehouse.bm25Indexed(spark, dir)) != pre)
    // logical restore: rows were never touched, so service and STATS
    // come back exactly (the compensating delta nets the delete's out)
    assert(Warehouse.undeleteDocs(spark, dir, victims.toDF("doc_id")) ==
           ((victims.size.toLong, 0L)))
    spark.catalog.refreshTable(Warehouse.currentTable(spark, dir, "graft_tombstones"))
    assert(strs(Warehouse.bm25Indexed(spark, dir)) == pre,
      "undelete did not restore the exact pre-delete state")
    // replay / never-deleted: no-ops, state still exact
    assert(Warehouse.undeleteDocs(spark, dir, victims.toDF("doc_id")) == ((0L, 0L)))
    assert(Warehouse.undeleteDocs(spark, dir, Seq(victims.max + 7).toDF("doc_id")) == ((0L, 0L)))
    assert(strs(Warehouse.bm25Indexed(spark, dir)) == pre)
    // physically purged: undelete cannot fabricate data — it reports
    // needs-reingest, and an explicit re-ingest completes the restore
    Warehouse.deleteDocIds(spark, dir, victims, batchKey = 2L)
    Warehouse.compactPostings(spark, dir)
    Seq("graft_post_lists", "graft_post_stats").foreach(
      t => spark.catalog.refreshTable(Warehouse.currentTable(spark, dir, t)))
    assert(Warehouse.undeleteDocs(spark, dir, victims.toDF("doc_id"), batchKey = 1L) ==
           ((0L, victims.size.toLong)))
    spark.catalog.refreshTable(Warehouse.currentTable(spark, dir, "graft_tombstones"))
    val gone = RetrievalOps.bm25SearchIndexedUnchecked(spark, dir)
    assert(gone.filter(col("doc_id").isin(victims: _*)).count() == 0,
      "undelete fabricated physically-purged rows")
    Warehouse.upsertPostingsFrom(
      Tables.documents(spark, dir).filter(col("doc_id").isin(victims: _*)),
      dir, batchKey = 77L)
    spark.catalog.refreshTable(Warehouse.currentTable(spark, dir, "graft_post_lists"))
    spark.catalog.refreshTable(Warehouse.currentTable(spark, dir, "graft_post_stats"))
    assert(strs(RetrievalOps.bm25SearchIndexedUnchecked(spark, dir)) == pre,
      "re-ingest after undelete did not restore the exact original state")
  }

  test("vacuumTombstones prunes only ids gone from BOTH re-entry surfaces") {
    import java.nio.file.{Files, Paths}
    val dir = {
      val d = Files.createTempDirectory("graft_vac_").toString
      Seq("documents.parquet", "embeddings.parquet").foreach { f =>
        Files.copy(Paths.get(sf, f), Paths.get(d, f))
      }
      d
    }
    Warehouse.ensurePostings(spark, dir)
    Warehouse.ensureIvf(spark, dir, kmeansIters = 0)
    val victim = Warehouse.bm25Indexed(spark, dir)
      .select(col("doc_id")).distinct().orderBy(col("doc_id")).limit(1)
      .collect()(0).getLong(0)
    Warehouse.deleteDocIds(spark, dir, Seq(victim))
    Warehouse.deleteDocIds(spark, dir, Seq(victim + 1), scope = "whatif")
    // still in corpus AND landed stores: must NOT prune (a prune here
    // would re-admit the doc at the next rebuild / next probe)
    assert(Warehouse.vacuumTombstones(spark, dir) == 0L)
    // physically purged from the landed stores, but still in the
    // corpus: a fingerprint-keyed rebuild would re-admit it — still
    // must NOT prune
    Warehouse.compactPostings(spark, dir)
    Warehouse.compactIvf(spark, dir)
    Seq("graft_post_lists", "graft_post_stats", "graft_ivf_lists").foreach(
      t => spark.catalog.refreshTable(Warehouse.currentTable(spark, dir, t)))
    assert(Warehouse.vacuumTombstones(spark, dir) == 0L)
    val probeBefore = strs(RetrievalOps.bm25SearchIndexedUnchecked(spark, dir))
    // upstream hard-deletes the raw data (retention): now the
    // tombstone protects nothing and is prunable
    Seq(("documents", "doc_id"), ("embeddings", "vec_id")).foreach {
      case (t, k) =>
        val stage = Files.createTempDirectory(s"graft_vac_$t").toString
        Tables.table(spark, dir, t).filter(col(k) =!= victim)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        Files.delete(Paths.get(dir, s"$t.parquet"))
        Files.move(Paths.get(stage), Paths.get(dir, s"$t.parquet"))
    }
    assert(Warehouse.vacuumTombstones(spark, dir) == 1L)
    spark.catalog.refreshTable(Warehouse.currentTable(spark, dir, "graft_tombstones"))
    val tomb = spark.table(Warehouse.currentTable(spark, dir, "graft_tombstones"))
    assert(tomb.filter(col("scope") === Warehouse.LiveScope).count() == 0L,
      "live tombstone not pruned")
    assert(tomb.filter(col("scope") === "whatif").count() == 1L,
      "what-if scope must never be pruned")
    // probes unchanged by the prune (the id is nowhere to serve from)
    assert(strs(RetrievalOps.bm25SearchIndexedUnchecked(spark, dir)) ==
           probeBefore)
    // idempotent
    assert(Warehouse.vacuumTombstones(spark, dir) == 0L)
  }

  test("tombstone anti-join: broadcast under the size threshold, shuffle-sane past it, identical results") {
    import java.nio.file.{Files, Paths}
    val dir = {
      val d = Files.createTempDirectory("graft_tthr_").toString
      Files.copy(Paths.get(sf, "documents.parquet"),
                 Paths.get(d, "documents.parquet"))
      d
    }
    Warehouse.ensurePostings(spark, dir)
    val victims = Warehouse.bm25Indexed(spark, dir)
      .select(col("doc_id")).distinct().orderBy(col("doc_id")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    Warehouse.deleteDocIds(spark, dir, victims)
    def antiJoin(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.sparkPlan.toString.linesIterator
        .filter(_.contains("LeftAnti")).mkString("|")
    val pre = strs(RetrievalOps.bm25SearchIndexedUnchecked(spark, dir))
    // under the threshold: the deletion-sized set broadcasts (hinted,
    // independent of Spark's own auto threshold)
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val autoPrior = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "-1") // so only the graft hint can broadcast
    try {
      spark.conf.set(Warehouse.TombBroadcastKey, (10L << 20).toString)
      val hinted = RetrievalOps.bm25SearchIndexedUnchecked(spark, dir)
      assert(antiJoin(hinted).contains("Broadcast"),
        s"under-threshold tombstone set did not broadcast: ${antiJoin(hinted)}")
      // past the threshold: the hint is withheld — the anti-join
      // becomes a shuffle join of the (partition-pruned, query-bounded)
      // probe side instead of a driver-sized broadcast, and results
      // are identical
      spark.conf.set(Warehouse.TombBroadcastKey, "0")
      val shuffled = RetrievalOps.bm25SearchIndexedUnchecked(spark, dir)
      val line = antiJoin(shuffled)
      assert(line.nonEmpty && !line.contains("Broadcast"),
        s"over-threshold tombstone set still broadcasts: $line")
      assert(strs(shuffled) == pre,
        "shuffle-fallback anti-join changed probe results")
    } finally {
      spark.conf.unset(Warehouse.TombBroadcastKey)
      spark.conf.set(autoKey, autoPrior)
    }
  }

  test("compactPostings folds batches + purges tombstones with probe identity") {
    // standing build that admits upserts, plus one landed batch
    Warehouse.buildPostings(spark, tmpDir, excludeMod = 10)
    Warehouse.upsertPostings(spark, tmpDir, batchMod = 10, batchKey = 7L)
    val victims = RetrievalOps.bm25SearchIndexedUnchecked(spark, tmpDir)
      .select(col("doc_id")).distinct().orderBy(col("doc_id")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    Warehouse.deleteDocIds(spark, tmpDir, victims, batchKey = 5L)
    val pre = strs(RetrievalOps.bm25SearchIndexedUnchecked(spark, tmpDir))
    val filesBefore = tableFiles("graft_post_lists").size
    Warehouse.compactPostings(spark, tmpDir)
    Seq("graft_post_lists", "graft_post_stats").foreach(
      t => spark.catalog.refreshTable(Warehouse.currentTable(spark, tmpDir, t)))
    // one base generation survives
    val parts = spark.sql(
        s"SHOW PARTITIONS ${Warehouse.currentTable(spark, tmpDir, "graft_post_stats")}")
      .collect().map(_.getString(0)).toSeq
    assert(parts == Seq("batch_id=-1"),
      s"compaction left batch partitions: $parts")
    assert(tableFiles("graft_post_lists").size < filesBefore,
      "compaction did not reduce the file count")
    // tombstoned rows are physically gone; probe rows identical
    assert(spark.table(Warehouse.currentTable(spark, tmpDir, "graft_post_lists"))
             .filter(col("doc_id").isin(victims: _*)).count() == 0,
      "compaction left tombstoned postings on disk")
    assert(strs(RetrievalOps.bm25SearchIndexedUnchecked(spark, tmpDir)) == pre,
      "compaction changed probe results")
    // post-compaction delete still exact: stats delta re-derives
    // against the NEW generation
    val more = RetrievalOps.bm25SearchIndexedUnchecked(spark, tmpDir)
      .select(col("doc_id")).distinct().orderBy(col("doc_id")).limit(1)
      .collect().map(_.getLong(0)).toSeq
    Warehouse.deleteDocIds(spark, tmpDir, more, batchKey = 6L)
    assert(RetrievalOps.bm25SearchIndexedUnchecked(spark, tmpDir)
             .filter(col("doc_id").isin(more: _*)).count() == 0)
    // replaying the PRE-compaction delete batch self-heals: its ids
    // are purged, so the recomputed delta is zero and results hold
    val now = strs(RetrievalOps.bm25SearchIndexedUnchecked(spark, tmpDir))
    Warehouse.deleteDocIds(spark, tmpDir, victims, batchKey = 5L)
    assert(strs(RetrievalOps.bm25SearchIndexedUnchecked(spark, tmpDir)) == now,
      "replaying a pre-compaction delete batch corrupted stats")
  }
}
