package graft

import org.apache.spark.sql.functions._
import graft.operators.RetrievalOps
import graft.sources.{Tables, Warehouse}

/** Maintenance-hardening contract:
  *
  *  - crash recovery collects what the manifest protocol can leave
  *    behind — stale commit temp files and uncommitted generation
  *    tables — and is idempotent;
  *  - the compaction quiet-point contract is enforced: a concurrent
  *    upsert landing mid-fold aborts the compaction with the standing
  *    table AND the new batch intact;
  *  - autoMaintain turns the measured small-file spiral into policy:
  *    compact past maxBatches or on pending purges, vacuum after, all
  *    probe-identity-preserving and idempotent.
  *
  * Runs on private corpus copies (own warehouse namespaces), so the
  * shared-fixture suites never see these states.
  */
class MaintenanceSpec extends SparkSpec {

  private def corpusCopy(withEmb: Boolean): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val d = Files.createTempDirectory("graft_maint_").toString
    val tables = if (withEmb) Seq("documents.parquet", "embeddings.parquet")
                 else Seq("documents.parquet")
    tables.foreach { f =>
      Files.copy(Paths.get(sf, f), Paths.get(d, f),
                 StandardCopyOption.REPLACE_EXISTING)
    }
    d
  }

  private def tableFiles(dir: String, base: String): Set[String] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(wh, Warehouse.currentTable(spark, dir, base)))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => s"${f.getPath}|${f.length()}").toSet
  }

  private def strs(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def syntheticDocs(ids: Seq[Long], token: String) = {
    import spark.implicits._
    ids.map(id => (id, s"$token $token filler$id"))
      .toDF("doc_id", "text")
  }

  private def qterm(token: String) = {
    import spark.implicits._
    Seq((1L, token)).toDF("query_id", "term")
  }

  private def partitions(dir: String, base: String): Set[String] =
    spark.sql(s"SHOW PARTITIONS ${Warehouse.currentTable(spark, dir, base)}")
      .collect().map(_.getString(0)).toSet

  /** Posting/IVF generation tables of this corpus namespace that the
    * current manifest does not name, in the catalog or as warehouse
    * directories: what an aborted compaction must never leave behind.
    */
  private def strayGenerations(dir: String): Set[String] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val named = Warehouse.readManifest(spark, dir).tabs.values
      .map(Warehouse.tbl(dir, _)).toSet
    val generation =
      s"graft_(post_lists|post_stats|ivf_lists)__v\\d+_${Warehouse.ns(dir)}"
    (spark.catalog.listTables().collect().map(_.name).toSet ++
      Option(new java.io.File(wh).list()).toSeq.flatten)
      .filter(_.matches(generation)) -- named
  }

  test("recovery GC: stale commit temps and uncommitted generations go, fresh temps stay") {
    val dir = corpusCopy(withEmb = false)
    Warehouse.ensurePostings(spark, dir)
    val version = Warehouse.readManifest(spark, dir).version
    assert(version >= 1L, "fixture: the build must commit a manifest version")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val mdir = new java.io.File(wh, s"_graft_manifest_${Warehouse.ns(dir)}")
    // a crash between a commit's temp write and its link leaks the
    // temp; one written just now may belong to an in-flight commit
    val stale = new java.io.File(mdir, "commit_stale.tmp")
    val fresh = new java.io.File(mdir, "commit_fresh.tmp")
    assert(stale.createNewFile() && fresh.createNewFile())
    assert(stale.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L))
    // a generation staged at a version the manifest has already
    // passed but never committed (crash before the link)
    val orphan = Warehouse.tbl(dir, s"graft_post_lists__v$version")
    spark.table(Warehouse.tbl(dir, "graft_post_lists")).limit(1)
      .write.partitionBy("batch_id", "tb").format("parquet")
      .saveAsTable(orphan)

    val actions = Warehouse.recoverMaintenance(spark, dir)
    assert(actions.toSet == Set("gc-commit-tmp commit_stale.tmp",
                                s"gc-orphan $orphan"), s"got $actions")
    assert(!stale.exists(), "stale commit temp survived")
    assert(fresh.exists(), "a fresh commit temp must never be swept")
    assert(!spark.catalog.tableExists(orphan) &&
           !new java.io.File(wh, orphan).exists(), "orphan generation survived")
    assert(Warehouse.recoverMaintenance(spark, dir).isEmpty,
      "recovery must be idempotent")
  }

  test("compaction guard: a concurrent upsert aborts the fold with nothing lost") {
    val dir = corpusCopy(withEmb = true)
    Warehouse.ensurePostings(spark, dir, excludeMod = 2)
    Warehouse.upsertPostingsFrom(
      syntheticDocs(Seq(999999101L), "zzguardq"), dir, batchKey = 1L)
    val ex = intercept[IllegalStateException] {
      Warehouse.compactPostingsHooked(spark, dir, () =>
        Warehouse.upsertPostingsFrom(
          syntheticDocs(Seq(999999102L), "zzguardr"), dir, batchKey = 2L))
    }
    assert(ex.getMessage.contains("concurrent upsert"))
    assert(strayGenerations(dir).isEmpty,
      s"aborted fold left its staged generation: ${strayGenerations(dir)}")
    // nothing lost: both batches still landed, both docs probe-visible
    val parts = partitions(dir, "graft_post_lists")
    assert(parts.exists(_.startsWith("batch_id=1/")) &&
           parts.exists(_.startsWith("batch_id=2/")),
      s"guard abort lost a batch partition: $parts")
    assert(strs(RetrievalOps.bm25RankIndexed(
      spark, dir, qterm("zzguardr"), k = 5, exclSelf = false))
      .exists(_.contains("999999102")),
      "the racing batch must stay probe-visible after the abort")
    // at the quiet point the same compaction succeeds, probe-identically
    val probe0 = strs(RetrievalOps.bm25RankIndexed(
      spark, dir, qterm("zzguardq"), k = 5, exclSelf = false))
    Warehouse.compactPostings(spark, dir)
    assert(partitions(dir, "graft_post_lists").forall(_.startsWith("batch_id=-1/")),
      "compaction must fold every batch partition")
    assert(strs(RetrievalOps.bm25RankIndexed(
      spark, dir, qterm("zzguardq"), k = 5, exclSelf = false)) == probe0,
      "quiet-point compaction changed probe results")

    // same guard on the IVF side
    Warehouse.ensureIvf(spark, dir, excludeMod = 2)
    val batch = Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(2)) === 0).limit(4)
      .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding"))
    val ex2 = intercept[IllegalStateException] {
      Warehouse.compactIvfHooked(spark, dir, () =>
        Warehouse.upsertIvfFrom(batch, dir, batchKey = 9L))
    }
    assert(ex2.getMessage.contains("concurrent upsert"))
    assert(strayGenerations(dir).isEmpty,
      s"aborted IVF fold left its staged generation: ${strayGenerations(dir)}")
    assert(partitions(dir, "graft_ivf_lists").exists(_.startsWith("batch_id=9/")),
      "guard abort lost the racing IVF batch")
  }

  /** Simulate catalog amnesia (a new JVM's in-memory catalog): copy
    * each table's surviving files aside, DROP TABLE (managed: files
    * go too), put the files back — exactly the state a restarted
    * process sees.
    */
  private def amnesia(dir: String, bases: Seq[String]): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def copyTree(from: Path, to: Path): Unit = {
      Files.createDirectories(to.getParent)
      if (Files.isDirectory(from)) {
        Files.createDirectories(to)
        Files.list(from).forEach(c => copyTree(c, to.resolve(c.getFileName)))
      } else Files.copy(from, to)
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    bases.foreach { b =>
      val t = Warehouse.tbl(dir, b)
      val loc = Paths.get(wh, t)
      val stash = Files.createTempDirectory("graft_amnesia_").resolve(t)
      copyTree(loc, stash)
      spark.sql(s"DROP TABLE $t")
      rm(loc.toFile) // external drop keeps files; model a clean restart
      copyTree(stash, loc)
    }
  }

  test("landed indexes survive catalog amnesia: adopted from files, not rebuilt") {
    val dir = corpusCopy(withEmb = true)
    Warehouse.ensurePostings(spark, dir, excludeMod = 2)
    Warehouse.upsertPostingsFrom(
      syntheticDocs(Seq(999999301L), "zzadoptq"), dir, batchKey = 5L)
    val files0 = tableFiles(dir, "graft_post_lists")
    val probe0 = strs(RetrievalOps.bm25RankIndexed(
      spark, dir, qterm("zzadoptq"), k = 5, exclSelf = false))
    assert(probe0.exists(_.contains("999999301")))

    amnesia(dir, Seq("graft_post_lists", "graft_post_stats"))
    Warehouse.ensurePostings(spark, dir, excludeMod = 2)
    assert(tableFiles(dir, "graft_post_lists") == files0,
      "adoption must register the surviving files, not rebuild " +
        "(a rebuild would also lose the upserted batch)")
    assert(strs(RetrievalOps.bm25RankIndexed(
      spark, dir, qterm("zzadoptq"), k = 5, exclSelf = false)) == probe0,
      "adopted index must answer exactly as before the restart")

    // IVF family adopts too, probe-identically (kmeansIters=0 = the
    // annIndexed/d12 registered form, so the probe's own ensure
    // agrees with ours instead of rebuilding at different params)
    Warehouse.ensureIvf(spark, dir, kmeansIters = 0)
    val ann0 = strs(Warehouse.annIndexed(spark, dir))
    val ivfFiles0 = tableFiles(dir, "graft_ivf_lists")
    amnesia(dir, Seq("graft_ivf_cents", "graft_ivf_book", "graft_ivf_lists"))
    Warehouse.ensureIvf(spark, dir, kmeansIters = 0)
    assert(tableFiles(dir, "graft_ivf_lists") == ivfFiles0,
      "IVF adoption must not rebuild")
    assert(strs(Warehouse.annIndexed(spark, dir)) == ann0)

    // upserts keep working against ADOPTED tables — the positional
    // insertInto contract is exactly what the re-pinned partition
    // types protect (an int-narrowed batch_id would break it here)
    Warehouse.upsertPostingsFrom(
      syntheticDocs(Seq(999999302L), "zzadoptr"), dir, batchKey = 6L)
    assert(strs(RetrievalOps.bm25RankIndexed(
      spark, dir, qterm("zzadoptr"), k = 5, exclSelf = false))
      .exists(_.contains("999999302")),
      "post-adoption postings upsert not probe-visible")
    val ivfBatch = Tables.embeddings(spark, dir).limit(3)
      .select((col("vec_id") + 910000000L).as("vec_id"), col("embedding"))
    Warehouse.upsertIvfFrom(ivfBatch, dir, batchKey = 8L)
    assert(partitions(dir, "graft_ivf_lists").exists(_.startsWith("batch_id=8/")),
      "post-adoption IVF upsert did not land its batch partition")

    // staleness still wins over adoption: a rewritten corpus at the
    // same path rebuilds even though adoptable files survive
    Tables.documents(spark, dir).filter(col("doc_id") =!= 0L)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${dir}/documents_new.parquet")
    val newDocs = s"$dir/documents_new.parquet"
    val docPath = new java.io.File(dir, "documents.parquet")
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
    }
    rmTree(docPath)
    assert(new java.io.File(newDocs).renameTo(docPath))
    amnesia(dir, Seq("graft_post_lists", "graft_post_stats"))
    Warehouse.ensurePostings(spark, dir, excludeMod = 2)
    assert(tableFiles(dir, "graft_post_lists") != files0,
      "a stale adopted index must rebuild (corpus fingerprint mismatch)")
  }

  test("a store with data but no build key rebuilds once, never reading an old meta table") {
    val dir = corpusCopy(withEmb = false)
    Warehouse.ensurePostings(spark, dir)
    val key = Warehouse.readManifest(spark, dir).keys("post")
    val files0 = tableFiles(dir, "graft_post_lists")
    // a build killed between its data writes and its key commit leaves
    // data without a key; so does a store landed while build keys lived
    // in per-index graft_*_meta tables — planted here with the MATCHING
    // key, which a gate trusting it would serve as fresh
    Warehouse.bumpManifest(spark, dir, m => m.copy(keys = m.keys - "post"))
    val planted = Warehouse.tbl(dir, "graft_post_meta")
    import spark.implicits._
    Seq(key).toDF("build_key").write.format("parquet").saveAsTable(planted)
    val (_, readsPlanted) = sparkActivity(spark.table(planted).collect())
    assert(readsPlanted.exists(_.contains(planted)),
      "fixture: a read of the planted table must show in the plans")

    val (_, plans) = sparkActivity(Warehouse.ensurePostings(spark, dir))
    assert(tableFiles(dir, "graft_post_lists") != files0,
      "a store without its build key must rebuild")
    assert(Warehouse.readManifest(spark, dir).keys.get("post").contains(key))
    assert(!plans.exists(_.contains(planted)), "the gate read the meta table")
    val files1 = tableFiles(dir, "graft_post_lists")
    val (jobs, _) = sparkActivity(Warehouse.ensurePostings(spark, dir))
    assert(jobs == 0 && tableFiles(dir, "graft_post_lists") == files1,
      s"the rebuilt store must be warm (jobs=$jobs)")
    spark.sql(s"DROP TABLE $planted")
  }

  test("vacuum after catalog amnesia adopts the landed surfaces: no silent un-delete") {
    val dir = corpusCopy(withEmb = false)
    Warehouse.ensurePostings(spark, dir, excludeMod = 2)
    // a doc that exists ONLY in the landed index (streamed in, then
    // hard-deleted upstream by construction): the tombstone is the
    // only thing keeping it out of service
    Warehouse.upsertPostingsFrom(
      syntheticDocs(Seq(999999401L), "zzvacq"), dir, batchKey = 2L)
    Warehouse.deleteDocIds(spark, dir, Seq(999999401L))
    assert(strs(RetrievalOps.bm25RankIndexed(
      spark, dir, qterm("zzvacq"), k = 5, exclSelf = false)).isEmpty)
    amnesia(dir, Seq("graft_post_lists", "graft_post_stats"))
    // pre-fix, the forgotten postings dropped out of the re-entry
    // surfaces, the tombstone was pruned as unreferenced, and the
    // next adoption served the deleted doc again
    assert(Warehouse.vacuumTombstones(spark, dir) == 0L,
      "vacuum pruned a tombstone whose doc is still physically indexed")
    Warehouse.ensurePostings(spark, dir, excludeMod = 2) // the probe gate
    assert(strs(RetrievalOps.bm25RankIndexed(
      spark, dir, qterm("zzvacq"), k = 5, exclSelf = false)).isEmpty,
      "deleted doc resurfaced after restart + vacuum")
  }

  test("autoMaintain: compacts past maxBatches, purges pending deletes, vacuums, then idles") {
    val dir = corpusCopy(withEmb = true)
    Warehouse.ensurePostings(spark, dir, excludeMod = 2)
    Warehouse.ensureIvf(spark, dir, excludeMod = 2)
    (1 to 3).foreach { b =>
      Warehouse.upsertPostingsFrom(
        syntheticDocs(Seq(999999200L + b), s"zzauto$b"), dir, batchKey = b.toLong)
    }
    val status0 = Warehouse.maintenanceStatus(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(status0("postings") == 3L, s"status miscounts batches: $status0")
    val probe0 = strs(RetrievalOps.bm25RankIndexed(
      spark, dir, qterm("zzauto2"), k = 5, exclSelf = false))

    val actions1 = Warehouse.autoMaintain(spark, dir, maxBatches = 2)
    assert(actions1.contains("compacted-postings"), s"got $actions1")
    assert(!actions1.contains("compacted-ivf"),
      s"ivf had no batches and no purges — must not compact: $actions1")
    assert(partitions(dir, "graft_post_lists").forall(_.startsWith("batch_id=-1/")))
    assert(strs(RetrievalOps.bm25RankIndexed(
      spark, dir, qterm("zzauto2"), k = 5, exclSelf = false)) == probe0,
      "autoMaintain changed probe results")

    // a pending delete triggers the purge compaction, then the vacuum
    // prunes the tombstone (the id is in no corpus table and, after
    // the purge, in no landed store)
    Warehouse.deleteDocIds(spark, dir, Seq(999999201L))
    val actions2 = Warehouse.autoMaintain(spark, dir, maxBatches = 2)
    assert(actions2.contains("compacted-postings") &&
           actions2.contains("vacuumed-1"), s"got $actions2")
    assert(strs(RetrievalOps.bm25RankIndexed(
      spark, dir, qterm("zzauto1"), k = 5, exclSelf = false)).isEmpty,
      "purged doc still probe-visible")

    val actions3 = Warehouse.autoMaintain(spark, dir, maxBatches = 2)
    assert(actions3.isEmpty, s"idle autoMaintain must be a no-op: $actions3")
  }
}
