package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.{Tables, Warehouse}

/** Measure the small-file spiral on the batch_id-partitioned posting
  * store and the compaction that kills it (round 14 — verdict item 2):
  * land the standing index, upsert the arriving slice as `nBatches`
  * separate micro-batches (each its own batch_id partition set — the
  * crawl-cadence shape), and sample the e16b probe latency + physical
  * file count after 0, half and all batches, then after
  * `compactPostings`. Probe results are asserted IDENTICAL at every
  * checkpoint (upserts and compaction are probe-invisible; only cost
  * moves). One JSON line out, BASELINE.md records the table.
  *
  * Run: `sbt "runMain graft.tools.CompactBench <dir> [nBatches=32]
  * [repeats=5]"`. Not part of the library surface.
  */
object CompactBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(32)
    val repeats = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = graft.GraftSession.build("graft-compact-bench")

    val batchMod = 10
    Warehouse.buildPostings(spark, dir, excludeMod = batchMod)

    def listFiles(): Int = {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(wh,
        Warehouse.currentTable(spark, dir, "graft_post_lists")))
        .count(_.getName.endsWith(".parquet"))
    }
    def probeSec(): Double = (1 to repeats).map { _ =>
      val t0 = System.nanoTime()
      graft.operators.RetrievalOps.bm25SearchIndexedUnchecked(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    def probeRows(): Seq[String] =
      graft.operators.RetrievalOps.bm25SearchIndexedUnchecked(spark, dir)
        .collect().toSeq.map(_.toString)

    // the arriving slice, split into nBatches micro-batches by a hash
    // of the id (NOT contiguous ranges, so every batch touches most tb
    // buckets — the worst, and realistic, file-growth case)
    val arriving = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(batchMod)) === 0)
    def upsert(b: Int): Unit =
      Warehouse.upsertPostingsFrom(
        arriving.filter(pmod(xxhash64(col("doc_id")), lit(nBatches)) === b),
        dir, batchKey = b.toLong)

    val rows0 = probeRows()
    val points = scala.collection.mutable.ArrayBuffer[(String, Int, Double)]()
    points += (("base", listFiles(), probeSec()))
    (0 until nBatches / 2).foreach(upsert)
    require(probeRows().size >= rows0.size, "probe lost rows after upserts")
    points += ((s"after_${nBatches / 2}_batches", listFiles(), probeSec()))
    (nBatches / 2 until nBatches).foreach(upsert)
    points += ((s"after_${nBatches}_batches", listFiles(), probeSec()))
    // deletion cost at scale: retract the ~1% doc_id % 97 slice (one
    // tombstone write + one postings-delta columnar scan); standing
    // files must be untouched — only the probe RESULT changes
    val filesPreDel = listFiles()
    val tDel = {
      val t0 = System.nanoTime()
      Warehouse.deleteDocs(spark, dir,
        Tables.documents(spark, dir)
          .filter(pmod(col("doc_id"), lit(97L)) === 0).select(col("doc_id")),
        batchKey = 1000L)
      (System.nanoTime() - t0) / 1e9
    }
    require(listFiles() == filesPreDel, "deleteDocs rewrote standing files")
    val rowsDel = probeRows()
    points += (("after_delete_1pct", listFiles(), probeSec()))
    Warehouse.compactPostings(spark, dir)
    Seq("graft_post_lists", "graft_post_stats").foreach(
      t => spark.catalog.refreshTable(Warehouse.currentTable(spark, dir, t)))
    require(probeRows() == rowsDel,
      "compaction changed probe results — abort, numbers meaningless")
    points += (("after_compact", listFiles(), probeSec()))

    // ---- the IVF twin: same spiral, same kill, on the vector store ----
    Warehouse.buildIvf(spark, dir, kmeansIters = 0, excludeMod = batchMod)
    def ivfFiles(): Int = {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(wh,
        Warehouse.currentTable(spark, dir, "graft_ivf_lists")))
        .count(_.getName.endsWith(".parquet"))
    }
    def ivfProbeSec(): Double = (1 to repeats).map { _ =>
      val t0 = System.nanoTime()
      Warehouse.annIvfPqIndexed(spark, dir, nq = 64)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    def ivfProbeRows(): Seq[String] =
      Warehouse.annIvfPqIndexed(spark, dir, nq = 64)
        .collect().toSeq.map(_.toString)
    val arrivingVecs = Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(batchMod)) === 0)
      .select(col("vec_id"), col("embedding"))
    val ivfPoints = scala.collection.mutable.ArrayBuffer[(String, Int, Double)]()
    ivfPoints += (("base", ivfFiles(), ivfProbeSec()))
    (0 until nBatches).foreach { b =>
      Warehouse.upsertIvfFrom(
        arrivingVecs.filter(pmod(xxhash64(col("vec_id")), lit(nBatches)) === b),
        dir, batchKey = b.toLong)
    }
    val ivfRows = ivfProbeRows()
    ivfPoints += ((s"after_${nBatches}_batches", ivfFiles(), ivfProbeSec()))
    Warehouse.compactIvf(spark, dir)
    spark.catalog.refreshTable(
      Warehouse.currentTable(spark, dir, "graft_ivf_lists"))
    require(ivfProbeRows() == ivfRows,
      "compactIvf changed probe results — abort, numbers meaningless")
    ivfPoints += (("after_compact", ivfFiles(), ivfProbeSec()))

    def obj(ps: Seq[(String, Int, Double)]) = ps.map { case (tag, files, sec) =>
      s"""{"point":"$tag","files":$files,"probe_sec":${f"$sec%.3f"}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"compact_bench","dir":"$dir","n_batches":$nBatches,"repeats":$repeats,"delete_1pct_sec":${f"$tDel%.3f"},"points":${obj(points.toSeq)},"ivf_points":${obj(ivfPoints.toSeq)}}""")
    spark.stop()
  }
}
