package graft

import graft.sources.Warehouse

/** Landed-index freshness gates read the manifest and the catalog,
  * never a table: a warm ensure* runs no Spark job, and no index keeps
  * its build identity in a side table of its own.
  *
  * Runs on a private corpus copy (its own warehouse namespace).
  */
class GateSpec extends SparkSpec {

  private def corpusCopy(): String = {
    import java.nio.file.{Files, Paths}
    val d = Files.createTempDirectory("graft_gate_").toString
    Seq("documents.parquet", "embeddings.parquet").foreach { f =>
      Files.copy(Paths.get(sf, f), Paths.get(d, f))
    }
    d
  }

  test("warm ensure* runs zero Spark jobs for all seven landed indexes") {
    val dir = corpusCopy()
    val indexes: Seq[(String, () => Unit, () => Unit)] = Seq(
      ("postings", () => Warehouse.buildPostings(spark, dir),
        () => Warehouse.ensurePostings(spark, dir)),
      ("ivf", () => Warehouse.buildIvf(spark, dir, kmeansIters = 0),
        () => Warehouse.ensureIvf(spark, dir, kmeansIters = 0)),
      ("bloom", () => Warehouse.buildBloom(spark, dir),
        () => Warehouse.ensureBloom(spark, dir)),
      ("minhash", () => Warehouse.buildMinhash(spark, dir),
        () => Warehouse.ensureMinhash(spark, dir)),
      ("phash", () => Warehouse.buildPhash(spark, dir),
        () => Warehouse.ensurePhash(spark, dir)),
      ("audio", () => Warehouse.buildAudio(spark, dir),
        () => Warehouse.ensureAudio(spark, dir)),
      ("nb", () => Warehouse.buildNbModel(spark, dir),
        () => Warehouse.ensureNbModel(spark, dir)))
    indexes.foreach { case (name, build, ensure) =>
      build()
      val version = Warehouse.readManifest(spark, dir).version
      ensure()
      val (jobs, _) = sparkActivity(ensure())
      assert(jobs == 0, s"warm ensure of $name ran $jobs Spark jobs")
      assert(Warehouse.readManifest(spark, dir).version == version,
        s"ensure of $name rebuilt (or re-committed) an index it just built")
    }
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val metaName = s"graft_[a-z]+_meta_${Warehouse.ns(dir)}"
    val metaTables =
      (spark.catalog.listTables().collect().map(_.name).toSeq ++
        Option(new java.io.File(wh).list()).toSeq.flatten)
        .filter(_.matches(metaName))
    assert(metaTables.isEmpty, s"build metadata side tables: $metaTables")
  }
}
