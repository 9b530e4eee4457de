package graft.tools

import org.apache.spark.sql.functions._
import graft.sources.Warehouse
import graft.operators.{DedupOps, PipelineOps}

/** The dedup/banding family on Zipf-vocabulary corpora (round 15,
  * verdict item 1): the c2/c3/c4/c10/p3/p11b decade curves in
  * BASELINE.md were measured on the degenerate 31·SF-word GenScale
  * vocabulary — and Zipf specifically stresses this family, because
  * stopword-dominated shingle sets concentrate band buckets toward the
  * CappedDistinctAgg cap (the mechanism that silently collapsed f6's
  * recall at ×100 in round 11). This tool re-measures the family's
  * shipped forms on a GenZipf corpus pair and reports the BAND-BUCKET
  * OCCUPANCY distribution alongside the timings, so the artifact shows
  * not just the cost curve but the cap pressure it was measured under.
  * The retired foils (c3's contiguous 8×8 and 4×16 layouts, c4's
  * PPJoin prefix arm) are gone from the code; their curves stay
  * recorded in `BENCH_dev_r16_zipf*` and `BENCH_dev_r17_zipf.json`.
  *
  * Run: `sbt "runMain graft.tools.ZipfDedupBench <baseDir> <scaledDir>
  * [repeats=2]"` after GenZipf into both dirs (GenScale first when the
  * embeddings side is wanted). Not part of the library surface.
  */
object ZipfDedupBench {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/repo/testdata_zipf1")
    val scaled = args.lift(1).getOrElse("/root/repo/testdata_zipf10")
    val repeats = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.build("graft-zipf-dedup-bench")

    def time(df: => org.apache.spark.sql.DataFrame): Double =
      (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min

    def measure(dir: String): Map[String, Double] = {
      // p11b's standing index lands untimed (the ScaleBench prep
      // convention) — the probe is the measured production path
      Warehouse.ensureMinhash(spark, dir)
      Map(
        "c2_zipf"   -> time(DedupOps.dedupMinhash(spark, dir)),
        "c3_zipf"   -> time(DedupOps.dedupSimhash(spark, dir)),
        "c4_zipf"   -> time(DedupOps.ngramJaccard(spark, dir)),
        "c4_banded_zipf" -> time(DedupOps.ngramJaccardBanded(spark, dir)),
        "c10_zipf"  -> time(DedupOps.dedupCut(spark, dir)),
        "p3_zipf"   -> time(PipelineOps.fuzzyDedup(spark, dir)),
        "p11b_zipf" -> time(Warehouse.incrementalMinhashIndexed(spark, dir)))
    }

    /** c2's banding-layer occupancy truth (pre-cap bucket sizes): the
      * cap-pressure context every timing above was measured under.
      */
    def occupancy(dir: String): String = {
      val sizes = DedupOps.bandKeys(DedupOps.minhashSigs(
          DedupOps.shingleSetsFrom(
            spark.read.parquet(s"$dir/documents.parquet"))))
        .groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("n"))
      val stats = sizes.agg(
          count(lit(1)).as("buckets"),
          max(col("n")).as("max"),
          expr("percentile_approx(n, 0.5)").as("p50"),
          expr("percentile_approx(n, 0.99)").as("p99"),
          sum(when(col("n") > 64, 1L).otherwise(0L)).as("over_cap64"))
        .collect()(0)
      s"""{"buckets":${stats.getLong(0)},"max":${stats.getLong(1)},""" +
        s""""p50":${stats.getLong(2)},"p99":${stats.getLong(3)},""" +
        s""""over_cap64":${stats.getLong(4)}}"""
    }

    /** c3's banding-layer occupancy under the C(6,3) layout:
      * over_cap64 = 0 is a direct pigeonhole proof that NO hamming ≤ 3
      * pair can be cap-dropped at this corpus size — recall 1.0
      * without planting.
      */
    def c3Occupancy(dir: String, weighted: Boolean): String = {
      // `weighted` = the SHIPPED c3 signature since round 17; the
      // unweighted kernel's row shows the bit concentration the
      // weighting was introduced against
      val sigs =
        if (weighted)
          DedupOps.simhashWeightedSigsFrom(
              spark.read.parquet(s"$dir/documents.parquet"))
            .select(col("sig"))
        else spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("text").isNotNull)
          .select(graft.functions.TextFns.simhash64Kernel(col("text")).as("sig"))
      val cols = DedupOps.simhashBandCols(col("sig"))
      val stats = sigs
        .select(explode(array(cols: _*)).as("bk"))
        .groupBy(col("bk.band"), col("bk.bkey"))
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("buckets"),
             max(col("n")).as("max"),
             expr("percentile_approx(n, 0.99)").as("p99"),
             sum(when(col("n") > 64, 1L).otherwise(0L)).as("over_cap64"))
        .collect()(0)
      s"""{"buckets":${stats.getLong(0)},"max":${stats.getLong(1)},""" +
        s""""p99":${stats.getLong(2)},"over_cap64":${stats.getLong(3)}}"""
    }
    def c3OccAll(dir: String): String =
      s"""{"default":${c3Occupancy(dir, weighted = true)},""" +
        s""""foil_unweighted":${c3Occupancy(dir, weighted = false)}}"""

    val b = measure(base)
    val s2 = measure(scaled)
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
        .mkString("{", ",", "}")
    val ratios = b.keys.toSeq.sorted.map { k =>
      s""""$k":${f"${s2(k) / b(k)}%.2f"}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"zipf_dedup_bench","base":"$base","scaled":"$scaled","repeats":$repeats,"base_sec":${obj(b)},"scaled_sec":${obj(s2)},"ratio":$ratios,"base_occupancy":${occupancy(base)},"scaled_occupancy":${occupancy(scaled)},"base_c3_occupancy":${c3OccAll(base)},"scaled_c3_occupancy":${c3OccAll(scaled)}}""")
    spark.stop()
  }
}
