package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The landed BM25 probe without its freshness gate, for the
  * benchmark's serving workloads: they call the gate
  * (`Warehouse.ensurePostings`) themselves so that its cost is timed
  * apart from the probe, and `serve_write` maintains the index with
  * upserts that a default-parameter gate would rebuild away. Same work
  * as `RetrievalOps.bm25SearchIndexed` minus the gate call.
  */
object Probes {
  def bm25Indexed(spark: SparkSession, dir: String, k: Int): DataFrame =
    graft.operators.RetrievalOps.bm25SearchIndexedUnchecked(spark, dir, k)
}
