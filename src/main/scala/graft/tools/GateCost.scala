package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.GraftSession
import graft.sources.Warehouse

/** Dev probe: Spark-job count + wall time of the WARM ensure* freshness
  * gates of all seven landed indexes (index already landed and fresh) —
  * the fixed per-invocation cost every landed-index query pays before
  * its probe runs.
  * Usage: runMain graft.tools.GateCost <sfDir>
  */
object GateCost {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession.build("graft-gatecost")
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    })
    def timed(name: String)(f: => Unit): Unit = {
      f // warm (build if needed)
      Thread.sleep(300); jobs.set(0)
      val t0 = System.nanoTime()
      f // the warm gate
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"[gate] $name jobs=${jobs.get} sec=$sec%.3f")
    }
    timed("ensurePostings")(Warehouse.ensurePostings(spark, dir))
    timed("ensureIvf(km=0)")(Warehouse.ensureIvf(spark, dir, kmeansIters = 0))
    timed("ensureIvf(km=4)")(Warehouse.ensureIvf(spark, dir, kmeansIters = 4))
    timed("ensureMinhash")(Warehouse.ensureMinhash(spark, dir))
    timed("ensureAudio")(Warehouse.ensureAudio(spark, dir))
    timed("ensureBloom")(Warehouse.ensureBloom(spark, dir))
    timed("ensurePhash")(Warehouse.ensurePhash(spark, dir))
    timed("ensureNbModel")(Warehouse.ensureNbModel(spark, dir))
    spark.stop()
  }
}
