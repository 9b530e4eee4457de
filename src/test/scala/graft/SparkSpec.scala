package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared fixture: one local SparkSession per suite, sf0.001 test data. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  def rows(df: DataFrame): Seq[org.apache.spark.sql.Row] = df.collect().toSeq

  /** Shared md5-hex helper (several specs recompute engine md5s). */
  def md5hex(s: String): String = java.security.MessageDigest
    .getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Run `body` on this thread and return the Spark jobs it started
    * (counted by job group, so other threads' jobs never count) and
    * the physical-plan text of every SQL execution seen meanwhile.
    * The listener bus is asynchronous but ordered: a marker job before
    * and after `body` drains it, so every event of `body` is counted.
    */
  def sparkActivity(body: => Unit): (Int, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
                                       SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val group = "graft-spec-activity"
    val marker = "graft-spec-activity-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val markers = new java.util.concurrent.Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.job.description").contains(marker)) markers.release()
        else if (prop("spark.jobGroup.id").contains(group)) jobs.incrementAndGet()
        ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription); ()
        case _ => ()
      }
    }
    def drain(): Unit = {
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markers.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
    }
    sc.addSparkListener(listener)
    try {
      drain()
      jobs.set(0)
      plans.clear()
      sc.setJobGroup(group, "spec activity under observation")
      try body finally sc.clearJobGroup()
      drain()
      (jobs.get, plans.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  // One session for the whole forked test JVM — suites share it.
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
