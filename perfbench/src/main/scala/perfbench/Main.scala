package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, data: String, work: String,
                      out: String, mode: String, expected: String,
                      injectFailure: Boolean) {
  /** Seeded stream `n` of this run: every random choice draws from one. */
  def rng(n: Int): java.util.Random =
    new java.util.Random(seed * 1000003L + n * 7919L + 17L)
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
         m.getOrElse("trace", "0") == "1", m("data"), m("work"), m("out"),
         m.getOrElse("mode", "run"), m.getOrElse("expected", ""),
         m.getOrElse("inject-failure", "0") == "1")
  }
}

/** A metric as the benchmark prints it. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: end-to-end metrics (untraced window),
  * per-layer metrics (traced run only) and free-form record fields.
  */
final case class Result(e2e: Seq[Metric], layers: Seq[Metric],
                        record: Seq[(String, String)])

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val args: Args,
                val tracing: Option[Tracing], val runner: Runner) {
  def tracer: Tracer = tracing.getOrElse(Tracer.Off)
  val work: Path = Paths.get(args.work)

  /** A fresh directory exposing the generated tables under a new path.
    * The library namespaces landed indexes by corpus path, so each one
    * is a new corpus as far as the warehouse is concerned. Files are
    * hard-linked (copied where links are refused).
    */
  def corpusCopy(name: String): String = {
    val dst = work.resolve(name)
    Main.AllTables.foreach { t =>
      val src = Paths.get(args.data, s"$t.parquet")
      val to = dst.resolve(s"$t.parquet")
      Files.createDirectories(to)
      Files.list(src).iterator().asScala.foreach { f =>
        val g = to.resolve(f.getFileName.toString)
        try Files.createLink(g, f)
        catch { case _: Exception => Files.copy(f, g) }
      }
    }
    dst.toAbsolutePath.toString
  }
}

object Main {
  private val t0 = System.nanoTime()

  /** Progress line on stderr (the run log), with seconds since start. */
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  val AllTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val spark = graft.GraftSession.build("perfbench")
    LogCounter.install()
    val expected = Expected.load(args.expected)
    val tracing = if (args.trace) Some(new Tracing(spark)) else None
    tracing.foreach(_.install())
    val ctx = new Ctx(spark, args, tracing, new Runner(spark, tracing.getOrElse(Tracer.Off), expected))
    val exit =
      try {
        args.mode match {
          case "run" =>
            val res = args.workload match {
              case "serve_write"  => Serve.run(ctx)
              case "corpus_batch" => Corpus.run(ctx)
              case w => throw new IllegalArgumentException(s"unknown workload $w")
            }
            writeResult(ctx, res)
          case "expect" => Expected.generate(ctx)
          case "dump"   => Expected.dump(ctx)
          case m => throw new IllegalArgumentException(s"unknown mode $m")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    tracing.foreach(_.uninstall())
    spark.stop()
    sys.exit(exit)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def writeResult(ctx: Ctx, res: Result): Unit = {
    val r = ctx.runner
    val metrics = if (ctx.args.trace) res.layers else res.e2e
    def mjson(ms: Seq[Metric]) = Json.obj(ms.map(m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
    val env = sys.env.toSeq.filter(_._1.startsWith("SPARK_GRAFT_")).sorted
      .map { case (k, v) => k -> Json.str(v) }
    val record = Seq(
      "workload" -> Json.str(ctx.args.workload),
      "seed" -> ctx.args.seed.toString,
      "seconds" -> ctx.args.seconds.toString,
      "trace" -> (if (ctx.args.trace) "1" else "0"),
      "cores" -> Runtime.getRuntime.availableProcessors.toString,
      "driver_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "env" -> Json.obj(env),
      "config" -> Json.obj(Config.effective(ctx.spark).map { case (k, v) => k -> Json.str(v) }),
      "ambient" -> Json.obj(Seq(
        "cpu_s" -> Json.arr(Ambient.samples.asScala.toSeq.map(a => Json.num(a._1))),
        "sched_s" -> Json.arr(Ambient.samples.asScala.toSeq.map(a => Json.num(a._2))))),
      "failed_frac" -> Json.num(r.failed.get.toDouble / math.max(1L, r.attempted.get)),
      "problems" -> Json.arr(r.problems.asScala.toSeq.map(Json.str)),
      "digests" -> Json.obj(r.digests.asScala.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }),
      "log_error_samples" -> Json.arr(LogCounter.samples.map(Json.str)),
      "all_metrics" -> mjson(res.e2e ++ res.layers)) ++ res.record
    val out = Json.obj(Seq(
      "correct" -> (if (r.failed.get == 0) "true" else "false"),
      "attempted" -> r.attempted.get.toString,
      "failed" -> r.failed.get.toString,
      "metrics" -> mjson(metrics),
      "record" -> Json.obj(record)))
    Files.writeString(Paths.get(ctx.args.out), out + "\n")
  }
}

/** `live_heap_mb`: the largest old-generation occupancy right after a
  * full collection, over the full collections that end inside a timed
  * window. A GC notification listener records the after-GC usage of the
  * old-generation pool; young and mixed collections are left out, since
  * what they leave in the old generation includes promoted objects that
  * are already dead, and that share swings with GC timing. A workload
  * brackets its window with `start` and `stop` and forces full
  * collections (`collectNow`) at fixed points of it where they add
  * nothing to a timed request.
  */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryUsage}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private def isOld(pool: String) = pool.contains("Old") || pool.contains("Tenured")
  // (end of the collection in ms of JVM uptime, old-gen bytes after it)
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val delivered = new java.util.concurrent.atomic.AtomicLong

  private lazy val installed: Unit = {
    val l = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcAction == "end of major GC") {
            val gc = info.getGcInfo
            val old = gc.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u: MemoryUsage) if isOld(pool) => u.getUsed }
            if (old.nonEmpty) seen.add((gc.getEndTime, old.sum))
            delivered.incrementAndGet()
          }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ =>
    }
  }

  private def uptimeMs = ManagementFactory.getRuntimeMXBean.getUptime
  private var from = 0L

  def start(): Unit = { installed; from = uptimeMs }

  /** A full collection; returns once its notification has arrived. */
  def collectNow(): Unit = {
    installed
    val n0 = delivered.get
    System.gc()
    val until = System.nanoTime() + 2000000000L
    while (delivered.get == n0 && System.nanoTime() < until) Thread.sleep(5)
  }

  /** The window's maximum in MB, and the number of full collections in it. */
  def stop(): (Double, Int) = {
    val to = uptimeMs
    val in = seen.asScala.toSeq.filter { case (end, _) => end >= from && end <= to }
    (in.map(_._2).maxOption.getOrElse(0L) / (1024.0 * 1024.0), in.size)
  }
}

/** Bench's in-run ambient control (cpu: a codegen'd hash over a fixed
  * in-memory range; sched: one-row tasks), scaled down (32M rows, 128
  * tasks) so that a sample costs well under a second. Workloads take a
  * sample right before and right after the timed window. Diagnostics
  * only: they show a contended host, they are not end-to-end metrics.
  */
object Ambient {
  val samples = new java.util.concurrent.CopyOnWriteArrayList[(Double, Double)]()
  def take(spark: SparkSession): Unit = samples.add(sample(spark))

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
  def sample(spark: SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions.{bit_xor, col, sum, xxhash64}
    val cpu = timeNoop(spark.range(0, 32L << 20, 1, 32).select(bit_xor(xxhash64(col("id")))))
    val sched = timeNoop(spark.range(0, 128, 1, 128).select(sum(col("id"))))
    (cpu, sched)
  }
}

/** The effective settings that decide plans: every explicitly set
  * `spark.sql.*` / `spark.graft.*` key plus the planner defaults that
  * matter here, read from the running session.
  */
object Config {
  private val Keys = Seq(
    "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.localShuffleReader.enabled",
    "spark.sql.adaptive.skewJoin.enabled", "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.shuffle.partitions", "spark.sql.join.preferSortMergeJoin",
    "spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
    "spark.sql.codegen.wholeStage", "spark.sql.ansi.enabled",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled",
    "spark.sql.parquet.filterPushdown", "spark.sql.sources.bucketing.enabled",
    "spark.sql.streaming.stateStore.providerClass", "spark.master",
    "spark.default.parallelism")

  def effective(spark: SparkSession): Seq[(String, String)] = {
    val set = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.graft.") }
    val dflt = Keys.flatMap(k => scala.util.Try(spark.conf.get(k)).toOption.map(k -> _))
    (set ++ dflt).filter(_._2 != null).toMap.toSeq.sortBy(_._1)
  }
}
