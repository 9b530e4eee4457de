package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{MarketOps, RetrievalOps}
import graft.sources.{Tables, Warehouse}
import graft.streaming.EventStream

/** One request type of the serving mix: a library entry point and the
  * domain its seeded argument is drawn from (Zipf-skewed over `size`
  * keys, or uniform when `zipf` is false).
  */
final case class Kind(name: String, cls: String, size: Int, zipf: Boolean,
                      make: Int => (String, () => DataFrame),
                      gate: Option[(String, () => Unit)] = None,
                      checked: Boolean = true) {
  def op(i: Int): Op = {
    val (p, e) = make(i)
    Op(name, p, cls, gate, e, checked)
  }
}

/** serve_write: the marketplace + search API served beside writers.
  *
  * One closed-loop reader client issues a seeded request stream made of
  * repeats of one fixed block ([[Block]]), so every window serves the
  * same proportions in the same order; the seed draws the keys
  * (Zipf-skewed).
  * Beside it run writers paced by that stream: an event lander, a
  * checkpointed EventStream catch-up loop and a document-churn writer.
  */
object Serve {
  val Keys = 32
  val MinBlocks = 3          // an untraced window serves at least this many blocks
  val ExcludeMod = 10        // postings built without doc_id % 10 == 0
  val SlicesTotal = 40       // events split into this many slices
  val StreamAt = Set(0)      // block positions that request a stream catch-up cycle
  val WriteAt = Set(4)       // block positions that request a document write
  val DeleteBatch = 8        // ids per delete batch
  val UpsertBatches = 5      // the excluded slice lands in 5 upserts

  /** One block of the mix, in the order it is issued: 6 marketplace
    * calls and 2 landed-index probes (75% / 25%). The order is fixed so
    * that the background work paced off it ([[StreamAt]], [[WriteAt]])
    * meets the same requests in every run.
    */
  val Block: Seq[String] = Seq(
    "MarketOps.tokenHistory", "MarketOps.userTransactions", "RetrievalOps.bm25SearchIndexed",
    "MarketOps.tokenDetail", "MarketOps.walletBids", "MarketOps.orderDetail",
    "RetrievalOps.bm25SearchIndexed", "MarketOps.keysetPage")

  final case class Dims(nPart: Long, nCust: Long, nOrd: Long)

  def dims(spark: SparkSession, dir: String): Dims =
    Dims(Tables.part(spark, dir).count(), Tables.customer(spark, dir).count(),
         Tables.orders(spark, dir).count())

  /** Fixed key domains (independent of the seed): rank 0 is the
    * registered query's default argument, so the committed digest of
    * rank 0 is the one cross-checked against the DuckDB oracle.
    */
  private def keyAt(default: Long, n: Long, i: Int): Long =
    if (i == 0) default else (default + i.toLong * 7919L) % n

  /** The request types. `write` selects the serving posture: the probe
    * gate keyed to the upsert-ready build and unchecked probe digests
    * (they move under churn); false gives the default-parameter forms
    * whose digests are committed and oracle-checked.
    */
  def catalogue(spark: SparkSession, dir: String, d: Dims,
                write: Boolean): Map[String, Kind] = {
    val part = (i: Int) => keyAt(42L, d.nPart, i)
    val cust = (i: Int) => keyAt(7L, d.nCust, i)
    val ord = (i: Int) => keyAt(42L, d.nOrd, i)
    val postingsGate: () => Unit =
      if (write) () => Warehouse.ensurePostings(spark, dir, excludeMod = ExcludeMod)
      else () => Warehouse.ensurePostings(spark, dir)
    val kinds = Seq(
      Kind("MarketOps.tokenHistory", "market", Keys, zipf = true, i =>
        (s"partkey=${part(i)}", () => MarketOps.tokenHistory(spark, dir, part(i)))),
      Kind("MarketOps.userTransactions", "market", Keys, zipf = true, i =>
        (s"custkey=${cust(i)}", () => MarketOps.userTransactions(spark, dir, cust(i)))),
      Kind("MarketOps.tokenDetail", "market", Keys, zipf = true, i =>
        (s"partkey=${part(i)}", () => MarketOps.tokenDetail(spark, dir, part(i)))),
      Kind("MarketOps.walletBids", "market", Keys, zipf = true, i =>
        (s"custkey=${cust(i)}", () => MarketOps.walletBids(spark, dir, cust(i)))),
      Kind("MarketOps.orderDetail", "market", Keys, zipf = true, i =>
        (s"orderkey=${ord(i)}", () => MarketOps.orderDetail(spark, dir, ord(i)))),
      Kind("MarketOps.keysetPage", "market", Keys, zipf = true, { i =>
        val day = java.time.LocalDate.parse("1997-07-01").plusDays(i * 43L % 1400L)
        val after = if (i == 0) 0L else ord(i)
        (s"after=$day/$after", () => MarketOps.keysetPage(spark, dir, day.toString, after))
      }),
      Kind("RetrievalOps.bm25SearchIndexed", "probe", 3, zipf = false, { i =>
        val k = Seq(10, 5, 20)(i)
        (s"k=$k", () => graft.bench.Probes.bm25Indexed(spark, dir, k))
      }, gate = Some("Warehouse.ensurePostings" -> postingsGate), checked = !write))
    kinds.map(k => k.name -> k).toMap
  }

  /** Zipf(1.1) rank sampler over `n` keys. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, 1.1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    def draw(r: java.util.Random): Int = {
      val u = r.nextDouble()
      val i = cdf.indexWhere(_ >= u)
      if (i < 0) n - 1 else i
    }
  }

  /** The seeded request stream the client issues: `slots` over and
    * over, arguments drawn per request.
    */
  final class Deck(kinds: Map[String, Kind], slots: Seq[String],
                   rnd: java.util.Random) {
    val block: Int = slots.size
    private val zipfs = kinds.map { case (k, v) => k -> new Zipf(v.size) }
    private var pos = 0
    def next(): Op = {
      val kind = kinds(slots(pos))
      pos = (pos + 1) % block
      kind.op(if (kind.zipf) zipfs(kind.name).draw(rnd) else rnd.nextInt(kind.size))
    }
  }

  // ------------------------------------------------------------------

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val a = ctx.args
    val dir = ctx.corpusCopy("corpus")
    // the harness's own preparation stays outside set-up time
    val stream = new EventFeed(ctx, dir)
    stream.prepare()
    val writer = new DocWriter(ctx, dir, a.rng(7))
    Main.progress("staged")
    val t0 = System.nanoTime()
    Warehouse.ensurePostings(spark, dir, excludeMod = ExcludeMod)
    stream.bootstrap()
    writer.delete(0, System.nanoTime(), record = false)
    val setupS = (System.nanoTime() - t0) / 1e9
    Main.progress(s"setup done: $setupS")
    val kinds = catalogue(spark, dir, dims(spark, dir), write = true)

    // warm-up: every request type of the mix once, on four threads
    Block.distinct.map(kinds(_).op(0)).zipWithIndex.groupBy(_._2 % 4).values.map { part =>
      new Thread(() => part.foreach { case (o, _) => ctx.runner.run(o, ctx.runner.nextReq("warm")) })
    }.map { t => t.start(); t }.foreach(_.join())
    if (a.injectFailure)
      ctx.runner.run(Op("MarketOps.transactionsUnion", "kinds=bogus", "market", None,
        () => MarketOps.transactionsUnion(spark, dir, Seq("bogus"))), "inject")
    Main.progress("warm-up done")

    val windowMs = a.seconds * 1000L
    // a traced run measures the first half untraced, the second traced,
    // so that its tracing overhead is a same-run comparison
    val untracedMs = if (a.trace) windowMs / 2 else windowMs
    val bg = writer.threads() ++ stream.threads()
    Ambient.take(spark)
    HeapWatch.collectNow()   // every window starts just after a full GC
    bg.foreach(_.start())
    val gc0 = Main.gcMs()
    val deck = new Deck(kinds, Block, a.rng(0))
    // background work is paced by the reader stream, so every run
    // interleaves it with the same requests whatever the host's speed
    // (an event slice lands as each request is issued);
    // a full GC between blocks, when no reader request is in flight,
    // samples live_heap_mb
    var blocks = 0
    val pace = (pos: Int) => {
      if (pos == 0) { if (blocks > 0) HeapWatch.collectNow(); blocks += 1 }
      stream.landNext()
      if (StreamAt(pos)) stream.pacer.request()
      if (WriteAt(pos)) writer.pacer.request()
    }
    HeapWatch.start()
    val (outs, wall) = window(ctx, deck, untracedMs, if (a.trace) 1 else MinBlocks, "r", pace)
    val traced = ctx.tracing.map { t =>
      t.enabled = true
      val g0 = Main.gcMs()
      val (touts, _) = window(ctx, deck, windowMs - untracedMs, 1, "t", pace)
      val g1 = Main.gcMs()
      t.enabled = false
      (touts, g1 - g0)
    }
    // the window closes once the readers are done and the background
    // writers have finished their calls in flight; a full GC ends it
    writer.stop()
    stream.stop()
    bg.foreach(_.join())
    HeapWatch.collectNow()
    val (heap, gcs) = HeapWatch.stop()
    val gcWindow = Main.gcMs() - gc0
    Ambient.take(spark)
    Main.progress(s"window done: ${outs.size} requests")

    // end state after the writers drain, three jobs side by side (they
    // share no state): the stream caught up with everything landed, then
    // its check; a maintenance pass; an index landed afresh over the
    // surviving documents. Then the churned index is checked against it.
    val alive = writer.survivors()
    var want = ""
    parallel(
      () => { stream.catchUp(); stream.verify() },
      () => writer.maintain(),
      () => want = writer.freshDigest(alive))
    writer.verify(kinds("RetrievalOps.bm25SearchIndexed").op(0), want)
    Main.progress("end state checked")

    val ok = outs.filter(_.ok)
    val lat = ok.map(_.ms)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("req_p50_ms", Stats.pct(lat, 50), "ms"),
      Metric("req_p90_ms", Stats.pct(lat, 90), "ms"),
      Metric("req_per_s", ok.size / lat.map(_ / 1000).sum, "1/s"),
      Metric("search_p50_ms", Stats.pct(ok.filter(_.op.cls == "probe").map(_.ms), 50), "ms"),
      Metric("live_heap_mb", heap, "MB"))
    val layers = traced.map { case (touts, gc) => Layers.generic(ctx, touts, gc) }.getOrElse(Nil)
    val tracedRecord = traced.map { case (touts, _) =>
      val tl = touts.filter(_.ok).map(_.ms)
      Seq("trace" -> Json.obj(Layers.perEntry(ctx, touts) ++ Seq(
        "trace.req_p50_ms_traced" -> Json.num(Stats.pct(tl, 50)),
        "trace.req_p50_ms_untraced" -> Json.num(Stats.pct(lat, 50)),
        "trace.overhead_pct" -> Json.num(100.0 * (Stats.pct(tl, 50) / Stats.pct(lat, 50) - 1)))))
    }.getOrElse(Nil)
    val plan = new Deck(kinds, Block, a.rng(0))
    Result(e2e, layers, Seq(
      "plan" -> Json.arr(Seq.fill(2 * plan.block)(Json.str(plan.next().key))),
      "requests" -> outs.size.toString,
      "window_s" -> Json.num(wall),
      "gc_ms_window" -> gcWindow.toString,
      "gcs_in_window" -> gcs.toString,
      "latencies_ms" -> Json.arr(outs.map(o => Json.num(math.rint(o.ms)))),
      "mix" -> Json.obj(outs.groupBy(_.op.name).toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.obj(Seq("n" -> v.size.toString,
                          "p50_ms" -> Json.num(Stats.median(v.map(_.ms)))))
      })) ++ writer.record ++ stream.record ++ tracedRecord)
  }

  /** Run each of `fs` on its own thread; rethrows the first failure. */
  def parallel(fs: (() => Unit)*): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = fs.map { f =>
      val t = new Thread(() => try f() catch { case e: Throwable => err.compareAndSet(null, e) })
      t.start(); t
    }
    ts.foreach(_.join())
    Option(err.get).foreach(e => throw e)
  }

  /** The closed-loop client: issues `deck`'s requests one after another
    * for `ms` milliseconds, rounded up to whole blocks of the deck and at
    * least `minBlocks`, so every window serves the mix in its exact
    * proportions. `onIssue` sees each request's position in its block as
    * it is issued. Returns the outcomes and the wall seconds.
    */
  def window(ctx: Ctx, deck: Deck, ms: Long, minBlocks: Int, tag: String,
             onIssue: Int => Unit): (Seq[Outcome], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + ms * 1000000L
    val results = Seq.newBuilder[Outcome]
    var issued = 0
    while (issued % deck.block != 0 || issued < minBlocks * deck.block ||
           System.nanoTime() < deadline) {
      onIssue(issued % deck.block)
      issued += 1
      results += ctx.runner.run(deck.next(), ctx.runner.nextReq(tag))
    }
    (results.result(), (System.nanoTime() - t0) / 1e9)
  }
}

/** Requests from the reader stream to a background worker. Each carries
  * the time it was made; the work's latency is measured from then.
  */
final class Pacer {
  private val q = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]()
  def request(): Unit = q.add(System.nanoTime())
  /** The next request's time; None once `stop` is set. */
  def next(stop: AtomicBoolean): Option[Long] = {
    while (!stop.get) {
      val t = q.poll(50, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (t != null) return Some(t.longValue)
    }
    None
  }
}

/** serve_write's event feed: seeded slices of the events table land in
  * a directory, one as each reader request is issued; a checkpointed
  * catch-up cycle runs `EventStream.maintainTypeStats` and a
  * `userStateStream` fold over
  * whatever has landed, then reads the served snapshot back through
  * `EventStream.readTypeStats`.
  */
final class EventFeed(ctx: Ctx, dir: String) {
  private val spark = ctx.spark
  private val base = ctx.work.resolve("feed")
  private val staging = Paths.get(ctx.args.data, "feed")
  private val landing = base.resolve("landing")
  private val serve = base.resolve("serve").toString
  private val stop_ = new AtomicBoolean(false)
  private val sliceRows = new Array[Long](Serve.SlicesTotal)
  private val landNs = new Array[Long](Serve.SlicesTotal)
  private val landed = new AtomicInteger(0)
  private var served = 0          // slices reflected in the served snapshot
  val freshMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val cycleMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val backlog = new ConcurrentLinkedQueue[Integer]()
  private var cycles = 0
  val pacer = new Pacer

  private lazy val tsType = Tables.events(spark, dir).schema("ts").dataType

  /** Read the sizes of the seeded slices `gen.py` staged. */
  def prepare(): Unit = {
    val rows = Files.readAllLines(staging.resolve("rows.txt")).asScala.map(_.trim.toLong)
    require(rows.size == Serve.SlicesTotal, s"feed has ${rows.size} slices")
    rows.copyToArray(sliceRows)
    Files.createDirectories(landing)
    Files.createDirectories(Paths.get(serve))
  }

  /** Land slice 0 and catch up once. */
  def bootstrap(): Unit = {
    land(0)
    catchUp()
  }

  private def land(k: Int): Unit = {
    val src = staging.resolve(s"slice=$k")
    val files = Files.list(src).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    files.zipWithIndex.foreach { case (f, i) =>
      val tmp = base.resolve(f"slice-$k%03d-$i%02d.tmp")
      Files.copy(f, tmp)
      Files.move(tmp, landing.resolve(f"slice-$k%03d-$i%02d.parquet"),
                 StandardCopyOption.ATOMIC_MOVE)
    }
    landNs(k) = System.nanoTime()
    landed.set(k + 1)
  }

  private def events(): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(EventStream.eventSchema.fields.map {
        f => if (f.name == "ts") f.copy(dataType = tsType) else f }))
      .parquet(landing.toString)
      .withColumn("ms", Tables.epochMs(tsType))
      .withColumn("event_time", Tables.eventTime(tsType))

  /** One catch-up cycle over everything landed so far. */
  def catchUp(): Unit = {
    val req = s"stream-$cycles"
    cycles += 1
    backlog.add(landed.get - served)
    val t0 = System.nanoTime()
    ctx.tracer.span(req, "EventStream.cycle") {
      spark.sparkContext.setJobGroup(req, "EventStream.cycle", interruptOnCancel = false)
      try {
        val q1 = EventStream.maintainTypeStats(spark, events(), serve,
          base.resolve("ckpt-stats").toString)
        val q2 = EventStream.userStateStream(spark, events()).toDF()
          .writeStream.format("noop").outputMode("update")
          .option("checkpointLocation", base.resolve("ckpt-users").toString)
          .trigger(Trigger.AvailableNow()).start()
        q1.awaitTermination(); q2.awaitTermination()
        val n = EventStream.readTypeStats(spark, serve)
          .agg(sum(col("n_events"))).collect()(0).getLong(0)
        val now = System.nanoTime()
        val upTo = landed.get
        var cum = sliceRows.take(served).sum
        while (served < upTo && cum + sliceRows(served) <= n) {
          cum += sliceRows(served)
          // slice 0 lands during set-up, outside the measured window
          if (served > 0) freshMs.add((now - landNs(served)) / 1e6)
          served += 1
        }
      } finally spark.sparkContext.clearJobGroup()
    }
    cycleMs.add((System.nanoTime() - t0) / 1e6)
  }

  def stop(): Unit = stop_.set(true)

  /** Land the next slice, while any remain. */
  def landNext(): Unit = {
    val k = landed.get
    if (k < Serve.SlicesTotal) land(k)
  }

  def threads(): Seq[Thread] = Seq(new Thread(() => {
    while (pacer.next(stop_).nonEmpty)
      if (landed.get > served) catchUp()
  }, "streamer"))

  /** Served type stats must equal a batch aggregate over all landed events. */
  def verify(): Unit = {
    val batch = spark.read.parquet(landing.toString)
      .withColumn("ms", Tables.epochMs(tsType))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"),
           max(col("ms")).as("last_ms"))
    val served = EventStream.readTypeStats(spark, serve)
      .select("event_type", "n_events", "total_value", "last_ms")
    ctx.runner.verify("EventStream served stats vs batch aggregate",
                      Digest.of(served), Digest.of(batch))
  }

  def record: Seq[(String, String)] = {
    val f = freshMs.asScala.map(_.doubleValue).toSeq
    val c = cycleMs.asScala.map(_.doubleValue).toSeq
    Seq("fresh_p50_ms" -> Json.num(Stats.pct(f, 50)),
        "fresh_p90_ms" -> Json.num(Stats.pct(f, 90)),
        "fresh_n" -> f.size.toString,
        "slices_landed" -> landed.get.toString,
        "EventStream.cycles" -> cycles.toString,
        "EventStream.cycle_ms" -> Json.num(Stats.median(c)),
        "EventStream.backlog_slices" -> Json.num(Stats.median(backlog.asScala.map(_.toDouble).toSeq)))
  }
}

/** serve_write's document-churn writer: `Warehouse.upsertPostingsFrom`
  * (the excluded slice, one batch at a time), `deleteDocIds` and
  * `undeleteDocs` of the previous delete, one call per pacer request, and
  * one `autoMaintain` once the window closes. It keeps its own model of
  * which documents should survive, for the end-state check.
  */
final class DocWriter(ctx: Ctx, dir: String, rnd: java.util.Random) {
  private val spark = ctx.spark
  import spark.implicits._
  private val stop_ = new AtomicBoolean(false)
  val writes = new ConcurrentLinkedQueue[(String, Double, Boolean)]()
  val actions = new ConcurrentLinkedQueue[String]()
  private val allIds: Vector[Long] =
    Tables.documents(spark, dir).select(col("doc_id")).as[Long].collect().toVector.sorted
  private val standing = allIds.filter(_ % Serve.ExcludeMod != 0)
  private val excluded = allIds.filter(_ % Serve.ExcludeMod == 0)
  // model: upserted ids, ids tombstoned now, ids purged by compaction
  private val upserted = scala.collection.mutable.Set[Long]()
  private var tombstoned = Set.empty[Long]
  private val purged = scala.collection.mutable.Set[Long]()
  private var pendingUndo = Seq.empty[Long]
  val pacer = new Pacer
  private var restoredSeen, restoredModel = 0L

  def stop(): Unit = stop_.set(true)

  /** Run one write call; false (and counted as failed) when it throws.
    * `due` is when the schedule wanted it; latency is measured from then.
    */
  private def timed(name: String, due: Long, record: Boolean = true)(body: => Unit): Boolean = {
    val req = ctx.runner.nextReq("w")
    spark.sparkContext.setJobGroup(req, name, interruptOnCancel = false)
    ctx.runner.attempted.incrementAndGet()
    val ok = try { ctx.tracer.span(req, name)(body); true }
      catch { case e: Throwable =>
        ctx.runner.failed.incrementAndGet()
        ctx.runner.problems.add(s"$name failed: ${e.getMessage}")
        false
      } finally spark.sparkContext.clearJobGroup()
    if (record) writes.add((name, (System.nanoTime() - due) / 1e6, ok))
    ok
  }

  private def upsert(cycle: Int, due: Long): Unit = {
    val batch = excluded.filter(id => (id / Serve.ExcludeMod) % Serve.UpsertBatches == cycle)
    if (timed("Warehouse.upsertPostings", due) {
      Warehouse.upsertPostingsFrom(
        Tables.documents(spark, dir).filter(col("doc_id").isin(batch: _*)),
        dir, batchKey = cycle + 1L)
    }) upserted ++= batch
  }

  /** Delete a seeded batch of standing documents. The set-up issues the
    * first one (`record` false), so the tombstone layer exists before
    * readers start.
    */
  def delete(cycle: Int, due: Long, record: Boolean = true): Unit = {
    val ids = Seq.fill(Serve.DeleteBatch)(standing(rnd.nextInt(standing.size))).distinct
    if (timed("Warehouse.deleteDocs", due, record) {
      Warehouse.deleteDocIds(spark, dir, ids, batchKey = cycle + 1L)
    }) {
      tombstoned ++= ids
      pendingUndo = ids
    }
  }

  private def undelete(cycle: Int, due: Long): Unit = {
    val undo = pendingUndo
    var restored = 0L
    if (timed("Warehouse.undeleteDocs", due) {
      restored = Warehouse.undeleteDocs(spark, dir, undo.toDF("doc_id"), batchKey = cycle + 1L)._1
    }) {
      restoredSeen += restored
      restoredModel += undo.count(id => tombstoned(id) && !purged(id))
      tombstoned --= undo
      pendingUndo = Nil
    }
  }

  /** Per cycle an upsert (while excluded batches remain), an undelete of
    * the pending delete and a new delete, one call per pacer request.
    */
  def threads(): Seq[Thread] = Seq(new Thread(() => {
    var cycle = 1
    var live = true
    def call(body: Long => Unit): Unit =
      if (live) pacer.next(stop_) match {
        case Some(due) => body(due)
        case None => live = false
      }
    while (live) {
      if (cycle <= Serve.UpsertBatches) call(upsert(cycle - 1, _))
      if (pendingUndo.nonEmpty) call(undelete(cycle, _))
      call(delete(cycle, _))
      cycle += 1
    }
  }, "doc-writer"))

  /** The maintenance pass once the writer has drained: compaction purges
    * every id tombstoned at that point.
    */
  def maintain(): Unit = {
    timed("Warehouse.autoMaintain", System.nanoTime()) {
      actions.addAll(Warehouse.autoMaintain(spark, dir).asJava)
    }
    purged ++= tombstoned
  }

  /** The documents the writer's model says survive. A maintenance pass
    * only moves tombstoned ids to purged, so it leaves this unchanged.
    */
  def survivors(): Seq[Long] =
    (standing ++ upserted).filterNot(id => tombstoned(id) || purged(id))

  /** The e16b digest of an index freshly landed over `alive`. */
  def freshDigest(alive: Seq[Long]): String = {
    val fresh = ctx.work.resolve("fresh-corpus")
    Tables.documents(spark, dir).filter(col("doc_id").isin(alive: _*))
      .write.parquet(fresh.resolve("documents.parquet").toString)
    Digest.of(RetrievalOps.bm25SearchIndexed(spark, fresh.toAbsolutePath.toString, 10))
  }

  /** The churned index must answer exactly as `want`, the fresh index
    * over the surviving documents ([[freshDigest]]).
    */
  def verify(probe: Op, want: String): Unit = {
    ctx.runner.verify("undeleteDocs restored count vs model",
                      restoredSeen.toString, restoredModel.toString)
    Warehouse.ensurePostings(spark, dir, excludeMod = Serve.ExcludeMod)
    val got = Digest.of(probe.entry())
    ctx.runner.verify("churned postings probe vs fresh index over surviving docs", got, want)
  }

  def record: Seq[(String, String)] = {
    val ws = writes.asScala.toSeq
    def med(n: String) = Json.num(Stats.median(ws.filter(_._1 == n).map(_._2)))
    val acts = actions.asScala.toSeq
    Seq("write_p50_ms" -> Json.num(Stats.median(
          ws.filter(_._1 != "Warehouse.autoMaintain").map(_._2))),
        "writes" -> ws.size.toString,
        "Warehouse.deleteDocs.ms" -> med("Warehouse.deleteDocs"),
        "Warehouse.undeleteDocs.ms" -> med("Warehouse.undeleteDocs"),
        "Warehouse.upsertPostings.ms" -> med("Warehouse.upsertPostings"),
        "Warehouse.autoMaintain.ms" -> med("Warehouse.autoMaintain"),
        "Warehouse.autoMaintain.actions" -> acts.size.toString,
        "Warehouse.aborts" -> acts.count(_.startsWith("aborted-")).toString,
        "Warehouse.autoMaintain.log" -> Json.arr(acts.map(Json.str)))
  }
}
