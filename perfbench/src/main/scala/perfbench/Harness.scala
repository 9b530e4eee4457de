package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One call the benchmark makes into the library.
  *
  * @param name   the entry point, as `<Module>.<function>`
  * @param param  the seeded arguments, rendered; part of the digest key
  * @param cls    `market`, `probe` or `stage`; sets which latency subset
  *               the call lands in
  * @param gate   an `ensure*` freshness gate run (and timed) before the
  *               entry call, named by its span
  * @param entry  builds the result frame (plan construction plus any
  *               eager work the library does inside the call)
  * @param checked whether the digest must equal the committed one; false
  *               for probes whose answer legitimately moves under churn
  */
final case class Op(name: String, param: String, cls: String,
                    gate: Option[(String, () => Unit)],
                    entry: () => DataFrame, checked: Boolean = true) {
  def key: String = if (param.isEmpty) name else s"$name($param)"
}

final case class Outcome(op: Op, req: String, startNs: Long, endNs: Long, ok: Boolean,
                         digest: String, error: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Order-independent result digest: row count plus the sum of 64-bit
  * row hashes. Floating-point columns hash their 9-significant-digit
  * rendering, so a partial-sum order change (a different file split)
  * cannot flip the digest while any real change in value does.
  */
object Digest {
  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => format_string("%.9g", x))
    case _ => c
  }

  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map(f => stable(df(s"`${f.name}`"), f.dataType))
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  /** `df` with an observation that yields its digest once an action on
    * the returned frame completes.
    */
  def observe(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val o = df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(rowHash(df).cast(DecimalType(38, 0))),
               lit(BigDecimal(0)).cast(DecimalType(38, 0))).as("h"))
    (o, obs)
  }

  def read(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${m("h")}"
  }

  /** Digest by a separate aggregation (for end-state checks). */
  def of(df: DataFrame): String = {
    val (o, obs) = observe(df)
    o.write.format("noop").mode("overwrite").save()
    read(obs)
  }
}

/** Runs [[Op]]s: job group, spans, timing, noop-sink materialisation,
  * digest check, and failure accounting. A call that throws or whose
  * digest mismatches counts as failed; the run goes on.
  */
final class Runner(spark: SparkSession, tracer: Tracer,
                   expected: Map[String, String]) {
  val attempted, failed = new AtomicLong
  private val reqSeq = new AtomicInteger
  private val firstSeen = new ConcurrentHashMap[String, String]()
  val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val digests = new ConcurrentHashMap[String, String]()

  private def note(msg: String): Unit =
    if (problems.size < 20) problems.add(msg)

  def nextReq(prefix: String): String = s"$prefix-${reqSeq.incrementAndGet()}"

  /** Run one op under job group `req`. */
  def run(op: Op, req: String): Outcome = {
    val sc = spark.sparkContext
    sc.setJobGroup(req, op.key, interruptOnCancel = false)
    val t0 = System.nanoTime()
    attempted.incrementAndGet()
    val out =
      try {
        tracer.span(req, "request") {
          op.gate.foreach { case (n, g) => tracer.span(req, n)(g()) }
          val df = tracer.span(req, "entry")(op.entry())
          val (o, obs) = Digest.observe(df)
          tracer.span(req, "materialise")(o.write.format("noop").mode("overwrite").save())
          val t1 = System.nanoTime()
          Outcome(op, req, t0, t1, ok = true, Digest.read(obs), "")
        }
      } catch {
        case e: Throwable =>
          Outcome(op, req, t0, System.nanoTime(), ok = false, "",
                  s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      } finally sc.clearJobGroup()
    check(out)
  }

  private def check(o: Outcome): Outcome = {
    if (!o.ok) {
      failed.incrementAndGet()
      note(s"${o.op.key} failed: ${o.error}")
      return o
    }
    digests.putIfAbsent(o.op.key, o.digest)
    if (!o.op.checked) return o
    val want = expected.get(o.op.key)
      .orElse(Option(firstSeen.putIfAbsent(o.op.key, o.digest)))
    want match {
      case Some(w) if w != o.digest =>
        failed.incrementAndGet()
        note(s"${o.op.key} digest ${o.digest} != expected $w")
        o.copy(ok = false, error = "digest mismatch")
      case _ => o
    }
  }

  /** Count a harness-level check (end-state comparisons). */
  def verify(what: String, got: String, want: String): Unit = {
    attempted.incrementAndGet()
    if (got != want) {
      failed.incrementAndGet()
      note(s"$what: $got != $want")
    }
  }
}

/** Counts ERROR and WARN log lines through a log4j2 appender on the root
  * logger.
  */
object LogCounter {
  val errors, warns = new AtomicLong
  private val firstErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def install(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-counter", null, null, true,
                                   Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.ERROR || e.getLevel == Level.FATAL) {
          errors.incrementAndGet()
          if (firstErrors.size < 3)
            firstErrors.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage.take(160)}")
        } else if (e.getLevel == Level.WARN) warns.incrementAndGet()
    }
    app.start()
    ctx.getConfiguration.addAppender(app)
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
  }

  def samples: Seq[String] = firstErrors.toArray.toSeq.map(_.toString)
}

/** Minimal JSON rendering for the result record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

object Stats {
  /** The p-th percentile, p in (0, 100), by the Harrell-Davis estimator:
    * a mean of all order statistics weighted by the Beta((n+1)p/100,
    * (n+1)(1-p/100)) distribution. A window holds a few dozen latencies
    * from a mix of request types with gaps between them; the sample
    * percentile (one or two order statistics) jumps across those gaps
    * from run to run, this estimate moves smoothly.
    */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.length
    val a = p / 100.0 * (n + 1)
    val b = (1 - p / 100.0) * (n + 1)
    def cdf(i: Int): Double =
      if (i <= 0) 0.0 else if (i >= n) 1.0
      else org.apache.commons.math3.special.Beta.regularizedBeta(i.toDouble / n, a, b)
    s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}
