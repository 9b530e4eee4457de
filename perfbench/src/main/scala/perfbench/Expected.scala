package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.sources.Warehouse

/** The committed result digests, and the two modes that produce and
  * cross-check them.
  *
  *  - `--mode expect` runs every (entry point, argument) the workload can
  *    draw, once, and writes `{key: digest}`; the benchmark's expected
  *    files are this output, committed.
  *  - `--mode dump` writes the default-argument forms (the registered
  *    queries) as parquet next to `SparkEntry.oracleSqlFor`'s SQL, with
  *    their digests, for `oracle_check.py` to compare against DuckDB.
  */
object Expected {
  def load(path: String): Map[String, String] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(Files.readString(Paths.get(path)), classOf[java.util.Map[String, Object]])
      m.asScala.map { case (k, v) => k -> v.toString }.toMap
    }

  /** Registered query name of each default-argument key. */
  val Registered: Seq[(String, String)] = Seq(
    "MarketOps.tokenHistory(partkey=42)" -> "b16_token_history",
    "MarketOps.userTransactions(custkey=7)" -> "b17_user_transactions",
    "MarketOps.tokenDetail(partkey=42)" -> "b26_token_detail",
    "MarketOps.walletBids(custkey=7)" -> "b30_wallet_bids",
    "MarketOps.keysetPage(after=1997-07-01/0)" -> "b35_keyset_page",
    "MarketOps.orderDetail(orderkey=42)" -> "b38_order_detail",
    "RetrievalOps.bm25SearchIndexed(k=10)" -> "e16b_bm25_indexed") ++
    Corpus.Stages.map { case (q, m) => s"$m.$q" -> q }

  /** Every op the workload can issue. */
  private def allOps(ctx: Ctx): (String, Seq[Op]) = {
    val spark = ctx.spark
    val dir = ctx.corpusCopy("corpus")
    ctx.args.workload match {
      case "corpus_batch" => (dir, Corpus.ops(ctx, dir))
      case _ =>
        Warehouse.ensurePostings(spark, dir)
        val kinds = Serve.catalogue(spark, dir, Serve.dims(spark, dir), write = false)
        (dir, kinds.values.toSeq.sortBy(_.name).flatMap(k => (0 until k.size).map(k.op)))
    }
  }

  def generate(ctx: Ctx): Unit = {
    val (_, ops) = allOps(ctx)
    val got = ops.map { o =>
      val r = ctx.runner.run(o, ctx.runner.nextReq("x"))
      if (!r.ok) throw new IllegalStateException(s"${o.key}: ${r.error}")
      o.key -> r.digest
    }
    Files.writeString(Paths.get(ctx.args.out),
      got.sortBy(_._1).map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
        .mkString("{\n", ",\n", "\n}\n"))
  }

  def dump(ctx: Ctx): Unit = {
    val (dir, ops) = allOps(ctx)
    val byKey = ops.map(o => o.key -> o).toMap
    val out = Paths.get(ctx.args.out)
    val oracle = SparkEntry.oracleSqlFor(ctx.spark, dir)
    val rows = Registered.filter(r => byKey.contains(r._1)).map { case (key, q) =>
      val op = byKey(key)
      op.gate.foreach(_._2())
      val df = op.entry()
      df.write.mode("overwrite").parquet(out.resolve(q).toString)
      val digest = Digest.of(ctx.spark.read.parquet(out.resolve(q).toString))
      q -> Json.obj(Seq("key" -> Json.str(key), "digest" -> Json.str(digest),
                        "sql" -> oracle.get(q).map(Json.str).getOrElse("null")))
    }
    Files.writeString(out.resolve("dump.json"), Json.obj(rows) + "\n")
  }
}
