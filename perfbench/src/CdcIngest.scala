package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.{CdcPipeline, TableConfig}
import graft.table.{CowTable, MorTable}

/** `cdc_ingest`: DMS-style CDC batches through `CdcPipeline.run` into a
  * two-table lake — `lineitem` (copy-on-write, partitioned by ship month)
  * and `orders` (merge-on-read, partitioned by order year, inline
  * compaction every 20 delta commits, i.e. every 10 batches). After each
  * batch the round runs a fixed read set.
  *
  * Inputs: a TPC-H-shaped base (`Orders` orders, ~4 lines each) and
  * `MaxBatches` CDC batches per table, all generated from the seed and
  * written as parquet before timing. A batch mixes ~20 % inserts, ~70 %
  * updates, ~10 % deletes; updates and deletes hit the newest 2 % of keys
  * with probability 0.95 and any key otherwise; ~5 % of events get a
  * second event for the same key later in the batch (insert then delete,
  * update then update, delete then re-insert).
  */
final class CdcIngest(c: Ctx) extends Workload {
  val Orders = 10000L
  val Months = 84 // 1992-01 .. 1998-12
  val LineBatch = 4000L
  val OrderBatch = 1000L
  val MaxBatches = 12
  val RecentMonth = "1998-07"

  private val lineCfg = TableConfig("bench", "tpch", "lineitem",
    primaryKey = "l_orderkey,l_linenumber", partitionKey = "l_shipmonth")
  private val orderCfg = TableConfig("bench", "tpch", "orders",
    primaryKey = "o_orderkey", partitionKey = "o_orderyear",
    storageType = "mor")

  private var pipe: CdcPipeline = _
  private var lake: String = _
  private val inDir = c.dir("input", "cdc")
  private var nextBatch = 0

  // ------------------------------------------------------------ generation

  private val d = c.draw
  private val Flags = Array("A", "N", "R")
  private val Status = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  private val lineSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_shipmonth", StringType)))
  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType),
    StructField("o_orderyear", IntegerType)))
  private val cdcCols = Seq(StructField("op", StringType),
    StructField("transaction_id", StringType))

  private def nLines(k: Long) = 1 + d.u(1, 7, k)
  // ship month follows the order key, so recent keys sit in recent months
  private def shipMonth(k: Long) = {
    val mi = math.min((k - 1) * Months / Orders, Months - 1)
    f"${1992 + mi / 12}%04d-${mi % 12 + 1}%02d"
  }
  private def lineRow(k: Long, ln: Long, v: Long): Seq[Any] = Seq(
    k, ln.toInt, 1 + d.u(2, 20000, k, ln), 1 + d.u(3, 1000, k, ln),
    (1 + d.u(4, 50, k, ln, v)).toDouble,
    (d.u(5, 10000000, k, ln, v) + 90000) / 100.0,
    d.u(6, 11, k, ln, v) / 100.0, d.u(7, 9, k, ln, v) / 100.0,
    Flags(d.u(8, 3, k, ln, v).toInt), shipMonth(k))
  private def orderRow(k: Long, v: Long): Seq[Any] = Seq(
    k, 1 + d.u(10, 3000, k), Status(d.u(11, 3, k, v).toInt),
    (d.u(12, 50000000, k, v) + 100000) / 100.0,
    Priorities(d.u(13, 5, k, v).toInt),
    1992 + math.min((k - 1) * 7 / Orders, 6L).toInt)

  /** CDC events of every batch for one table, in batch order:
    * (batch, op, transaction id, key, draw id). `perBatch` primary events
    * per batch; ~5 % get a second event for the same key later in the
    * batch.
    */
  private def events(perBatch: Long, salt: Int)
      : Seq[(Int, String, String, Long, Long)] =
    (0L until MaxBatches * perBatch).flatMap { id =>
      val b = (id / perBatch).toInt
      val r = d.u(salt, 100, id)
      val op = if (r < 20) "I" else if (r < 90) "U" else "D"
      val key =
        if (op == "I") Orders + 1 + id
        else if (d.u(salt + 1, 100, id) < 95) Orders - d.u(salt + 2, Orders / 50, id)
        else 1 + d.u(salt + 3, Orders, id)
      val first = (b, op, f"${2 * id + 1}%015d", key, id)
      if (d.u(salt + 4, 100, id) >= 5) Seq(first)
      else {
        val op2 = op match { case "I" => "D"; case "U" => "U"; case _ => "I" }
        Seq(first, (b, op2, f"${2 * id + 2}%015d", key, -id - 1))
      }
    }

  def generate(): Unit = {
    c.writeRows((1L to Orders).map(k => Row.fromSeq(orderRow(k, 0L))),
      orderSchema, s"$inDir/orders_base")
    c.writeRows((1L to Orders).flatMap(k =>
        (1L to nLines(k)).map(ln => Row.fromSeq(lineRow(k, ln, 0L)))),
      lineSchema, s"$inDir/lineitem_base")
    val withBatch = StructType(StructField("batch", IntegerType) +:
      (cdcCols ++ lineSchema.fields))
    c.writeRows(events(LineBatch, 20).map { case (b, op, txn, k, v) =>
        // an existing key updates one of its lines (a follow-up event, draw
        // id -id-1, keeps its primary's line); inserts are line 1
        val primary = if (v >= 0) v else -v - 1
        val ln = if (k > Orders) 1L else 1 + d.u(30, nLines(k), k, primary)
        Row.fromSeq(Seq(b, op, txn) ++ lineRow(k, ln, v))
      }, withBatch, s"$inDir/lineitem_cdc", Seq("batch"))
    c.writeRows(events(OrderBatch, 40).map { case (b, op, txn, k, v) =>
        Row.fromSeq(Seq(b, op, txn) ++ orderRow(k, v))
      }, StructType(StructField("batch", IntegerType) +:
        (cdcCols ++ orderSchema.fields)),
      s"$inDir/orders_cdc", Seq("batch"))
  }

  private def batchPath(t: String, b: Int) = s"$inDir/${t}_cdc/batch=$b"
  private def batch(t: String, b: Int): DataFrame =
    c.spark.read.parquet(batchPath(t, b))

  // ---------------------------------------------------------------- set-up

  def setUp(lakeDir: String): Unit = {
    lake = lakeDir
    pipe = new CdcPipeline(c.spark, lakeDir)
    pipe.run(lineCfg, c.spark.read.parquet(s"$inDir/lineitem_base"))
    pipe.run(orderCfg, c.spark.read.parquet(s"$inDir/orders_base"))
    nextBatch = 0
  }

  def maxRounds: Int = MaxBatches

  def lakeRoots: Seq[String] = Seq(pipe.tablePath(lineCfg),
    pipe.tablePath(orderCfg))

  def tablePaths: Seq[String] = lakeRoots

  private def lineTable = pipe.tableFor(lineCfg)
  private def orderTable = pipe.tableFor(orderCfg).asInstanceOf[MorTable]

  // ----------------------------------------------------------------- round

  def round(i: Int): Unit = {
    val b = nextBatch
    nextBatch += 1
    val rec = c.rec
    val lb = batch("lineitem", b)
    val ob = batch("orders", b)
    rec.inputBytes += Fs.parquetBytes(batchPath("lineitem", b)) +
      Fs.parquetBytes(batchPath("orders", b))
    val lineV0 = lineTable.latestVersion.getOrElse(0L)

    val t0 = c.now()
    val sl = c.op("cdc.run_cow")(pipe.run(lineCfg, lb))
    val so = c.op("cdc.run_mor")(pipe.run(orderCfg, ob))
    rec.commitS += c.secs(t0)
    Seq(sl, so).flatten.foreach { s =>
      rec.rowsIn += s.inputRows
      rec.add("cdc.rows_in", s.inputRows.toDouble)
      rec.add("cdc.rows_applied",
        (s.inserted + s.upserted + s.deleted).toDouble)
    }

    // freshness: a reader of the MOR table sees the batch
    c.read("table.realtime") {
      orderTable.realtime().filter(col("o_orderyear") >= 1998).count()
    }
    rec.freshS += c.secs(t0)
    sql("sources.sql_agg",
      s"""SELECT l_shipmonth, count(*) AS n, sum(l_extendedprice) AS s
         |FROM graft.bench.tpch.lineitem
         |WHERE l_shipmonth >= '$RecentMonth'
         |GROUP BY l_shipmonth""".stripMargin)
    sql("sources.sql_join",
      s"""SELECT o.o_orderpriority, count(*) AS n,
         |  sum(l.l_extendedprice) AS s
         |FROM graft.bench.tpch.lineitem l
         |JOIN graft.bench.tpch.orders o ON l.l_orderkey = o.o_orderkey
         |WHERE l.l_shipmonth >= '$RecentMonth'
         |GROUP BY o.o_orderpriority""".stripMargin)
    c.read("table.lookup") {
      lineTable.lookupByKeys(
        lb.select("l_orderkey", "l_linenumber", "l_shipmonth")).collect()
        .length
    }
    c.read("table.changes") { lineTable.changesSince(lineV0).count() }
  }

  /** SQL read through the `graft` catalog, with planning and execution
    * as separate spans.
    */
  private def sql(name: String, q: String): Unit = {
    c.read(name) {
      val df = c.spark.sql(q)
      c.tracer.span("sources.plan") { df.queryExecution.executedPlan }
      c.tracer.span("sources.exec") { df.collect() }
      df
    }.foreach(Scans.record(c, _))
  }

  // ------------------------------------------------------------ after

  /** Export of the lake's live rows (lineitem snapshot, orders realtime
    * view) as plain parquet — also the space-amplification baseline.
    */
  private def export(dir: String): Unit = {
    lineTable.snapshot().drop(CowTable.CommitVerCol)
      .write.mode("overwrite").parquet(s"$dir/lineitem")
    orderTable.realtime().drop(CowTable.CommitVerCol)
      .write.mode("overwrite").parquet(s"$dir/orders")
  }

  def finalBuild(): Unit = export(c.dir("export"))

  /** Independent replay of every generated event with plain DataFrame
    * ops: latest event per key by transaction id, deletes removed.
    */
  private def replay(t: String, keys: Seq[String], upTo: Int): DataFrame = {
    val base = c.spark.read.parquet(s"$inDir/${t}_base")
      .withColumn("op", lit("I"))
      .withColumn("transaction_id", lit("000000000000000"))
    val ev = c.spark.read.parquet(s"$inDir/${t}_cdc")
      .filter(col("batch") < upTo).drop("batch")
    val all = base.unionByName(ev)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("transaction_id").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "D")
      .drop("__rn", "op", "transaction_id")
  }

  def checks(): Seq[() => (String, Boolean, String)] = {
    // batches applied to the lake: warm-up + timed
    val n = nextBatch
    Seq(
      () => Diff.check("lineitem_matches_replay", lineTable.snapshot(),
        replay("lineitem", Seq("l_orderkey", "l_linenumber"), n)),
      () => Diff.check("orders_matches_replay", orderTable.realtime(),
        replay("orders", Seq("o_orderkey"), n)))
  }

  def space(scratch: String): (Long, Long) = {
    // the final build already wrote the live rows as plain parquet
    (lakeRoots.map(Fs.dirBytes).sum, Fs.parquetBytes(c.dir("export")))
  }

  override def extra: Map[String, Any] = Map(
    "batches_applied" -> nextBatch,
    "orders" -> Orders, "line_batch" -> LineBatch,
    "order_batch" -> OrderBatch)
}
