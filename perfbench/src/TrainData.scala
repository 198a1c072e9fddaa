package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.{IncrementalAgg, MaintainedAgg, MaintainedJoin}
import graft.sim.AnnIndex
import graft.streaming.GraftSink
import graft.table.CowTable
import graft.text.{Bm25Index, LshDedupIndex, TextOps}

/** `train_data`: the training-data arrival loop, with incrementally
  * maintained views over the arriving corpus.
  *
  * Seeded document batches arrive; each carries near-duplicates of earlier
  * documents at a fixed rate (one token changed, embedding = the
  * original's plus small noise) and a synthetic embedding for every
  * document. Each document names one of `Sources` sources; a small
  * `sources` dimension table (tier, license) is churned every batch.
  *
  * Per batch, in order:
  *   - commit: `GraftSink.applyBatch` (exactly-once, into the
  *     commit-stamped corpus lake table), then `CowTable.upsert` and
  *     `CowTable.delete` of the batch's source changes;
  *   - consumers: `LshDedupIndex.ingest`, `Bm25Index.ingest`,
  *     `AnnIndex.nearDupCheck`, `AnnIndex.ingest` of the survivors,
  *     `MaintainedJoin.refresh` (corpus LEFT JOIN sources) and
  *     `MaintainedAgg.refresh` (per-tier document count and token
  *     sum/min/max over the join view);
  *   - reads: `Bm25Index.topDocs`, `AnnIndex.searchBatch`,
  *     `MaintainedAgg.current` and a SQL aggregate over the join view that
  *     the materialized-view rewrite answers from the maintained state.
  *
  * The first timed round also replays the previous batch id, which the
  * sink must skip. The run ends with the training-set build over the lake:
  * dedup survivorship, quality filter, leakage-safe split, sharded packing.
  */
final class TrainData(c: Ctx) extends Workload {
  val SeedDocs = 1000L
  val BatchDocs = 100L
  val DupPct = 10
  val Sources = 50L
  val SrcChurn = 3L // source rows changed per batch: two re-tiers, a delete
  val MaxBatches = 12
  val Dim = 64
  val Vocab = 400

  private val inDir = c.dir("input", "train")
  private var lake: String = _
  private var sink: GraftSink = _
  private var lsh: LshDedupIndex = _
  private var bm25: Bm25Index = _
  private var ann: AnnIndex = _
  private var sources: CowTable = _
  private var mj: MaintainedJoin = _
  private var ma: MaintainedAgg = _
  private var nextBatch = 0
  private var replayed: Option[Boolean] = None
  private val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  private var injected = Map.empty[Int, Long]

  // ------------------------------------------------------------ generation

  private val d = c.draw
  private val words: IndexedSeq[String] =
    IndexedSeq("the", "a", "of", "and", "to", "in") ++
      (0 until Vocab).map(i => s"w${Integer.toString(i * 7919 % 46656, 36)}")
  private val Tiers = Array("gold", "silver", "bronze", "quarantine")
  private val Licenses = Array("cc-by", "cc0", "proprietary")

  private val docSchema = StructType(Seq(
    StructField("batch", IntegerType), StructField("doc_id", LongType),
    StructField("text", StringType), StructField("src_id", LongType),
    StructField("n_tokens", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("dup", BooleanType)))
  private val srcSchema = StructType(Seq(
    StructField("src_id", LongType), StructField("tier", StringType),
    StructField("license", StringType)))

  /** Token `p` of the document whose content seed is `s` (skewed draw). */
  private def word(s: Long, p: Long): String = {
    val x = d.d(80, s, p)
    words((x * x * words.size).toInt)
  }

  /** Document `id`: a near-duplicate copies an earlier document (source
    * too) with one token changed, and the earlier document's embedding
    * plus small noise.
    */
  private def doc(id: Long): Row = {
    val dup = id > 0 && d.u(81, 100, id) < DupPct
    val src = if (dup) d.u(82, id, id) else id
    val len = 40 + d.u(83, 21, src).toInt
    val at = d.u(84, len, id)
    val text = (0L until len).map(p =>
      if (dup && p == at) word(id, p + 7777) else word(src, p)).mkString(" ")
    val emb = (0 until Dim).map { i =>
      val v = d.d(85, src, i) - 0.5
      (if (dup) v + (d.d(86, id, i) - 0.5) * 0.05 else v).toFloat
    }
    val batch = if (id < SeedDocs) 0 else ((id - SeedDocs) / BatchDocs + 1).toInt
    Row(batch, id, text, d.u(87, Sources, src), len.toLong, emb, dup)
  }

  private def srcRow(s: Long, v: Long): Seq[Any] =
    Seq(s, Tiers(d.u(90, Tiers.length, s, v).toInt),
      Licenses(d.u(91, Licenses.length, s).toInt))

  def generate(): Unit = {
    val rows = (0L until SeedDocs + MaxBatches * BatchDocs).map(doc)
    c.writeRows(rows, docSchema, s"$inDir/docs", Seq("batch"))
    injected = rows.filter(_.getBoolean(6))
      .groupMapReduce(_.getInt(0))(_ => 1L)(_ + _)
    c.writeRows((0L until Sources).map(s => Row.fromSeq(srcRow(s, 0L))),
      srcSchema, s"$inDir/sources_base")
    // per batch: two sources change tier, a third is deleted
    val picks = (1 to MaxBatches).map(b =>
      b -> (0L until Sources).sortBy(s => d.mix(92, b, s)).take(3))
    val batched = (sch: StructType) =>
      StructType(StructField("batch", IntegerType) +: sch.fields)
    c.writeRows(picks.flatMap { case (b, ss) =>
        ss.take(2).map(s => Row.fromSeq(b +: srcRow(s, b))) },
      batched(srcSchema), s"$inDir/sources_upd", Seq("batch"))
    c.writeRows(picks.map { case (b, ss) => Row(b, ss(2)) },
      batched(StructType(srcSchema.fields.take(1))), s"$inDir/sources_del",
      Seq("batch"))
  }

  private def path(b: Int) = s"$inDir/docs/batch=$b"
  private def batchDocs(b: Int) = c.spark.read.parquet(path(b))
    .select("doc_id", "text", "src_id", "n_tokens")
  private def batchEmbs(b: Int) = c.spark.read.parquet(path(b))
    .select(col("doc_id").as("vec_id"), col("embedding"))
  /** Raw embeddings of every document that arrived before batch `b`. */
  private def corpusEmbs(b: Int) = c.spark.read.parquet(s"$inDir/docs")
    .filter(col("batch") < b)
    .select(col("doc_id").as("vec_id"), col("embedding"))
  private def srcIn(t: String, b: Int) =
    c.spark.read.parquet(s"$inDir/sources_$t/batch=$b")
  private def lakeDocs() =
    c.spark.read.format("graft").load(s"$lake/train/corpus")
  private def lakeText() = lakeDocs().select("doc_id", "text")

  // ---------------------------------------------------------------- set-up

  def setUp(lakeDir: String): Unit = {
    lake = lakeDir
    val corpusPath = s"$lakeDir/train/corpus"
    sink = new GraftSink(() => new CowTable(c.spark, corpusPath,
      keyCols = Seq("doc_id"), trackCommitVersions = true))
    lsh = new LshDedupIndex(c.spark, s"$lakeDir/train/lsh", 3, 2)
    bm25 = new Bm25Index(c.spark, s"$lakeDir/train/bm25")
    ann = new AnnIndex(c.spark, s"$lakeDir/train/ann", 8, 8, 16, 16)
    pairs.clear()
    replayed = None
    val d0 = batchDocs(0)
    require(sink.applyBatch(d0, 0L), "seed corpus must apply")
    collectPairs(lsh.ingest(d0, lakeText(), 8, 10))
    bm25.ingest(d0)
    ann.build(batchEmbs(0))
    sources = new CowTable(c.spark, s"$lakeDir/train/sources",
      keyCols = Seq("src_id"), trackCommitVersions = true)
    sources.bulkInsert(c.spark.read.parquet(s"$inDir/sources_base"))
    mj = new MaintainedJoin(c.spark, s"$lakeDir/train/doc_src",
      CowTable.open(c.spark, corpusPath), sources,
      on = Seq("src_id" -> "src_id"), trackViewVersions = true)
    mj.refresh()
    ma = new MaintainedAgg(c.spark, s"$lakeDir/train/tier_agg", mj.table,
      IncrementalAgg.AggSpec(Seq("tier"), "n_tokens"),
      minMaxCols = Seq("n_tokens"))
    ma.refresh()
    graft.sources.MvRegistry.register(ma)
    nextBatch = 1
  }

  private def collectPairs(df: DataFrame): Long = {
    val ps = df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs ++= ps
    ps.length.toLong
  }

  def maxRounds: Int = MaxBatches

  def lakeRoots: Seq[String] = Seq(s"$lake/train")

  def tablePaths: Seq[String] = Seq("corpus", "sources", "doc_src",
    "tier_agg", "lsh", "bm25/postings", "bm25/doclens", "ann/coarse",
    "ann/pq", "ann/codes").map(p => s"$lake/train/$p")

  // ----------------------------------------------------------------- round

  def round(i: Int): Unit = {
    val b = nextBatch
    nextBatch += 1
    val rec = c.rec
    rec.inputBytes += Seq(path(b), s"$inDir/sources_upd/batch=$b",
      s"$inDir/sources_del/batch=$b").map(Fs.parquetBytes).sum
    val docs = batchDocs(b)
    val embs = batchEmbs(b)

    val t0 = c.now()
    c.op("streaming.apply")(require(sink.applyBatch(docs, b.toLong),
      s"batch $b must apply"))
    c.op("table.upsert")(sources.upsert(srcIn("upd", b)))
    c.op("table.delete")(sources.delete(srcIn("del", b)))
    rec.commitS += c.secs(t0)
    c.op("text.lsh_ingest") {
      rec.add("text.lsh_pairs",
        collectPairs(lsh.ingest(docs, lakeText(), 8, 10)).toDouble)
    }
    c.op("text.bm25_ingest")(bm25.ingest(docs))
    val flagged = c.op("sim.ann_check") {
      ann.nearDupCheck(embs, corpusEmbs(b), threshold = 0.9, nProbe = 4,
        shortlist = 50).filter(!col("keep")).select("vec_id").collect()
        .map(_.getLong(0))
    }.getOrElse(Array.empty[Long])
    c.op("sim.ann_ingest") {
      ann.ingest(embs.filter(!col("vec_id").isin(flagged.toSeq: _*)))
    }
    c.op("ivm.join_refresh")(mj.refresh())
    c.op("ivm.agg_refresh")(ma.refresh())
    rec.freshS += c.secs(t0)
    rec.rowsIn += BatchDocs + SrcChurn
    rec.add("ivm.feed_rows", (BatchDocs + SrcChurn).toDouble)
    rec.add("sim.flagged", flagged.length.toDouble)
    rec.add("sim.injected", injected.getOrElse(b, 0L).toDouble)

    if (i == 0) c.op("streaming.replay_skip") {
      replayed = Some(!sink.applyBatch(batchDocs(b - 1), (b - 1).toLong))
    }

    val q = words.drop(6)
    c.read("text.bm25_query") {
      bm25.topDocs(Seq(q((b * 7) % q.size), q((b * 13 + 5) % q.size)))
        .collect().length
    }
    val queryIds = (0 until 8).map(k => firstId(b) + k * 11L)
    c.read("sim.ann_search") {
      ann.searchBatch(embs, queryIds, nProbe = 4, shortlist = 50, topK = 10)
        .collect().length
    }
    c.read("ivm.current") { ma.current.collect().length }
    val hits = graft.sources.MvRewriteRule.hitLog
      .getOrElse(ma.table.basePath, 0L)
    c.read("sources.sql_mv") {
      val df = c.spark.sql(
        """SELECT tier, count(*) AS cnt, sum(n_tokens) AS total,
          |  min(n_tokens) AS min_n_tokens, max(n_tokens) AS max_n_tokens
          |FROM graft.train.doc_src GROUP BY tier""".stripMargin)
      c.tracer.span("sources.plan") { df.queryExecution.executedPlan }
      c.tracer.span("sources.exec") { df.collect() }
      df
    }.foreach(Scans.record(c, _))
    if (graft.sources.MvRewriteRule.hitLog
        .getOrElse(ma.table.basePath, 0L) > hits)
      rec.add("sources.mv_hits", 1)
  }

  private def firstId(b: Int): Long = SeedDocs + (b - 1) * BatchDocs

  // ----------------------------------------------------------------- after

  /** The training set over the lake: survivors of LSH dedup (from the
    * accumulated per-batch pairs), quality keep-filter, leakage-safe
    * split on the dedup clusters, sharded sequence packing.
    */
  private def trainingSet(): DataFrame = {
    import c.spark.implicits._
    val clusters = TextOps.dedupClusters(pairs.toSeq.toDF("doc_a", "doc_b"))
    val drop = clusters.filter(!col("is_canonical")).select("doc_id")
    val deduped = lakeText().join(broadcast(drop), Seq("doc_id"), "left_anti")
    val kept = TextOps.qualityClassify(deduped, 0L)
      .filter(col("keep")).select("doc_id", "q_score")
    val split = TextOps.leakageSafeSplit(deduped.join(kept, Seq("doc_id")),
      clusters, 10, 10)
    TextOps.sequencePackingSharded(
      split.select(col("doc_id"), col("split"), col("q_score"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
      "n_tokens", "doc_id", capacity = 2048L,
      shardCol = floor(col("doc_id") / lit(256)))
  }

  def finalBuild(): Unit =
    trainingSet().write.format("noop").mode("overwrite").save()

  def checks(): Seq[() => (String, Boolean, String)] = {
    import c.spark.implicits._
    val aggCols = Seq("tier", "cnt", "total", "min_n_tokens", "max_n_tokens")
      .map(col)
    Seq(
      () => {
        val got = pairs.toSeq.map { case (a, b) => (a min b, a max b) }.toSet
        val want = TextOps.lshNearDupPairs(lakeText(), 3, 2, 8, 10)
          .select("doc_a", "doc_b").as[(Long, Long)].collect()
          .map { case (a, b) => (a min b, a max b) }.toSet
        ("lsh_batch_pairs_equal_one_shot", got == want,
          s"batch_pairs=${got.size} one_shot=${want.size} " +
            s"only_batch=${(got -- want).size} " +
            s"only_one_shot=${(want -- got).size}")
      },
      () => ("replayed_batch_skipped", replayed.contains(true),
        s"replay_skipped=$replayed"),
      () => {
        val n = lakeDocs().count()
        val want = SeedDocs + (nextBatch - 1) * BatchDocs
        ("lake_holds_every_doc", n == want, s"rows=$n want=$want")
      },
      () => Diff.check("agg_current_equals_recompute",
        ma.current.select(aggCols: _*),
        ma.recompute(mj.table.snapshot()).select(aggCols: _*)),
      () => {
        val cols = mj.current.columns.filterNot(_ == CowTable.CommitVerCol)
          .toSeq.map(col)
        Diff.check("join_current_equals_recompute",
          mj.current.select(cols: _*), mj.recompute().select(cols: _*))
      })
  }

  def space(scratch: String): (Long, Long) = {
    val paths = tablePaths.filter(p => CowTable.existsAt(c.spark, p))
    paths.zipWithIndex.foreach { case (p, k) =>
      CowTable.open(c.spark, p).snapshot().drop(CowTable.CommitVerCol)
        .write.mode("overwrite").parquet(s"$scratch/t$k")
    }
    (paths.map(Fs.dirBytes).sum, Fs.parquetBytes(scratch))
  }

  override def extra: Map[String, Any] = Map("batches_applied" -> nextBatch,
    "seed_docs" -> SeedDocs, "batch_docs" -> BatchDocs, "sources" -> Sources,
    "lsh_pairs_total" -> pairs.size)
}
