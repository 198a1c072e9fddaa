package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.table.{CowTable, MorTable}

/** Outcome summary of one pipeline run (the reference only logs counts —
  * processData.py:303,351,362,366 — we return them).
  */
final case class RunSummary(
    table: String,
    initialLoad: Boolean,
    inputRows: Long,
    inserted: Long = 0L,
    upserted: Long = 0L,
    deleted: Long = 0L)

/** Orchestration of one CDC processing run for one table — the Spark-native
  * equivalent of the reference's `process_raw_data`
  * (reference: processData.py:272-390).
  *
  * Dataflow (initial): scan → lowercase (P1) → drop bookkeeping (P2) →
  * empty-guard (M3) → bulk insert (K1).
  * Dataflow (incremental): scan → lowercase → latest-per-key dedup (W1, BEFORE
  * Op routing — required for intra-batch insert-then-delete correctness,
  * SURVEY.md §7.4) → route by Op (P3-P6) → upsert/insert/delete writes
  * (K2/K4/K3), inserts+updates before deletes as the reference orders them
  * (processData.py:348-382).
  */
final class CdcPipeline(spark: SparkSession, warehousePath: String) {

  def tablePath(cfg: TableConfig): String =
    s"$warehousePath/${cfg.relativePath}"

  /** Table handle for a config — the `hudi_storage_type` routing
    * (reference: processData.py:150-155, 220-221): `mor` selects
    * merge-on-read (log-append writes, `_ro`/`_rt` views), anything else
    * copy-on-write.
    */
  def tableFor(cfg: TableConfig): CowTable =
    if (cfg.storageType == "mor")
      new MorTable(spark, tablePath(cfg), cfg.pkCols, cfg.partitionCols,
        cfg.precombineField, numBuckets = cfg.numBuckets)
    else
      new CowTable(spark, tablePath(cfg), cfg.pkCols, cfg.partitionCols,
        cfg.precombineField, numBuckets = cfg.numBuckets)

  /** Session view name for a table — the `dl_<db>_<schema>.<table>` catalog
    * identity of the reference's hive sync, flattened for temp-view rules.
    */
  def viewName(cfg: TableConfig): String =
    s"${cfg.catalogDb}__${cfg.tableName}"

  /** Process one raw batch (full-load or CDC parquet already read into `raw`).
    * Mirrors processData.py:272-390 minus the AWS plumbing. Every
    * successful write re-syncs the session catalog view (K6 — the
    * reference's per-write hive sync, processData.py:160-169).
    */
  /** `preMergeHook` (optional) observes the batch's FINAL routed images —
    * (table-before-merges, deduped non-delete rows, deduped delete rows) —
    * before any merge commits, the interception point incremental-view
    * maintenance needs ([[IncrementalAgg.MaintainedView]]). Not invoked on
    * initial loads (views seed from the loaded table instead).
    */
  def run(cfg: TableConfig, raw: DataFrame,
      preMergeHook: (CowTable, DataFrame, DataFrame) => Unit =
        CdcPipeline.NoHook): RunSummary = {
    // P1 + persist: the source feeds several consumers (count, routing
    // branches) — cache it once (reference: processData.py:301).
    val df = CdcOps.lowercaseColumns(raw).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = df.count() // M2 (reference: processData.py:303)
      if (n == 0)        // M3 (reference: processData.py:305)
        return RunSummary(cfg.tableName, initialLoad = false, inputRows = 0)
      val table = tableFor(cfg)
      val summary =
        if (!table.exists) runInitial(cfg, table, df, n)
        else runIncremental(cfg, table, df, n, preMergeHook)
      if (table.exists) {
        table.registerView(viewName(cfg))
        // K6 persistent half: record the table in the warehouse catalog so
        // later sessions can re-attach it (the reference's Glue sync).
        new WarehouseCatalog(spark, warehousePath).sync(cfg)
      }
      summary
    } finally df.unpersist()
  }

  /** Initial/full load: no dedup (full loads assumed clean), bulk insert
    * (reference: processData.py:311,337-342).
    */
  private def runInitial(
      cfg: TableConfig, table: CowTable, df: DataFrame, n: Long): RunSummary = {
    // run() returned early on an empty batch, so the payload has rows
    // (reference: processData.py:340 tests emptiness here)
    table.bulkInsert(CdcOps.dropBookkeeping(df), cfg.bulkInsertParallelism)
    RunSummary(cfg.tableName, initialLoad = true, inputRows = n, inserted = n)
  }

  /** Incremental CDC batch (reference: processData.py:313-388).
    *
    * Robustness beyond the reference (which assumes incremental batches are
    * always CDC-shaped and would fail analysis otherwise): a batch WITHOUT
    * CDC columns arriving at an existing table — e.g. a full-load file
    * replayed after the bookmark state was lost — is treated as a pure
    * upsert of all rows, making re-runs idempotent.
    *
    * CAUTION (faithful to the reference, SURVEY.md §7.4): when the CDC
    * columns are PRESENT but null — e.g. a full-load file read through a
    * CDC superset schema, as a streaming file source does — the three-valued
    * Op filters drop those rows entirely, exactly as the reference's
    * `Op != 'D'` / `Op = 'D'` pair does. Stage full loads before the first
    * incremental pass (their natural order) to avoid the trap.
    */
  private def runIncremental(
      cfg: TableConfig, table: CowTable, df: DataFrame, n: Long,
      preMergeHook: (CowTable, DataFrame, DataFrame) => Unit): RunSummary = {
    val cols = df.columns.toSet
    if (!cols.contains("op") || !cols.contains("transaction_id")) {
      val payload0 = CdcOps.dropBookkeeping(df)
      // The hook must observe the images the merge will ACTUALLY apply:
      // mergeCommit precombines duplicate keys (greatest wins), so a raw
      // payload with in-batch duplicates would make a MaintainedView count
      // +1/+value per duplicate while the table keeps one row per key.
      // Only paid when a hook is installed — mergeCommit runs the same
      // precombine anyway, so without an observer the pass here would be
      // a wasted second shuffle+sort over the batch.
      val payload =
        if ((preMergeHook ne CdcPipeline.NoHook) &&
            table.precombineField.nonEmpty)
          CdcOps.precombine(payload0, table.mergeIdCols,
            table.precombineField)
        else payload0
      preMergeHook(table, payload, payload.limit(0))
      table.upsert(payload, cfg.upsertParallelism)
      return RunSummary(cfg.tableName, initialLoad = false, inputRows = n,
        upserted = n)
    }
    // W1 — collapse multiple events per key to the final one of the batch.
    val latest =
      CdcOps.latestPerKey(df, cfg.pkCols).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var inserted = 0L; var upserted = 0L; var deleted = 0L
      preMergeHook(table,
        CdcOps.dropBookkeeping(CdcOps.nonDeletes(latest)),
        CdcOps.dropBookkeeping(CdcOps.deletes(latest)))
      if (cfg.cdcSplitUpsert) {
        // K4 — route pure inserts through the cheap append path
        // (reference: processData.py:348-362).
        // one count per routed frame doubles as its emptiness test
        val ins = CdcOps.dropBookkeeping(CdcOps.inserts(latest))
        inserted = ins.count()
        if (inserted > 0) table.insertAppend(ins, cfg.bulkInsertParallelism)
        val upd = CdcOps.dropBookkeeping(CdcOps.updates(latest))
        upserted = upd.count()
        if (upserted > 0) table.upsert(upd, cfg.upsertParallelism)
      } else {
        // K2 — everything but deletes goes through the merge
        // (reference: processData.py:365-374).
        val upserts = CdcOps.dropBookkeeping(CdcOps.nonDeletes(latest))
        upserted = upserts.count()
        if (upserted > 0) table.upsert(upserts, cfg.upsertParallelism)
      }
      // K3 — deletes last (reference: processData.py:377-382).
      val dels = CdcOps.dropBookkeeping(CdcOps.deletes(latest))
      deleted = dels.count()
      if (deleted > 0) table.delete(dels, cfg.upsertParallelism)
      RunSummary(cfg.tableName, initialLoad = false, inputRows = n,
        inserted = inserted, upserted = upserted, deleted = deleted)
    } finally latest.unpersist()
  }

  /** Entry point A — the reference's `main()`: fetch the job's control
    * records and process each table's raw data in turn
    * (reference: processData.py:393-402). Raw paths follow the reference's
    * `raw/<db>/<schema>/<table>` layout with lower/UPPER-case dir spellings
    * both probed (processData.py:286-290); tables whose raw paths don't
    * exist yet are skipped with an empty summary.
    */
  def runAll(
      configs: Seq[TableConfig],
      jobName: String,
      rawRoot: String): Seq[RunSummary] =
    TableConfig.forJob(configs, jobName).map { cfg =>
      val candidates = Seq(
        s"$rawRoot/${cfg.relativePath}",
        s"$rawRoot/${cfg.dbName}/${cfg.schemaName}/${cfg.tableName.toUpperCase}")
      val existing = candidates.filter { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
      }
      if (existing.isEmpty)
        RunSummary(cfg.tableName, initialLoad = false, inputRows = 0)
      else run(cfg, readRaw(existing))
    }

  /** S1 — multi-path recursive parquet scan with case-variant candidate
    * paths, tolerant of candidates that don't exist
    * (reference: processData.py:286-298).
    */
  def readRaw(paths: Seq[String]): DataFrame = {
    val existing = paths.filter { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    require(existing.nonEmpty, s"no input paths exist among $paths")
    spark.read.option("recursiveFileLookup", "true").parquet(existing: _*)
  }
}

object CdcPipeline {
  /** The default no-op pre-merge hook. Compared by REFERENCE (`ne`) so the
    * pipeline can skip hook-only preparation work when nothing observes it.
    */
  val NoHook: (CowTable, DataFrame, DataFrame) => Unit = (_, _, _) => ()
}
