package graft.table

import scala.collection.immutable.ListMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, LongType, NumericType, StringType, StructField, StructType, TimestampType}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.cdc.CdcOps

/** Snapshot manifest: the complete file listing of one table version.
  *
  * Plays the role of Hudi's commit timeline (reference:
  * hoodie commit metadata + `hoodie.cleaner.commits.retained`,
  * processData.py:196-197): the newest `v{N}.json` under `_commits/` IS the
  * current snapshot; a manifest file appearing (atomic tmp+rename) IS the
  * commit. Readers never see partial writes because data files are written
  * under a per-commit directory before the manifest referencing them exists.
  *
  * `partitions` maps a partition key string (`"col=value[/col2=value2]"`,
  * values unescaped; `""` for unpartitioned tables) to the data files
  * (basePath-relative) holding that partition's current rows.
  *
  * Merge-on-read extensions (empty/zero for copy-on-write tables):
  * `logPartitions` lists each partition's delta-log files (parquet rows
  * carrying `_graft_log_op`/`_graft_log_commit` columns, merged at read by
  * [[MorTable]]); `deltaCommits` counts log commits since the last
  * compaction (drives the reference's every-N-delta-commits inline cadence,
  * processData.py:152-153); `lastCompaction` is the version of the last
  * compaction commit (bounds exact log-based incremental reads).
  */
final case class Manifest(
    version: Long,
    schemaJson: String,
    keyCols: Seq[String],
    partitionCols: Seq[String],
    precombineField: String,
    partitions: Map[String, Seq[String]],
    logPartitions: Map[String, Seq[String]] = Map.empty,
    deltaCommits: Long = 0L,
    lastCompaction: Long = 0L,
    /** Per-file record-key index (empty when the table doesn't maintain
      * one): key-string min/max range plus a bloom filter over the file's
      * key strings — the Hudi BLOOM-index state (the reference sets no
      * `hoodie.index.type`, so Hudi 0.10.1's default BLOOM index is what
      * its upserts implicitly use; Hudi keeps ranges+blooms in parquet
      * footers/metadata table, we keep them with the commit metadata).
      * Keyed by basePath-relative file path; files without an entry are
      * never pruned.
      */
    fileStats: Map[String, FileStat] = Map.empty,
    /** The write operation that produced this version (commit-metadata
      * audit trail, the `hoodie.commit` operation-type analog).
      */
    operation: String = "",
    /** Cheap per-commit counters (files/units — derived from the write's
      * own listings, never an extra Spark action).
      */
    metrics: Map[String, Long] = Map.empty,
    /** "cow" | "mor" — recorded at table creation so path-level consumers
      * ([[graft.sources.GraftDataSource]] writes, catalog re-attach) can
      * construct the RIGHT table class: a compacted MOR table is otherwise
      * indistinguishable from COW on disk, and opening it as COW would
      * silently change its write path from log-append to full rewrite.
      */
    storageType: String = "cow",
    /** Key-string encoding version for fileStats ranges and bloom
      * contents — fixed at table creation (probes must match the stored
      * encoding forever). 1 = plain cast(string); 2 = order-preserving
      * fixed-width for integral/timestamp/date key columns; 3 = v2 plus
      * IEEE-754 sign-flip doubles and unscaled fixed-scale decimals.
      */
    keyEncoding: Long = 1L,
    /** Creation-time physical configuration (buckets, clustering, commit
      * stamping, index sizing). Persisted so [[CowTable.open]] reconstructs
      * the table EXACTLY as created: without it, a table opened by path
      * silently stopped stamping commit versions and maintaining its file
      * index (incremental readers then lose rows written through the
      * source API). `None` only on pre-round-7 manifests — open() falls
      * back to inferring from the manifest's schema/stats, and the next
      * write through a properly-constructed table re-stamps the record.
      */
    props: Option[TableProps] = None,
    /** Change-feed tombstones: commit version (as string, for JSON) →
      * parquet files holding the identity columns + commit stamp of keys
      * that commit DELETED. What lets [[CowTable.changeFeed]] surface
      * deletes — a COW rewrite otherwise just makes rows vanish. Entries
      * age out with retention (a feed can look back `keepCommits`, same
      * bound as every incremental read).
      */
    tombstones: Map[String, Seq[String]] = Map.empty,
    /** Partition-drop records: commit version (as string, for JSON) → the
      * base/log listings of partitions that commit dropped WITHOUT reading
      * or writing any data (the Hudi `delete_partition` / `ALTER TABLE
      * DROP PARTITION` analog). The dropped files themselves serve as the
      * change-feed tombstone source — [[CowTable.changeFeed]] reads their
      * identity columns lazily and stamps them with the drop version, so a
      * 100-TB retention drop costs one manifest write, not a scan. Entries
      * age out with retention, exactly like [[tombstones]].
      */
    drops: Map[String, DropRecord] = Map.empty,
    /** Wall-clock commit time (epoch ms), stamped at publish — drives
      * `TIMESTAMP AS OF` time travel. 0 on pre-round-8 manifests (those
      * versions sort before any real timestamp, so timestamp travel on an
      * upgraded table resolves them only for timestamps predating the
      * first stamped commit).
      */
    commitTimeMs: Long = 0L,
    /** Deletion vectors (the Delta DV / Iceberg position-delete analog):
      * base-file relative path → the positions deleted from it, stored as
      * parquet sidecars of (file, row position) pairs plus the running
      * deleted-row count. A vectored delete marks rows dead WITHOUT
      * rewriting their file — at 100 TB a scattered GDPR-style delete
      * costs a key-column scan of the candidate files plus a tiny sidecar
      * write, instead of rewriting every touched file. Readers anti-join
      * the sidecars on (`_metadata.file_path`, `_metadata.row_index`);
      * files without an entry read natively. Entries vanish when their
      * base file leaves the listing (rewrite/compaction folds them —
      * [[CowTable.writeManifest]] sanitizes), and the sidecars share
      * cleaner liveness with the data ([[dvSidecarFiles]]).
      */
    dvs: Map[String, DvEntry] = Map.empty,
    /** Base files whose IN-FILE row order is NOT the declared
      * `clusterCols` order — the files a Z-ORDER rewrite produced
      * (z-sorted for two-axis file pruning, so per-file column stats
      * stay tight on BOTH axes). The bucket scan suppresses its
      * per-partition ordering claim for exactly these files, keeping
      * sort-merge joins sound, while every NORMAL commit rewrites its
      * candidate files clusterCols-sorted — so entries age out as merges
      * restore key locality (the publish funnel drops names no longer
      * in the listing, like [[dvs]]). Empty on pre-round-9 manifests.
      */
    unorderedFiles: Seq[String] = Nil,
    /** ANALYZE output (lowercased column → stats) — the table-level
      * statistics [[CowTable.analyze]] computed, served to Spark's
      * cost-based optimizer through the DSv2 scan when FRESH
      * ([[tableColStatsVersion]] == current version; any data commit
      * makes them stale and they silently stop being served until the
      * next analyze). NDV is HLL-approximate (order-independent);
      * null counts are exact; lengths are byte estimates.
      */
    tableColStats: Map[String, ColStatRec] = Map.empty,
    tableColStatsVersion: Long = 0L,
    /** Shadow tombstones for `ALTER TABLE DROP COLUMN` (lowercased
      * names): a metadata-only drop leaves the column's VALUES in every
      * file written before it, so re-adding the name would resurrect
      * them (parquet reads by name). Names stay here — and re-adds are
      * refused, writes carrying them rejected — until
      * [[CowTable.purgeDroppedColumns]] rewrites the files (the Delta
      * `REORG ... APPLY (PURGE)` analog) and clears the list.
      */
    droppedCols: Seq[String] = Nil,
    /** When non-empty, the file-scale maps (`partitions`,
      * `logPartitions`, `fileStats`, `dvs`) of THIS version were
      * externalized into the named content-addressed shard files under
      * `_commits/shards/` ([[CowTable.ManifestShardFileThreshold]]).
      * [[CowTable.readManifestFile]] resolves them transparently — an
      * in-memory Manifest ALWAYS carries the full maps; the refs remain
      * only for cleaner liveness and re-render. Untouched shards are
      * REUSED byte-identically across commits, so a small commit on a
      * million-file table rewrites ~1/32 of its metadata instead of all
      * of it.
      */
    shardRefs: Seq[String] = Nil) {
  def schema: StructType =
    org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
  /** All live data files — base AND delta logs (cleaner keys off this). */
  def files: Seq[String] =
    (partitions.valuesIterator ++ logPartitions.valuesIterator).flatten.toSeq
  /** Base files only (the read-optimized listing). */
  def baseFiles: Seq[String] = partitions.valuesIterator.flatten.toSeq
  /** Files the change feed still needs even though no live listing
    * references them: delete tombstones plus dropped-partition listings.
    * Cleaner/vacuum liveness must cover these or a retained feed window
    * would read deleted files.
    */
  def feedAnchoredFiles: Seq[String] =
    (tombstones.valuesIterator.flatten ++ drops.valuesIterator.flatMap(
      _.files)).toSeq
  /** Deletion-vector sidecar parquets (cleaner liveness: they must
    * survive exactly as long as the manifests referencing them).
    */
  def dvSidecarFiles: Seq[String] =
    dvs.valuesIterator.flatMap(_.files).toSeq.distinct
}

/** One [[Manifest.dvs]] entry: the parquet sidecars holding this base
  * file's deleted positions (a sidecar may carry positions for several
  * base files — readers match on the stored file path), and the file's
  * total deleted-row count (what [[CowTable.fastCount]] subtracts).
  */
final case class DvEntry(files: Seq[String], rows: Long)

/** One column's ANALYZE statistics ([[Manifest.tableColStats]]):
  * approximate distinct count, exact null count, average/max value byte
  * length — the inputs Spark's CBO join estimation consumes.
  */
final case class ColStatRec(
    ndv: Long, nulls: Long, avgLen: Long, maxLen: Long,
    /** Optional equi-height histogram (lo, hi, ndv) bins — numeric
      * columns only, computed when ANALYZE is asked for histograms.
      * Feeds CBO range/equality selectivity through the V2 stats
      * surface. `histoHeight` is the equi-height bin population
      * ((non-null rows) / bins, the Histogram.height contract).
      */
    histogram: Seq[(Double, Double, Long)] = Nil,
    histoHeight: Double = 0.0)

/** One [[Manifest.drops]] entry: the dropped partitions' base and delta-log
  * listings as they stood at the drop commit (basePath-relative paths).
  */
final case class DropRecord(
    partitions: Map[String, Seq[String]],
    logPartitions: Map[String, Seq[String]] = Map.empty) {
  def files: Seq[String] =
    (partitions.valuesIterator ++ logPartitions.valuesIterator).flatten.toSeq
}

/** One base file's record-key index entry: lexicographic min/max of the
  * file's key strings, plus the basePath-relative path of a SIDECAR file
  * holding an `org.apache.spark.util.sketch.BloomFilter` over them.
  *
  * The bloom lives next to the data (`files/c{v}/_index/…`), NOT inline in
  * the manifest: embedding blooms made manifests O(total-bloom-bytes) — a
  * measured 7 MB of JSON for 15 files of 200k keys, paid on EVERY
  * manifest parse/render/clean — while the sidecar keeps the manifest
  * O(files) and blooms load lazily, only for files that already passed
  * the range phase (the same reason Hudi keeps blooms in file
  * footers/metadata table rather than the timeline). Range checks are
  * sound in ANY total order as long as probe keys use the SAME key-string
  * encoding; blooms have no false negatives, so pruning never loses rows.
  */
/** A concurrent writer committed an overlapping change: the losing commit
  * was cleanly aborted with NO lost update — nothing it wrote is visible,
  * and its data directories are reclaimed (immediately best-effort, by
  * `vacuumOrphans` as backstop). Retry the operation against fresh state.
  */
final class ConcurrentWriteException(msg: String)
  extends RuntimeException(msg)

/** Creation-time table configuration recorded in every manifest (round 7+).
  * Mirrors the [[CowTable]] constructor knobs that change WRITE behavior —
  * the ones a path-only `open()` cannot see and must not lose.
  * `compactEvery` is MOR-only (ignored on COW).
  */
final case class TableProps(
    keepCommits: Int = 10,
    numBuckets: Int = 0,
    clusterCols: Seq[String] = Nil,
    trackCommitVersions: Boolean = false,
    fileIndexEntries: Int = 0,
    statsCols: Seq[String] = Nil,
    compactEvery: Int = 20,
    bloomCols: Seq[String] = Nil,
    checkConstraints: Seq[String] = Nil,
    deleteVectors: Boolean = false)

final case class FileStat(keyMin: String, keyMax: String, bloomRef: String,
    /** Optional per-column [min, max] (encoded order-preserving strings)
      * for the table's `statsCols` — file-level data skipping for range
      * scans on non-key columns (the Delta data-skipping analog;
      * `recluster` on a column is what makes its ranges tight).
      */
    colStats: Map[String, Seq[String]] = Map.empty,
    /** Exact row count of the file (rides the same index-building pass
      * that sizes the bloom). −1 on entries written before the field
      * existed — consumers ([[CowTable.fastCount]]) must treat those as
      * unknown, never as zero.
      */
    rows: Long = -1L,
    /** On-disk size of the file in bytes (one FS stat at commit time,
      * bounded by the files the commit wrote). −1 = unknown (pre-field
      * entry) — consumers ([[CowTable.compactBySize]]) stat the file
      * then. At scale this is what lets size-based maintenance plan from
      * the manifest alone, with zero object-store LIST/HEAD calls.
      */
    bytes: Long = -1L,
    /** Sidecar bloom refs for the table's `bloomCols` (column →
      * basePath-relative path, `<file>.<col>.bloom`): equality/IN
      * skipping on high-cardinality NON-clustered columns, where
      * [min, max] ranges span everything and prune nothing (the Hudi
      * metadata-bloom / Delta bloom-filter-index analog). Loaded
      * lazily, only for files that already passed the range phase.
      */
    colBloomRefs: Map[String, String] = Map.empty)

/** A keyed, partitioned, mutable table over plain Parquet — the native
  * re-implementation of the subset of Hudi copy-on-write semantics the
  * reference relies on (SURVEY.md §2.4): bulk insert (K1), keyed upsert (K2),
  * keyed delete (K3), cheap append for pure inserts (K4), commit
  * timeline + retention cleaning (K8).
  *
  * Scale design:
  *   - Copy-on-write rewrites ONLY partitions containing matched keys
  *     (partition-scoped rewrite — SURVEY.md §4): incoming keys are grouped by
  *     partition value, the current snapshot is read for just those
  *     partitions, merged via a single shuffle (`left_anti` + union), and
  *     written back. Untouched partitions keep their existing files.
  *   - Data files RETAIN the partition columns (the hive-style directory
  *     layout uses duplicated `__p_*` columns), so every file carries
  *     min==max column statistics for its partition value — scans over an
  *     explicit file list still get row-group-level partition pruning for
  *     free, and no fragile directory-schema inference is needed at read.
  *   - The merge anti-join shuffles both sides by the record key; small
  *     incoming batches against large snapshots broadcast automatically via
  *     AQE (threshold-based) — no driver-side collect of data ever happens
  *     (only the distinct partition VALUES, which are bounded by partition
  *     count, not row count).
  *
  * Concurrency: single writer assumed, as in the reference
  * (`maxConcurrentRuns: 1`, lib/glue-stack.ts:49).
  *
  * Not final: [[MorTable]] subclasses this to swap the write path for
  * delta-log appends and the read path for a read-time merge.
  */
class CowTable(
    val spark: SparkSession,
    val basePath: String,
    val keyCols: Seq[String],
    val partitionCols: Seq[String] = Nil,
    val precombineField: String = "",
    val keepCommits: Int = 10,
    val numBuckets: Int = 0,
    /** Columns to sort by WITHIN each written file (cluster-by): tightens
      * per-row-group min/max statistics so range predicates on these
      * columns prune row groups at scan time — the lightweight sibling of
      * Z-ordering for single-column locality.
      */
    val clusterCols: Seq[String] = Nil,
    /** Stamp each row with the commit version that last wrote it (the
      * `_hoodie_commit_time` analog, column [[CowTable.CommitVerCol]]).
      * Unchanged rows copied by a rewrite KEEP their original stamp, so
      * [[changesSince]] can filter to exactly the changed rows.
      */
    val trackCommitVersions: Boolean = false,
    /** Expected keys per file for the per-file record-key index
      * (> 0 enables it; Hudi's `hoodie.index.bloom.num_entries` default is
      * 60000). With the index on, every write records each new file's
      * key-string range + bloom in the manifest, and merges read ONLY the
      * files that can contain an incoming key — unmatched files are kept
      * as-is instead of rewritten. At 100 TB this is the difference
      * between rewrite cost scaling with partition size and scaling with
      * the batch's actual file fan-out (Hudi's default BLOOM index
      * semantics, which the reference's upserts implicitly use).
      */
    val fileIndexEntries: Int = 0,
    /** Columns to record per-file [min, max] ranges for (encoded
      * order-preserving, alongside the record-key index) — enables
      * [[snapshotForRange]] file-level data skipping. Only effective with
      * `fileIndexEntries > 0` (the stats ride the same index pass).
      */
    val statsCols: Seq[String] = Nil,
    /** `statsCols` members to ALSO build per-file sidecar BLOOMS for:
      * equality/IN probes on a high-cardinality column that is NOT
      * clustered (every file's [min, max] spans ~everything, so range
      * stats prune nothing) skip files through the bloom instead — the
      * Hudi metadata-bloom / Delta bloom-filter-index analog. Blooms
      * ride the same index pass, sized to each file's actual row count,
      * and load lazily only for range-phase survivors.
      */
    val bloomCols: Seq[String] = Nil,
    /** SQL CHECK constraints (boolean expressions over the table's
      * columns), enforced on EVERY write fused into the write scan —
      * see `withChecks`. SQL semantics: a row passes when the
      * expression is TRUE or NULL; a FALSE row fails the whole write
      * before its commit publishes. Creation-time config (persisted in
      * `TableProps`); expressions referencing columns a batch lacks
      * (absent-payload deletes) pass vacuously.
      */
    val checkConstraints: Seq[String] = Nil,
    /** Route [[delete]] through DELETION VECTORS ([[deleteVectored]])
      * instead of copy-on-write file rewrites: deleted positions are
      * recorded in parquet sidecars and filtered at read. Delete cost
      * drops from rewriting every candidate file to scanning their KEY
      * columns; reads of DV'd files pay an anti-join until a rewrite or
      * [[compact]]/[[compactBySize]] folds the vectors. COW-only (MOR
      * deletes are already O(deleted keys) log appends).
      */
    val deleteVectors: Boolean = false) {

  import CowTable._

  // id-based column resolution must be on before any file of an
  // id-stamped table is read or written in this session (see
  // CowTable.ensureFieldIdConfs — a no-op for everything else)
  CowTable.ensureFieldIdConfs(spark)

  /** Env-gated per-stage commit timing (GRAFT_TRACE_MERGE=1) — the
    * attribution tool behind the IVM fold latency work; zero cost when
    * the variable is unset.
    */
  private def traceMerge[X](tag: String)(f: => X): X = {
    val t0 = System.nanoTime(); val r = f
    if (sys.env.contains("GRAFT_TRACE_MERGE"))
      println(f"[mctrace] $tag%-12s ${(System.nanoTime() - t0) / 1e9}%6.2fs")
    r
  }

  /** Key-hash bucket expression (numBuckets > 0): Hudi-file-group-style
    * sub-partitioning. Records hash-route to a stable bucket, so a merge
    * rewrites only the buckets that contain matched keys — at 100 TB the
    * rewrite unit drops from whole partitions to partition/numBuckets.
    */
  private def bucketExpr: org.apache.spark.sql.Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets.toLong))

  protected def dirColsAll: Seq[String] =
    partitionCols.map(dirCol) ++
      (if (numBuckets > 0) Seq(dirCol(BucketCol)) else Nil)

  private val hadoopConf: Configuration =
    spark.sparkContext.hadoopConfiguration
  protected def fs: FileSystem = new Path(basePath).getFileSystem(hadoopConf)
  private def commitsDir = new Path(basePath, "_commits")
  /** Commit data directory. The random token makes CONCURRENT writers'
    * directories distinct: two writers racing toward the same version
    * number would otherwise both target `files/c{v}` and the second
    * `mode("overwrite")` parquet write would delete the first writer's
    * data before either manifest publishes. The version prefix remains a
    * retention label only — manifests reference full relative paths, so
    * readers never parse directory names.
    */
  private def commitDataDir(v: Long) = new Path(basePath,
    s"files/c$v-${java.util.UUID.randomUUID.toString.take(8)}")

  /** Initial-vs-incremental branch driver — the reference's
    * `isInitalLoad := NOT tableExists` catalog probe (processData.py:134-141).
    */
  def exists: Boolean = latestVersion.isDefined

  def latestVersion: Option[Long] =
    listVersions(fs, commitsDir).maxOption

  def manifest: Manifest = manifestAt(latestVersion.getOrElse(
    throw new IllegalStateException(s"table does not exist at $basePath")))

  def manifestAt(v: Long): Manifest = {
    val p = new Path(commitsDir, s"v$v.json")
    if (!fs.exists(p))
      throw new IllegalArgumentException(
        s"version $v is not retained at $basePath " +
          s"(cleaner keeps the latest $keepCommits commits)")
    readManifestFile(fs, p)
  }

  /** Newest retained version whose commit time is at or before `tsMs`
    * (epoch ms) — the `TIMESTAMP AS OF` resolution rule (Delta/Iceberg
    * semantics: latest commit not after the requested time). Pre-stamp
    * manifests (commitTimeMs = 0) sort before any real timestamp. Errors
    * when the timestamp predates every retained commit: resolving it to
    * the oldest retained version would silently misreport a state the
    * retention window no longer holds.
    */
  def versionAtTimestamp(tsMs: Long): Long = {
    val vs = listVersions(fs, commitsDir).sorted
    require(vs.nonEmpty, s"table does not exist at $basePath")
    val at = vs.reverseIterator.find(v => manifestAt(v).commitTimeMs <= tsMs)
    at.getOrElse(throw new IllegalArgumentException(
      s"timestamp $tsMs predates the earliest retained commit at " +
        s"$basePath (cleaner keeps the latest $keepCommits commits; " +
        s"earliest retained commit time: ${manifestAt(vs.min).commitTimeMs})"))
  }

  /** Current snapshot as a DataFrame (Hudi snapshot query equivalent). */
  def snapshot(): DataFrame = { val m = manifest; readFiles(m, m.baseFiles) }

  /** Time travel: the table exactly as of `version` (any retained commit —
    * Hudi's "as.of.instant" queries; retention bounds how far back).
    */
  def snapshotAt(version: Long): DataFrame = {
    val m = manifestAt(version)
    readFiles(m, m.baseFiles)
  }

  /** Incremental query: rows changed after `sinceVersion` (Hudi
    * incremental-query shape). Only files added by later commits are read;
    * with [[trackCommitVersions]] the result is EXACTLY the rows written
    * after `sinceVersion` (row-level filter on the commit stamp, pushed to
    * the parquet scan). Without tracking it is the file-granularity
    * superset — every row of each rewritten unit — which consumers de-dup
    * by key.
    */
  def changesSince(sinceVersion: Long): DataFrame =
    changesBetween(sinceVersion, manifest.version)

  /** Incremental query pinned at BOTH ends: rows changed in commit window
    * (sinceVersion, asOfVersion]. Replayable as long as both versions are
    * retained (keepCommits bounds how far back) — the contract a streaming
    * source needs to re-serve a batch after restart. `sinceVersion = 0`
    * means "from the beginning": the full snapshot as of `asOfVersion`.
    */
  def changesBetween(sinceVersion: Long, asOfVersion: Long): DataFrame = {
    require(sinceVersion <= asOfVersion,
      s"changesBetween: since=$sinceVersion > asOf=$asOfVersion")
    val cur = manifestAt(asOfVersion)
    val before =
      if (sinceVersion == 0L) Set.empty[String]
      else manifestAt(sinceVersion).baseFiles.toSet
    val added = readFiles(cur, cur.baseFiles.filterNot(before))
    if (trackCommitVersions)
      added.filter(CowTable.changedRowPredicate(sinceVersion))
    else added
  }

  /** Version-to-version snapshot DIFF: classify every row identity whose
    * image differs between two retained versions as Added / Removed /
    * Changed — the "what changed between Monday and Tuesday" audit query,
    * computable WITHOUT commit stamps (works on any table, across
    * compactions and reclusters).
    *
    * Scale path: a row cannot change without its file being rewritten OR
    * its file's deletion-vector entry changing, so only files present in
    * exactly one manifest — plus both-sided files whose DV entries
    * diverged — are read; the unchanged bulk of a 100-TB table never
    * leaves disk. Rows carried
    * identically through a rewrite (compaction, clustering, the untouched
    * remainder of a merged bucket) pair up in the full-outer join and are
    * dropped by the image comparison; service-only version windows
    * therefore diff EMPTY.
    *
    * Output: `_change_type` ∈ A/R/C + the `toVersion` schema; R rows
    * carry the removed image (null-padded if the schema evolved), C rows
    * the new image. Identity is the table's merge identity (key +
    * partition, null-safe); the commit-stamp column is excluded from the
    * comparison so re-stamped rewrites cannot misreport as changes.
    */
  def diff(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"diff: from=$fromVersion > to=$toVersion")
    val m1 = manifestAt(fromVersion)
    val m2 = manifestAt(toVersion)
    val f1 = m1.baseFiles.toSet
    val f2 = m2.baseFiles.toSet
    // a vectored delete/upsert changes a file's MASK, not the listing:
    // files present in both versions but with diverged deletion-vector
    // entries must join the compared sets (each side reads through its
    // own manifest's vectors, so the row-level delta surfaces)
    val dvChanged = (f1 ++ f2).filter(f => m1.dvs.get(f) != m2.dvs.get(f))
    diffFrames(
      readFiles(m1, m1.baseFiles.filter(f =>
        !f2(f) || dvChanged(f))),
      readFiles(m2, m2.baseFiles.filter(f =>
        !f1(f) || dvChanged(f))), m1, m2)
  }

  /** The classification join behind [[diff]]: `oldDf0`/`newDf0` are the
    * two versions' row images RESTRICTED to the storage units that differ
    * (files for COW, merged partitions for MOR) — rows identical on both
    * sides pair up and drop.
    */
  protected def diffFrames(oldDf0: DataFrame, newDf0: DataFrame,
      m1: Manifest, m2: Manifest): DataFrame = {
    val oldDf = oldDf0.withColumn("__in_old", lit(true))
    val newDf = newDf0.withColumn("__in_new", lit(true))
    val ids = mergeIdCols
    val common = m2.schema.fieldNames
      .filter(m1.schema.fieldNames.contains).toSeq
    val payload = common
      .filterNot(ids.contains).filterNot(_ == CommitVerCol)
    val o = oldDf.alias("o")
    val n = newDf.alias("n")
    val j = o.join(n,
      ids.map(c => col(s"o.$c") <=> col(s"n.$c")).reduce(_ && _),
      "full_outer")
    val sameImage = payload
      .map(c => col(s"o.$c") <=> col(s"n.$c"))
      .foldLeft(lit(true))(_ && _)
    val changeType = when(col("o.__in_old").isNull, "A")
      .when(col("n.__in_new").isNull, "R")
      .otherwise("C")
    val outCols = m2.schema.fieldNames.toIndexedSeq.map { c =>
      val newSide = col(s"n.$c")
      val oldSide = if (m1.schema.fieldNames.contains(c)) col(s"o.$c")
        else lit(null).cast(m2.schema(c).dataType)
      when(col("n.__in_new").isNotNull, newSide).otherwise(oldSide).as(c)
    }
    j.filter(col("o.__in_old").isNull || col("n.__in_new").isNull ||
        !sameImage)
      .select(changeType.as(ChangeTypeCol) +: outCols: _*)
  }

  /** Type-2 slowly-changing-dimension HISTORY reconstructed from the
    * retained timeline: one row per (identity, payload version) with its
    * validity interval in commit versions — `valid_from` (inclusive) to
    * `valid_to` (exclusive; null = current). The SCD2 table a warehouse
    * would maintain beside a mutable dimension, derived here on demand
    * with NO commit stamps and no extra write-path bookkeeping.
    *
    * Built as the union of per-commit [[diff]]s: an A/C row OPENS an
    * interval at its version, an R/C row CLOSES the previous one. Every
    * diff reads only that commit's rewritten files, so total cost is the
    * total CHURN across the window — the size of the history itself —
    * not versions × table size. Service commits diff empty and are
    * skipped by operation type. Look-back is bounded by retention
    * (`fromVersion` below the oldest retained manifest throws, same
    * contract as [[snapshotAt]]); schema evolution aligns by name with
    * null padding.
    */
  def scd2History(fromVersion: Long = 1L): DataFrame = {
    val head = manifest.version
    require(fromVersion >= 1L && fromVersion <= head,
      s"scd2History: fromVersion $fromVersion outside [1, $head]")
    val serviceOps = Set("cluster", "compact", "clean", "purge")
    // the base snapshot opens every identity at fromVersion
    val base = snapshotAt(fromVersion)
      .withColumn("__v", lit(fromVersion)).withColumn("__open", lit(true))
    val deltas = ((fromVersion + 1) to head).flatMap { v =>
      if (serviceOps.contains(
        scala.util.Try(manifestAt(v).operation).getOrElse("service")))
        Nil
      else {
        val d = diff(v - 1, v)
        val ct = col(CowTable.ChangeTypeCol)
        Seq(
          d.filter(ct.isin("A", "C")).drop(CowTable.ChangeTypeCol)
            .withColumn("__v", lit(v)).withColumn("__open", lit(true)),
          d.filter(ct.isin("R", "C")).drop(CowTable.ChangeTypeCol)
            .withColumn("__v", lit(v)).withColumn("__open", lit(false)))
      }
    }
    val events = deltas.foldLeft(base)(
      (a, b) => a.unionByName(b, allowMissingColumns = true))
    val ids = mergeIdCols
    // each open's valid_to = the next CLOSE version for the identity;
    // one window pass (closes sort before opens within a version so a
    // C-at-v close never grabs its own reopening)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(ids.map(col): _*)
      .orderBy(col("__v"), col("__open"))
      .rowsBetween(1, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    events
      .withColumn("valid_to",
        min(when(!col("__open"), col("__v"))).over(w))
      .filter(col("__open"))
      .withColumnRenamed("__v", "valid_from")
      .drop("__open")
  }

  /** Change feed over commit window (sinceVersion, asOfVersion]: every
    * changed row typed [[CowTable.ChangeTypeCol]] = "U", plus a "D" row
    * (identity columns + commit stamp, other columns null) for every key
    * the window's commits DELETED — the Delta-CDF / Hudi
    * `_hoodie_is_deleted` analog, which plain [[changesBetween]] cannot
    * express (a COW rewrite just makes rows vanish). Deletes surface from
    * [[delete]] commits, conditional [[mergeInto]] deletes, MOR delete
    * logs and compactions folding them. A "D" superseded by a later
    * re-insert INSIDE the window is dropped, so applying the feed as one
    * keyed merge yields the final image. Requires [[trackCommitVersions]]
    * (the stamp bounds replays exactly); look-back bounded by retention.
    */
  def changeFeed(sinceVersion: Long, asOfVersion: Long): DataFrame = {
    require(trackCommitVersions,
      s"changeFeed needs trackCommitVersions=true at $basePath")
    val cur = manifestAt(asOfVersion)
    val ups = changesBetween(sinceVersion, asOfVersion)
      .withColumn(ChangeTypeCol, lit("U"))
    shapeFeed(ups, tombstoneRows(cur, sinceVersion, asOfVersion), cur.schema)
  }

  /** [[changeFeed]] plus Delta-CDF-style BEFORE-images: one "B" row per
    * window-touched identity that existed at `sinceVersion`, carrying the
    * stored image as of then (padded to the current schema if it evolved).
    * An insert has U only; an update has U + B; a delete has D + B; a key
    * inserted AND deleted inside the window has neither U nor B — its net
    * effect is zero. Feed-driven consumers get exact retraction algebra
    * with no second probe: +U, -B, ignore D (its B carries the
    * retraction) reproduces any abelian aggregate of the table.
    */
  def changeFeedWithPreimages(
      sinceVersion: Long, asOfVersion: Long): DataFrame = {
    val feed0 = changeFeed(sinceVersion, asOfVersion)
    if (sinceVersion == 0L) return feed0 // nothing existed before
    // checkpoint the window feed ONCE before deriving the preimage
    // probe: the probe's point-read pruning (partition-value collect +
    // candidate-file probe) and the final union's feed branch would
    // otherwise EACH re-evaluate the whole change-feed subtree — 3-4
    // scans of the churn window instead of one. The feed is
    // churn-sized, so the materialization is bounded by the window.
    val feed = feed0.localCheckpoint()
    val cur = manifestAt(asOfVersion)
    val idCols = (keyCols ++ partitionCols).distinct
    val probe = feed.select(idCols.map(col): _*).distinct()
    val before = pad(preimagesAt(sinceVersion, probe), cur.schema)
    feed.unionByName(
      before.withColumn(ChangeTypeCol, lit("B").cast("string")))
  }

  /** Stored images of the probed identities as of `version` — COW resolves
    * through the historical manifest's file index (pruned point read).
    */
  protected def preimagesAt(version: Long, probe: DataFrame): DataFrame =
    lookupIn(manifestAt(version), probe)

  /** Window's tombstone rows (idCols + commit stamp) from the manifest's
    * tombstone record, stamp-filtered (compaction-written tombstones carry
    * their ORIGINAL delete stamps).
    */
  protected def tombstoneRows(
      cur: Manifest, since: Long, asOf: Long): Option[DataFrame] = {
    val files = cur.tombstones.collect {
      case (vs, fs) if vs.toLong > since && vs.toLong <= asOf => fs
    }.flatten.toSeq
    val idCols = (keyCols ++ partitionCols).distinct
    val tsSchema = StructType(
      cur.schema.fields.filter(f => idCols.contains(f.name)) :+
        org.apache.spark.sql.types.StructField(CommitVerCol,
          org.apache.spark.sql.types.LongType))
    // same changed-row rescue as data scans: an OCC-rebased delete's
    // tombstone rows keep their tentative stamp (== the t{v}- dir prefix)
    val fileRows =
      if (files.isEmpty) Nil
      else Seq(readFilesWithSchema(tsSchema, files)
        .filter(CowTable.changedRowPredicate(since) &&
          col(CommitVerCol) <= asOf))
    // metadata-only partition drops: every identity live at the drop is a
    // "D" stamped with the DROP version (rows in the dropped files carry
    // their original write stamps — irrelevant here; the drop is the
    // deleting commit)
    val dropRows = cur.drops.toSeq.collect {
      case (vs, rec) if vs.toLong > since && vs.toLong <= asOf =>
        droppedIdentities(cur, rec)
          .withColumn(CommitVerCol, lit(vs.toLong))
          .select(tsSchema.fieldNames.toIndexedSeq.map(col): _*)
    }
    val all = fileRows ++ dropRows
    if (all.isEmpty) None else Some(all.reduce(_ unionByName _))
  }

  /** Union U rows with D tombstones padded to the row schema, dropping
    * tombstones a same-window re-insert superseded.
    */
  protected def shapeFeed(ups: DataFrame, dels: Option[DataFrame],
      schema: StructType): DataFrame = dels match {
    case None => ups
    case Some(d0) =>
      val idCols = (keyCols ++ partitionCols).distinct
      val shaped = d0.select(schema.fields.toIndexedSeq.map { f =>
        if (idCols.contains(f.name) || f.name == CommitVerCol)
          col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ lit("D").cast("string").as(ChangeTypeCol): _*)
      val upKeys = ups.select(idCols.map(col): _*).distinct()
      val live = shaped.join(upKeys,
        idCols.map(c => shaped(c) <=> upKeys(c)).reduce(_ && _),
        "left_anti")
      ups.unionByName(live)
  }

  /** Indexed point lookup: current-snapshot rows whose record key appears
    * in `probe` — the READ side of the record-key file index. Partition
    * pruning (the probe must carry the partition columns when the table is
    * partitioned, as CDC batches do) narrows to touched units; within
    * them, the min/max range + sidecar bloom checks keep only files that
    * can contain a probe key. A point lookup over a 100-TB table reads the
    * probe's file fan-out, not the table. With the index off it degrades
    * to the partition-pruned scan.
    */
  def lookupByKeys(probe: DataFrame): DataFrame = lookupIn(manifest, probe)

  /** [[lookupByKeys]] pinned at a historical version — the stored images
    * the keys had THEN (bounded by retention, like [[snapshotAt]]). The
    * retraction read of feed-driven incremental maintenance: old images
    * come from the version the consumer's mark pins, not from whatever
    * the table has moved on to.
    */
  def lookupByKeysAt(version: Long, probe: DataFrame): DataFrame =
    lookupIn(manifestAt(version), probe)

  protected def lookupIn(m: Manifest, probe: DataFrame): DataFrame =
    lookupInTouched(m, probe)._1

  /** [[lookupIn]] that ALSO returns the probe's partition/bucket key set
    * (pre-intersection — every unit a probe key routes to, stored or
    * not). Point-read callers that go on to MERGE a batch whose keys are
    * a subset of the probe reuse it as [[mergeInto]]'s `touchedKeys`
    * hint, skipping the merge's own touched-keys job over the (usually
    * far heavier) incoming plan.
    */
  protected def lookupInTouched(m: Manifest, probe: DataFrame)
      : (DataFrame, Set[String]) = {
    val probed = touchedPartitionKeys(probe)
    val existing = probed.intersect(m.partitions.keySet)
    val (candFiles, _) =
      if (fileIndexEntries > 0) pruneCandidateFiles(m, existing, probe)
      else (existing.toSeq.sorted.flatMap(k =>
        m.partitions.getOrElse(k, Nil)), Map.empty[String, Seq[String]])
    // Identity is NON-GLOBAL (key + partition, matching the merge scope):
    // when the probe carries the partition columns, they join too —
    // otherwise a record key present in two touched partitions would match
    // rows the caller's partition never touched (e.g. IncrementalAgg would
    // retract an image the merge did not replace).
    val idCols = (keyCols ++
      partitionCols.filter(probe.columns.contains)).distinct
    val stored = readFiles(m, candFiles)
    val probeKeys = probe.select(idCols.map(col): _*).distinct()
    // null-safe: null partition values (hive default partition) must match
    (stored.join(probeKeys,
      idCols.map(c => stored(c) <=> probeKeys(c)).reduce(_ && _),
      "left_semi"), probed)
  }

  /** [[lookupByKeys]] plus the probe's partition/bucket key set — see
    * [[lookupInTouched]] for the merge-hint contract.
    */
  def lookupByKeysTouched(probe: DataFrame): (DataFrame, Set[String]) =
    lookupInTouched(manifest, probe)

  /** Snapshot restricted to the given manifest partition keys — the
    * partition-pruned read used by upsert/delete merges.
    */
  def snapshotFor(m: Manifest, partKeys: Set[String]): DataFrame =
    readFiles(m, partKeys.toSeq.sorted.flatMap(k =>
      m.partitions.getOrElse(k, Nil)))

  protected def readFiles(m: Manifest, files: Seq[String]): DataFrame =
    if (m.dvs.isEmpty) readFilesWithSchema(m.schema, files)
    else {
      // Deletion-vector read: files WITHOUT a vector read natively (zero
      // overhead); only DV'd files pay the positional anti-join. Both
      // sides join in the absolute path space of [[CowTable.dvScanId]] /
      // [[CowTable.readDvPositions]], so a relocated or cloned table
      // keeps matching its sidecars.
      val (dvd, cleanFls) = files.partition(m.dvs.contains)
      val clean = readFilesWithSchema(m.schema, cleanFls)
      if (dvd.isEmpty) clean
      else {
        val cols = m.schema.fieldNames.toIndexedSeq.map(col)
        val withMeta = ManifestListing.read(spark, addDirCols(m.schema),
            dvd.map(f => CowTable.resolveFile(basePath, f)))
          .select(cols :+
            CowTable.dvScanId(col("_metadata.file_path")).as(DvFileCol) :+
            col("_metadata.row_index").as(DvPosCol): _*)
        val refs = dvd.flatMap(f => m.dvs(f).files).distinct
        val dv0 = CowTable.readDvPositions(spark, basePath, refs)
        // the manifest knows the deleted-row count and path lengths:
        // force-broadcast only while the estimated payload is small
        val dv =
          if (CowTable.dvBroadcastable(m, dvd)) broadcast(dv0) else dv0
        clean.unionByName(withMeta.join(dv,
          withMeta(DvFileCol) === dv(DvFileCol) &&
            withMeta(DvPosCol) === dv(DvPosCol),
          "left_anti").select(cols: _*))
      }
    }

  /** Read an explicit file list with an explicit row schema (the schema may
    * include extra columns absent from some files — parquet null-fills).
    */
  protected def readFilesWithSchema(
      schema: StructType, files: Seq[String]): DataFrame = {
    val cols = schema.fieldNames.toIndexedSeq.map(col)
    if (files.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema)
    else
      ManifestListing.read(spark, addDirCols(schema),
        files.map(f => CowTable.resolveFile(basePath, f)))
        .select(cols: _*)
  }

  // Reads pass an explicit schema that includes the duplicated __p_* dir
  // columns so no footer-merging/inference pass is needed; the select above
  // immediately prunes them back out.
  private def addDirCols(schema: StructType): StructType = {
    val byName = schema.fields.map(f => f.name -> f).toMap
    partitionCols.foldLeft(schema)((s, c) => s.add(dirCol(c), byName(c).dataType))
  }

  /** DDL-style creation: publish version 1 with the declared schema and
    * an EMPTY file listing (no data). Subsequent writes go through the
    * normal keyed paths — an upsert against the empty snapshot is a pure
    * insert. What `CREATE TABLE ... USING graft` maps to.
    */
  def createEmpty(schema0: StructType): Unit = {
    require(!exists, s"createEmpty on existing table $basePath")
    require(keyCols.forall(schema0.fieldNames.contains),
      s"schema must carry the record key columns $keyCols; " +
        s"got ${schema0.fieldNames.toSeq}")
    require(partitionCols.forall(schema0.fieldNames.contains),
      s"schema must carry the partition columns $partitionCols")
    val schema =
      if (trackCommitVersions &&
          !schema0.fieldNames.contains(CommitVerCol))
        schema0.add(CommitVerCol, org.apache.spark.sql.types.LongType)
      else schema0
    writeManifest(Manifest(1L,
      withFieldIds(nullableSchema(stripFieldIds(schema))).json,
      keyCols, partitionCols,
      precombineField, Map.empty,
      operation = "create",
      storageType = storageTypeName,
      keyEncoding = CowTable.CurrentKeyEncoding))
  }

  /** K1 — bulk insert: first write of a brand-new table
    * (reference: processData.py:337-342, bulk_insert config :207-213).
    */
  def bulkInsert(df: DataFrame, parallelism: Int = 0,
      extraMetrics: Map[String, Long] = Map.empty): Unit = {
    require(!exists, s"bulkInsert on existing table $basePath")
    require(keyCols.forall(df.columns.contains),
      s"bulkInsert data must carry the record key columns $keyCols; " +
        s"got ${df.columns.toSeq}")
    // new tables stamp stable parquet field ids from file one — the
    // precondition for metadata-only RENAME COLUMN (see
    // CowTable.FieldIdKey)
    val data = {
      val stamped = stamp(df, 1L)
      // nullable-normalized (see evolveSchema) + field-id-stamped
      pad(stamped,
        withFieldIds(nullableSchema(stripFieldIds(stamped.schema))))
    }
    val files = writeCommit(data, 1L, parallelism)
    writeManifest(withFileStats(
      Manifest(1L, data.schema.json, keyCols, partitionCols,
        precombineField, files,
        operation = "bulk_insert",
        metrics = CowTable.writeStats(files) ++ extraMetrics,
        storageType = storageTypeName,
        keyEncoding = CowTable.CurrentKeyEncoding),
      files, data.schema))
  }

  /** The storage type recorded in every manifest this table writes. */
  protected def storageTypeName: String = "cow"

  /** MOR inline-compaction cadence for the props record (COW: unused). */
  protected def inlineCompactEvery: Int = 0

  /** The live object's creation-time config, re-stamped into every commit
    * (see [[Manifest.props]]) — the record always reflects how the LAST
    * writer actually behaved, which also heals pre-round-7 manifests on
    * their first write through a properly-constructed table.
    */
  protected def currentProps: TableProps = TableProps(
    keepCommits = keepCommits,
    numBuckets = numBuckets,
    clusterCols = clusterCols,
    trackCommitVersions = trackCommitVersions,
    fileIndexEntries = fileIndexEntries,
    statsCols = statsCols,
    compactEvery = inlineCompactEvery,
    bloomCols = bloomCols,
    checkConstraints = checkConstraints,
    deleteVectors = deleteVectors)

  /** Full-replace commit (`SaveMode.Overwrite` through the source API):
    * the new data's files become the ENTIRE base listing; on MOR any
    * pending delta logs are dropped with the data they amended. History
    * stays time-travelable within retention.
    */
  def overwrite(df: DataFrame, parallelism: Int = 0,
      extraMetrics: Map[String, Long] = Map.empty): Unit = {
    require(keyCols.forall(df.columns.contains),
      s"overwrite batch must carry the record key columns $keyCols; " +
        s"got ${df.columns.toSeq}")
    if (!exists) { bulkInsert(df, parallelism, extraMetrics); return }
    val m = manifest
    val v = m.version + 1
    val stamped = stamp(df, v)
    val evolved = evolveSchema(m, stamped.schema)
    val newFiles = writeCommit(pad(stamped, evolved), v, parallelism,
      idSchema = evolved)
    writeManifest(withFileStats(
      m.copy(version = v, schemaJson = evolved.json, partitions = newFiles,
        logPartitions = Map.empty, deltaCommits = 0L,
        operation = "overwrite",
        metrics = CowTable.writeStats(newFiles) ++ extraMetrics),
      newFiles, evolved))
    clean()
  }

  /** Commit-version stamp for incoming rows (no-op unless tracking). */
  protected def stamp(df: DataFrame, v: Long): DataFrame =
    if (trackCommitVersions) df.withColumn(CommitVerCol, lit(v)) else df

  /** K4 fast path — append rows without merging (the `cdc_split_upsert`
    * routing of pure inserts through the cheap insert path,
    * reference: processData.py:348-358). No anti-join, no rewrite: new files
    * are ADDED to each partition's listing.
    */
  def insertAppend(df: DataFrame, parallelism: Int = 0,
      extraMetrics: Map[String, Long] = Map.empty): Unit = {
    val m = manifest
    val v = m.version + 1
    val stamped = stamp(df, v)
    val evolved = evolveSchema(m, stamped.schema)
    val incoming = pad(stamped, evolved)
    val newFiles = writeCommit(incoming, v, parallelism,
      idSchema = evolved)
    val merged = mergeListings(m.partitions, newFiles)
    writeManifest(withFileStats(
      m.copy(version = v, schemaJson = evolved.json,
        partitions = merged,
        operation = "insert_append",
        metrics = CowTable.writeStats(newFiles) ++ extraMetrics),
      newFiles, evolved))
    clean()
  }

  /** K2 — keyed upsert (merge): each incoming row replaces the stored row
    * with the same record key, inserting if absent; intra-batch same-key
    * conflicts resolved by the precombine field (greatest wins)
    * (reference: processData.py:368-374, upsert config :193-199,
    * precombine :161).
    *
    * Index semantics are Hudi's DEFAULT (non-global) index, as the reference
    * uses it: record identity is (record key, partition value) — an update
    * arriving with a different partition value creates a new row in that
    * partition rather than moving the old one.
    */
  def upsert(df: DataFrame, parallelism: Int = 0,
      extraMetrics: Map[String, Long] = Map.empty): Unit =
    mergeCommit(df, parallelism, "upsert", extraMetrics) { (cur, incoming) =>
      cur.join(incoming, idMatch(cur, incoming), "left_anti")
        .unionByName(incoming)
    }

  /** Record identity for merges: (record key, partition value) — Hudi's
    * non-global index, matching [[MorTable]]'s read-time merge. Joining on
    * the key alone would let an incoming row for one partition evict the
    * same key's independent record in ANOTHER partition that happens to be
    * touched by the same batch.
    */
  def mergeIdCols: Seq[String] = (keyCols ++ partitionCols).distinct

  /** Null-safe identity match: partition values may legitimately be null
    * (the hive default partition), and `Seq`-column joins use null-unsafe
    * equality — a null-partition record would never match itself and the
    * merge would duplicate instead of replace.
    */
  private def idMatch(left: DataFrame, right: DataFrame): Column =
    mergeIdCols.map(c => left(c) <=> right(c)).reduce(_ && _)

  /** Generalized conditional merge — the MERGE INTO statement as an API
    * (Delta/Hudi-MERGE parity), one partition-scoped commit:
    *
    *   - a CURRENT row matched by an incoming row (key+partition identity)
    *     is DELETED when `whenMatchedDelete` holds, else REPLACED by the
    *     incoming row when `whenMatchedUpdate` holds, else kept;
    *   - an unmatched incoming row is inserted iff `insertUnmatched`;
    *   - unmatched current rows are always kept.
    *
    * Conditions are Columns over the aliased join — reference the stored
    * row as `col("c.x")` and the incoming row as `col("i.x")`:
    *
    * {{{
    *   t.mergeInto(batch,
    *     whenMatchedDelete = col("i.op") === "D",
    *     whenMatchedUpdate = col("i.ts") > col("c.ts"))
    * }}}
    *
    * `upsert` ≡ `mergeInto(df)` with defaults; `delete` ≡ always-delete
    * with no insert. Same exactness rules as every merge: intra-batch
    * duplicates precombine first, schema evolution is additive.
    */
  def mergeInto(df: DataFrame, parallelism: Int = 0,
      whenMatchedDelete: Column = lit(false),
      whenMatchedUpdate: Column = lit(true),
      insertUnmatched: Boolean = true,
      /** Gate on UNMATCHED rows (`WHEN NOT MATCHED AND cond THEN INSERT`);
        * references `i.*` only — there is no stored row to compare.
        */
      insertCondition: Column = lit(true),
      /** Incoming columns visible to the conditions (`i.<col>`) but
        * EXCLUDED from the written schema — CDC routing columns like `Op`
        * steer the merge without evolving the table.
        */
      conditionCols: Seq[String] = Nil,
      /** OPT-IN fast tombstone pass: record change-feed tombstones for
        * EVERY incoming key satisfying `whenMatchedDelete` (which must
        * then reference `i.*` only), without re-joining against the
        * stored side — the same over-approximate contract as [[delete]]
        * (a D may be recorded for a key the table never held; preimage
        * feeds drop absent keys at the join, and image-fold consumers
        * treat D as drop-if-present). Skips the candidate-read cache and
        * the cur×incoming tombstone re-join — one fewer churn-sized job
        * on the commit's latency chain. Callers must guarantee the
        * delete and insert conditions are DISJOINT on incoming rows
        * (e.g. routed by one op column): an unmatched row that both
        * inserts and tombstones would poison downstream image folds.
        */
      tombstonesFromIncoming: Boolean = false,
      extraMetrics: Map[String, Long] = Map.empty,
      /** Caller-supplied touched partition/bucket key set — MUST be a
        * SUPERSET of the batch's own ([[lookupByKeysTouched]] over a key
        * probe covering every incoming key qualifies; extra keys only
        * cost an idempotent rewrite of their units). Skips the merge's
        * touched-keys job, which would otherwise materialize the full
        * incoming plan in a dedicated blocking round — the win when the
        * incoming is a heavy fold plan whose keys the caller already
        * probed (the IVM point-read folds).
        */
      touchedKeys: Option[Set[String]] = None): Unit = {
    // matched-delete keys become change-feed tombstones; skipped when the
    // delete branch is the literal-false default (no second join pass).
    // The tombstone pass re-joins cur×incoming, so mergeCommit caches the
    // candidate read (tombstonesUseCur default) — the replay re-shuffles
    // from cache instead of re-reading files. (Persisting the routed join
    // itself was measured SLOWER: it materializes every unprojected
    // column through the block manager and cuts whole-stage codegen in
    // the write path, costing more than the cached re-join saves.)
    val mayDelete = org.apache.spark.sql.GraftBridge
      .expression(whenMatchedDelete) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(false, _) =>
        false
      case _ => true
    }
    val deletedKeys: Option[(DataFrame, DataFrame) => DataFrame] =
      if (!mayDelete) None
      else if (tombstonesFromIncoming) Some { (_, incoming) =>
        // i.*-only condition: evaluate it on the incoming batch alone
        // (resolution fails loudly if the caller's condition references
        // c.*) — no stored-side join, no candidate-read cache
        incoming.alias("i").filter(whenMatchedDelete)
          .select(mergeIdCols.map(col): _*).distinct()
      }
      else Some { (cur, incoming) =>
        val c = cur.withColumn("_c_present", lit(true)).alias("c")
        val i = incoming.withColumn("_i_present", lit(true)).alias("i")
        val cond = mergeIdCols
          .map(k => col(s"c.$k") <=> col(s"i.$k")).reduce(_ && _)
        c.join(i, cond, "inner").filter(whenMatchedDelete)
          .select(mergeIdCols.map(k => col(s"c.$k").as(k)): _*).distinct()
      }
    mergeCommit(df, parallelism, "merge", extraMetrics,
      excludeCols = conditionCols, tombstoneKeys = deletedKeys,
      tombstonesUseCur = !tombstonesFromIncoming,
      touchedHint = touchedKeys) {
      (cur, incoming) =>
      val outCols = incoming.columns.toIndexedSeq
        .filterNot(conditionCols.contains) // padded/evolved schema
      val c = cur.withColumn("_c_present", lit(true)).alias("c")
      val i = incoming.withColumn("_i_present", lit(true)).alias("i")
      val cond = mergeIdCols
        .map(k => col(s"c.$k") <=> col(s"i.$k")).reduce(_ && _)
      val matched =
        col("c._c_present").isNotNull && col("i._i_present").isNotNull
      // route each joined row to the side that survives (or drop it)
      val take = when(matched,
          when(whenMatchedDelete, lit("drop"))
            .otherwise(when(whenMatchedUpdate, lit("i")).otherwise(lit("c"))))
        .otherwise(when(col("c._c_present").isNotNull, lit("c"))
          .otherwise(if (insertUnmatched)
            when(insertCondition, lit("i")).otherwise(lit("drop"))
          else lit("drop")))
      c.join(i, cond, "full_outer")
        .withColumn("_take", take)
        .filter(col("_take") =!= "drop")
        .select(outCols.map(k =>
          when(col("_take") === "i", col(s"i.$k"))
            .otherwise(col(s"c.$k")).as(k)): _*)
    }
  }

  /** Partial-column upsert: like [[upsert]], but incoming NULLs mean "keep
    * the stored value" (changed-columns-only CDC payloads). Insert-if-absent
    * still applies; for brand-new keys the null columns stay null.
    * Implemented as a full-outer merge with per-column coalesce — one
    * shuffle, same partition/bucket-scoped rewrite as the full upsert.
    */
  def upsertPartial(df: DataFrame, parallelism: Int = 0): Unit =
    mergeCommit(df, parallelism, "upsert_partial") { (cur, incoming) =>
      val payload = cur.columns.filterNot(mergeIdCols.contains).toIndexedSeq
      val cond = mergeIdCols
        .map(c => col(s"c.$c") <=> col(s"i.$c")).reduce(_ && _)
      cur.as("c").join(incoming.as("i"), cond, "full_outer")
        .select(mergeIdCols.map(c =>
          coalesce(col(s"i.$c"), col(s"c.$c")).as(c)) ++ payload.map(c =>
          coalesce(col(s"i.$c"), col(s"c.$c")).as(c)): _*)
    }

  /** K3 — keyed delete: stored rows matching incoming record keys are
    * removed (Hudi `EmptyHoodieRecordPayload` tombstone semantics,
    * reference: processData.py:376-382, delete config :215-218).
    */
  def delete(df: DataFrame, parallelism: Int = 0,
      extraMetrics: Map[String, Long] = Map.empty): Unit =
    if (deleteVectors) deleteVectored(df, extraMetrics, parallelism)
    else mergeCommit(df, parallelism, "delete", extraMetrics,
      tombstoneKeys = Some((_, incoming) =>
        incoming.select(mergeIdCols.map(col): _*).distinct()),
      tombstonesUseCur = false) {
      (cur, incoming) =>
      val probe = incoming.select(mergeIdCols.map(col): _*)
      cur.join(probe, idMatch(cur, probe), "left_anti")
    }

  /** K3 via DELETION VECTORS (the Delta DV / Iceberg position-delete
    * analog): record the matched rows' (file, row position) pairs in a
    * parquet sidecar and filter them at read, instead of rewriting every
    * candidate file minus the deleted rows.
    *
    * Cost model — the reason this exists: a copy-on-write delete reads and
    * REWRITES the full width of every candidate file. The vectored delete
    * reads only the candidates' KEY COLUMNS (plus scan metadata) and
    * writes positions — at 100 TB a scattered GDPR-style delete drops from
    * rewriting terabytes to a column-pruned scan and a few MB of sidecar.
    * Reads pay a positional anti-join ONLY on files that carry a vector
    * ([[readFiles]]); any rewrite or [[compact]]/[[compactBySize]] of the
    * file folds the vector away (manifest sanitization at the publish
    * funnel). Partition/bucket scoping and the record-key file index
    * prune candidates exactly like the rewrite path.
    *
    * Same merge identity as [[delete]] (key + partition, null-safe), same
    * change-feed tombstones, and the deleted-row counts ride the manifest
    * so [[fastCount]] stays exact. COW-only: MOR deletes are already
    * O(deleted keys) log appends.
    */
  def deleteVectored(df: DataFrame,
      extraMetrics: Map[String, Long] = Map.empty,
      parallelism: Int = 0): Unit = {
    require(storageTypeName == "cow",
      s"deleteVectored is COW-only (MOR deletes are log appends) at " +
        basePath)
    require(keyCols.forall(df.columns.contains),
      s"delete batch must carry the record key columns $keyCols; " +
        s"got ${df.columns.toSeq}")
    val m = manifest
    val v = m.version + 1
    val incoming = df.persist()
    try {
      val touched = traceMerge("touched")(touchedPartitionKeys(incoming))
        .intersect(m.partitions.keySet)
      val (candFiles, _) =
        if (fileIndexEntries > 0) pruneCandidateFiles(m, touched, incoming)
        else (touched.toSeq.sorted.flatMap(k =>
          m.partitions.getOrElse(k, Nil)), Map.empty[String, Seq[String]])
      val probeKeys =
        incoming.select(mergeIdCols.map(col): _*).distinct()
      val (newDvs, dvRefs, dvRows) = markDvPositions(m, v, candFiles,
        probeKeys, parallelism)
      // tombstones must carry the table's field-id metadata (they are
      // read back through the id-stamped schema by the change feed)
      val tombSchema = StructType(
        m.schema.fields.filter(f => mergeIdCols.contains(f.name)))
      val tomb = writeTombstones(
        CowTable.reapplyFieldIds(probeKeys, tombSchema), v)
      writeManifest(m.copy(version = v,
        dvs = newDvs,
        tombstones = if (tomb.isEmpty) m.tombstones
          else m.tombstones + (v.toString -> tomb),
        operation = "delete_vectored",
        metrics = Map(
          "files_candidate" -> candFiles.size.toLong,
          "dv_files_written" -> dvRefs.size.toLong,
          "dv_rows_added" -> dvRows) ++ extraMetrics))
      clean()
    } finally { incoming.unpersist(); () }
  }

  /** Expectation-gated upsert with QUARANTINE (the warn-don't-fail
    * sibling of [[checkConstraints]], Delta-Live-Tables expectation
    * semantics): rows violating ANY declared CHECK constraint are
    * diverted to an append-only quarantine table — labeled with the
    * first failing constraint — and the clean remainder upserts
    * normally, instead of one bad row failing the whole batch. The
    * quarantine table auto-creates beside first use (same keys and
    * partitioning, plus a `_graft_violation` column) and is append-only
    * (an audit log keeps every rejection, re-offending keys included).
    * One cached pass over the batch feeds both splits. Returns
    * ("applied" -> n, "quarantined" -> m).
    *
    * The failure-mode trade at 100 TB: a CHECK-failing write aborts a
    * multi-hour job at the very end; expectation routing keeps the
    * pipeline flowing and makes bad data VISIBLE instead of fatal.
    */
  def upsertQuarantine(df: DataFrame, quarantinePath: String,
      parallelism: Int = 0): Map[String, Long] = {
    require(checkConstraints.nonEmpty,
      s"upsertQuarantine needs declared checkConstraints at $basePath")
    val applicable = checkConstraints.filter { c =>
      val refs = spark.sessionState.sqlParser.parseExpression(c)
        .references.map(_.name.toLowerCase)
      refs.forall(df.columns.map(_.toLowerCase).toSet)
    }
    if (applicable.isEmpty) {
      // constraints pass vacuously (they reference columns this batch
      // lacks): everything applies — and the count contract holds
      val n = df.count()
      upsert(df, parallelism)
      return Map("applied" -> n, "quarantined" -> 0L)
    }
    def ok(c: String) = coalesce(expr(c), lit(true))
    val cached = df.persist()
    try {
      val bad = cached.filter(!applicable.map(ok).reduce(_ && _))
        .withColumn(CowTable.ViolationCol,
          applicable.tail.foldLeft(
            when(!ok(applicable.head), lit(applicable.head))) {
            (acc, c) => acc.when(!ok(c), lit(c))
          })
      val nBad = bad.count()
      if (nBad > 0) {
        if (CowTable.existsAt(spark, quarantinePath))
          CowTable.open(spark, quarantinePath).insertAppend(bad)
        else new CowTable(spark, quarantinePath, keyCols,
          partitionCols).bulkInsert(bad)
      }
      val good = cached.filter(applicable.map(ok).reduce(_ && _))
      val nGood = good.count()
      if (nGood > 0) upsert(good, parallelism)
      Map("applied" -> nGood, "quarantined" -> nBad)
    } finally { cached.unpersist(); () }
  }

  /** ANALYZE TABLE: compute per-column table-level statistics in ONE
    * aggregation pass over the snapshot and record them in the manifest
    * ([[Manifest.tableColStats]], a metadata-only commit). The DSv2 scan
    * serves them to Spark's cost-based optimizer
    * (`spark.sql.cbo.enabled`) while they are FRESH — any data commit
    * makes them stale and they silently stop being served, so CBO never
    * plans on lies. NDV uses `approx_count_distinct` (HLL, merge
    * order-independent — the only sane choice at 100 TB; exact distinct
    * would be a full shuffle per column); null counts are exact; length
    * stats are byte estimates (actual lengths for string/binary, the
    * type's fixed width otherwise). Returns the computed map.
    */
  def analyze(columns: Seq[String] = Nil,
      histogramBins: Int = 0): Map[String, ColStatRec] = {
    val m = manifest
    val targets =
      if (columns.nonEmpty) columns
      else m.schema.fieldNames.toSeq.filterNot(_ == CommitVerCol)
    targets.foreach(c => require(m.schema.fieldNames.contains(c),
      s"analyze: unknown column $c"))
    val snap = readFiles(m, m.baseFiles)
    import org.apache.spark.sql.types.{BinaryType, NumericType, StringType}
    val aggs = targets.flatMap { c =>
      val dt = m.schema(c).dataType
      val lenExpr = dt match {
        case StringType => length(col(c)).cast("long")
        case BinaryType => octet_length(col(c)).cast("long")
        case t => lit(t.defaultSize.toLong)
      }
      Seq(approx_count_distinct(col(c)).as(s"__ndv_$c"),
        count(when(col(c).isNull, 1)).as(s"__nulls_$c"),
        coalesce(ceil(avg(lenExpr)), lit(0L)).as(s"__avg_$c"),
        coalesce(max(when(col(c).isNotNull, lenExpr)), lit(0L))
          .as(s"__max_$c"))
    } :+ count(lit(1)).as("__rows")
    val row = snap.agg(aggs.head, aggs.tail: _*).collect()(0)
    val totalRows = row.getLong(targets.size * 4)
    val base = targets.zipWithIndex.map { case (c, i) =>
      c -> ColStatRec(row.getLong(4 * i), row.getLong(4 * i + 1),
        row.getLong(4 * i + 2), row.getLong(4 * i + 3))
    }.toMap
    // Optional equi-height histograms (numeric columns): percentile
    // bounds in one pass, then per-bin NDV in one stacked pass — the
    // range-selectivity evidence CBO cannot derive from NDV alone.
    val stats =
      if (histogramBins < 2) base
      else {
        val numCols = targets.filter(c =>
          m.schema(c).dataType.isInstanceOf[NumericType])
        if (numCols.isEmpty) base
        else {
          val ps = (0 to histogramBins)
            .map(i => i.toDouble / histogramBins)
          val bRow = snap.agg(
            percentile_approx(col(numCols.head).cast("double"),
              typedLit(ps), lit(10000)).as(numCols.head),
            numCols.tail.map(c =>
              percentile_approx(col(c).cast("double"), typedLit(ps),
                lit(10000)).as(c)): _*).collect()(0)
          val bounds: Map[String, Seq[Double]] = numCols.zipWithIndex
            .map { case (c, i) =>
              c -> Option(bRow.getSeq[Double](i)).getOrElse(Nil)
            }.toMap
          // stacked per-bin NDV: (col, bin, value) exploded once over
          // the numeric columns; bin = #internal bounds strictly below v
          val stacked = snap.select(explode(array(numCols.map { c =>
            val bs = bounds(c)
            val internal = if (bs.size > 2) bs.slice(1, bs.size - 1)
              else Nil
            val v = col(c).cast("double")
            val bin =
              if (internal.isEmpty) lit(0)
              else internal.map(b => when(v > lit(b), 1).otherwise(0))
                .reduce(_ + _)
            struct(lit(c).as("c"), bin.as("b"), v.as("v"))
          }: _*)).as("s"))
            .select(col("s.c"), col("s.b"), col("s.v"))
            .filter(col("v").isNotNull)
          val binNdv = stacked.groupBy("c", "b")
            .agg(approx_count_distinct(col("v")).as("ndv"))
            .collect().map(r =>
              (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
          base ++ numCols.flatMap { c =>
            val bs = bounds(c)
            if (bs.size < 2) None
            else Some(c -> base(c).copy(histogram =
              (0 until bs.size - 1).map(i => (bs(i), bs(i + 1),
                binNdv.getOrElse((c, i), 0L))),
              histoHeight = (totalRows - base(c).nulls).toDouble /
                (bs.size - 1)))
          }
        }
      }
    val v = m.version + 1
    writeManifest(m.copy(version = v,
      tableColStats = stats, tableColStatsVersion = v,
      operation = "analyze",
      metrics = Map("columns_analyzed" -> targets.size.toLong)))
    clean()
    stats
  }

  /** K2 via DELETION VECTORS: upsert as append-plus-positional-mask.
    * Matched stored rows are marked dead in a sidecar (never rewritten)
    * and the whole incoming batch appends as fresh files — write cost is
    * the candidates' KEY-column scan plus the batch itself, independent
    * of how wide or how large the files holding the replaced rows are.
    * The merge-on-read idea applied to COW, with positions instead of
    * key-ranged log files: reads stay a plain scan + anti-join on
    * exactly the DV'd files, and any rewrite or [[compact]] folds the
    * masks away.
    *
    * Semantics match [[upsert]] exactly: intra-batch conflicts resolve
    * by the precombine field (greatest wins), the incoming image then
    * replaces the stored row under the null-safe (key, partition)
    * identity, unmatched rows insert, and commit-version stamps mark the
    * appended rows so incremental readers see precisely the changed
    * rows. Use when update batches are small relative to the files they
    * touch and reads can absorb the positional anti-join until the next
    * compaction — the classic write-heavy CDC shape.
    */
  def upsertVectored(df: DataFrame, parallelism: Int = 0,
      extraMetrics: Map[String, Long] = Map.empty): Unit = {
    require(storageTypeName == "cow",
      s"upsertVectored is COW-only (MOR upserts are log appends) at " +
        basePath)
    require(keyCols.forall(df.columns.contains),
      s"upsert batch must carry the record key columns $keyCols; " +
        s"got ${df.columns.toSeq}")
    val m = manifest
    val v = m.version + 1
    val stamped = stamp(df, v)
    val evolved = evolveSchema(m, stamped.schema)
    val incoming0 = pad(stamped, evolved)
    val incoming = (if (precombineField.nonEmpty)
      CdcOps.precombine(incoming0, mergeIdCols, precombineField)
    else incoming0).persist()
    try {
      val touched = traceMerge("touched")(touchedPartitionKeys(incoming))
      val existing = touched.intersect(m.partitions.keySet)
      val (candFiles, _) =
        if (fileIndexEntries > 0) pruneCandidateFiles(m, existing, incoming)
        else (existing.toSeq.sorted.flatMap(k =>
          m.partitions.getOrElse(k, Nil)), Map.empty[String, Seq[String]])
      val probeKeys =
        incoming.select(mergeIdCols.map(col): _*).distinct()
      val (newDvs, dvRefs, dvRows) = markDvPositions(m, v, candFiles,
        probeKeys, parallelism)
      val newFiles = writeCommit(incoming, v, parallelism,
        idSchema = evolved)
      writeManifest(withFileStats(m.copy(version = v,
        schemaJson = evolved.json,
        partitions = mergeListings(m.partitions, newFiles),
        dvs = newDvs,
        operation = "upsert_vectored",
        metrics = CowTable.writeStats(newFiles) +
          ("files_candidate" -> candFiles.size.toLong) +
          ("dv_files_written" -> dvRefs.size.toLong) +
          ("dv_rows_added" -> dvRows) ++ extraMetrics),
        newFiles, evolved))
      clean()
    } finally { incoming.unpersist(); () }
  }

  /** The deletion-vector core shared by [[deleteVectored]] and
    * [[upsertVectored]]: find the candidate files' rows whose identity
    * matches `probeKeys` (null-safe key+partition, like every merge),
    * EXCLUDING positions already dead under an existing vector, write
    * their (file, row position) pairs as a sidecar, and fold them into
    * the manifest's dv map. Reads only the candidates' identity columns
    * plus scan metadata — never the payload. Returns (updated dv map,
    * new sidecar refs, positions recorded).
    */
  private def markDvPositions(m: Manifest, v: Long, candFiles: Seq[String],
      probeKeys: DataFrame, parallelism: Int = 0)
      : (Map[String, DvEntry], Seq[String], Long) = {
    if (candFiles.isEmpty) return (m.dvs, Nil, 0L)
    val idCols = mergeIdCols
    val idSchema = StructType(
      m.schema.fields.filter(f => idCols.contains(f.name)))
    // column-pruned candidate scan: key/partition columns + the
    // row's scan identity — never the payload
    val cur0 = ManifestListing.read(spark, addDirCols(idSchema),
        candFiles.map(f => CowTable.resolveFile(basePath, f)))
      .select(idCols.toIndexedSeq.map(col) :+
        CowTable.dvScanId(col("_metadata.file_path")).as(DvFileCol) :+
        col("_metadata.row_index").as(DvPosCol): _*)
    // positions already dead under an existing vector must not be
    // re-recorded (counts would double)
    val priorRefs = candFiles.flatMap(f =>
      m.dvs.get(f).map(_.files).getOrElse(Nil)).distinct
    val cur =
      if (priorRefs.isEmpty) cur0
      else {
        val prior0 = CowTable.readDvPositions(spark, basePath, priorRefs)
        // same size guard as the read path: bounded by estimated bytes
        // so a long-uncompacted table never force-broadcasts an
        // unbounded set
        val dvdCand = candFiles.filter(m.dvs.contains)
        val prior = if (CowTable.dvBroadcastable(m, dvdCand))
          broadcast(prior0) else prior0
        cur0.join(prior,
          cur0(DvFileCol) === prior(DvFileCol) &&
            cur0(DvPosCol) === prior(DvPosCol), "left_anti")
      }
    val hits = cur.join(probeKeys, idMatch(cur, probeKeys),
      "left_semi").select(DvFileCol, DvPosCol).persist()
    try {
      // per-file counts: bounded by the candidate file count
      val counts = hits.groupBy(DvFileCol).count().collect()
        .map(r => r.getString(0) -> r.getLong(1))
      if (counts.isEmpty) (m.dvs, Nil, 0L)
      else {
        val total = counts.iterator.map(_._2).sum
        // canonical scan path -> manifest file string: relative files
        // canonicalize to themselves, absolute (clone) refs to their
        // scheme-stripped form; endsWith is the legacy fallback
        val relOf: Map[String, String] = counts.map { case (abs, _) =>
          val matches = candFiles.filter(f =>
            f == abs || CowTable.stripScheme(f) == abs || abs.endsWith(f))
          require(matches.size == 1,
            s"ambiguous scan path $abs against the candidate listing")
          abs -> matches.head
        }.toMap
        // sidecar rows store the basePath-RELATIVE form (absolute only
        // for clone-referenced files outside the root) so the recorded
        // positions relocate with the table
        val storeForm = CowTable.dvStoreForm(spark, basePath) _
        // caller-tuned sidecar parallelism wins; default sizes by
        // position count (one sidecar per ~10M positions)
        val parts = if (parallelism > 0) parallelism
          else math.max(1, (total / 10000000L).toInt)
        val refs = writeDvFiles(
          hits.select(storeForm(col(DvFileCol)).as(DvFileCol),
            col(DvPosCol)),
          v, parts)
        val updated = counts.foldLeft(m.dvs) {
          case (acc, (abs, n)) =>
            val f = relOf(abs)
            val old = acc.getOrElse(f, DvEntry(Nil, 0L))
            acc + (f -> DvEntry((old.files ++ refs).distinct,
              old.rows + n))
        }
        (updated, refs, total)
      }
    } finally { hits.unpersist(); () }
  }

  /** Write one commit's deletion-vector sidecar parquet(s) under a
    * per-attempt unique `files/dv{v}-*` dir; returns basePath-relative
    * paths (empty when no positions).
    */
  private def writeDvFiles(
      positions: DataFrame, v: Long, parts: Int): Seq[String] = {
    val dir = new Path(basePath,
      s"files/dv$v-${java.util.UUID.randomUUID.toString.take(8)}")
    positions.coalesce(parts).write.mode("overwrite").parquet(dir.toString)
    val written = listParquet(dir)
    ManifestListing.StatusCache.putFiles(written)
    val base = new Path(basePath)
    if (written.isEmpty) { fs.delete(dir, true); Nil }
    else written.map(st => relativize(base, st.getPath))
  }

  /** Partition lifecycle (the Hudi `delete_partition` / `ALTER TABLE …
    * DROP PARTITION` analog): drop every partition whose partition-column
    * values satisfy `predicate`, as ONE metadata-only commit — no data is
    * read or written, so a retention/TTL drop on a 100-TB table costs one
    * manifest write instead of a tombstone anti-join rewrite. The dropped
    * listings are recorded in the manifest ([[Manifest.drops]]) so
    * [[changeFeed]] still surfaces every dropped row as a "D" (identities
    * read lazily from the dropped files, which the cleaner retains while
    * the record is inside the feed window). SQL semantics: a partition is
    * dropped when the predicate evaluates TRUE on its values (a null
    * partition value satisfies nothing unless the predicate tests null
    * explicitly) — so for partition-only predicates this is exactly
    * row-level DELETE, which is what lets the SQL rule route those
    * deletes here. Returns the number of partition units dropped.
    */
  def dropPartitions(predicate: Column): Int = {
    require(partitionCols.nonEmpty,
      s"dropPartitions needs a partitioned table at $basePath")
    val m = manifest
    val keys = (m.partitions.keySet ++ m.logPartitions.keySet).toSeq.sorted
    if (keys.isEmpty) return 0
    val matched = partitionKeysMatching(m, keys, predicate)
    if (matched.isEmpty) return 0
    val v = m.version + 1
    val rec = DropRecord(
      m.partitions.filter(e => matched(e._1)),
      m.logPartitions.filter(e => matched(e._1)))
    val droppedFiles = rec.files.toSet
    writeManifest(m.copy(version = v,
      partitions = m.partitions -- matched,
      logPartitions = m.logPartitions -- matched,
      fileStats = m.fileStats -- droppedFiles,
      drops = m.drops + (v.toString -> rec),
      operation = "drop_partitions",
      metrics = Map(
        "units_dropped" -> matched.size.toLong,
        "files_dropped" -> droppedFiles.size.toLong)))
    clean()
    matched.size
  }

  /** TRUNCATE TABLE: drop every row as ONE metadata-only commit at any
    * size — the whole-table analog of [[dropPartitions]], working on
    * unpartitioned tables too. The complete base/log listing rides a
    * [[DropRecord]], so the change feed synthesizes the D rows lazily
    * (downstream consumers see the truncation as deletes; rows already
    * dead under a deletion vector re-emit a D, idempotent for any keyed
    * sink, same as [[dropPartitions]]) and history stays
    * time-travelable within retention. Returns units dropped.
    */
  def truncate(): Long = {
    val m = manifest
    val keys = m.partitions.keySet ++ m.logPartitions.keySet
    if (keys.isEmpty) return 0L
    val v = m.version + 1
    val rec = DropRecord(m.partitions, m.logPartitions)
    writeManifest(m.copy(version = v,
      partitions = Map.empty, logPartitions = Map.empty,
      fileStats = Map.empty, deltaCommits = 0L,
      drops = m.drops + (v.toString -> rec),
      operation = "truncate",
      metrics = Map(
        "units_dropped" -> keys.size.toLong,
        "files_dropped" -> rec.files.toSet.size.toLong)))
    clean()
    keys.size.toLong
  }

  /** TTL convenience over [[dropPartitions]]: drop partitions whose
    * `column` value sorts strictly below the `olderThan` cutoff (the
    * retention sweep a date/hour-partitioned 100-TB table runs on a
    * cadence). Returns the number of partition units dropped.
    */
  def expirePartitions(column: String, olderThan: Any): Int = {
    require(partitionCols.contains(column),
      s"expirePartitions: $column is not a partition column " +
        s"(${partitionCols.mkString(", ")})")
    dropPartitions(col(column) < lit(olderThan))
  }

  /** Manifest partition keys whose decoded partition-column values satisfy
    * `predicate`. Evaluated over a partition-cardinality LocalRelation
    * (bounded by partition count, never a data scan; the optimizer folds
    * it driver-side) with values cast back to the table's column types, so
    * predicate semantics match a row-level filter exactly.
    */
  protected def partitionKeysMatching(m: Manifest, keys: Seq[String],
      predicate: Column): Set[String] = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val sch = m.schema
    val rows = new java.util.ArrayList[Row](keys.size)
    keys.foreach { k =>
      val vals = k.split('/').iterator.map { seg =>
        val eq = seg.indexOf('=')
        seg.substring(0, eq) -> seg.substring(eq + 1)
      }.toMap
      rows.add(Row.fromSeq(k +: partitionCols.map(c =>
        vals.get(c) match {
          case Some(HiveDefaultPartition) | None => null
          case Some(s) => s
        })))
    }
    val raw = spark.createDataFrame(rows,
      StructType(StructField("_graft_pk", StringType) +:
        partitionCols.map(c => StructField(c, StringType)).toIndexedSeq))
    raw.select(col("_graft_pk") +: partitionCols.map(c =>
        col(c).cast(sch(c).dataType).as(c)).toIndexedSeq: _*)
      .filter(predicate).select("_graft_pk").collect()
      .map(_.getString(0)).toSet
  }

  /** Live identities of a dropped-partition record — the change-feed "D"
    * source for metadata-only drops. COW: the base files hold exactly the
    * partition's live rows. [[MorTable]] overrides to fold pending delta
    * logs (a log-deleted key was already dead before the drop and must
    * not resurface as a drop delete).
    */
  protected def droppedIdentities(m: Manifest, rec: DropRecord): DataFrame = {
    val idCols = (keyCols ++ partitionCols).distinct
    readFiles(m, rec.partitions.valuesIterator.flatten.toSeq)
      .select(idCols.map(col): _*)
  }

  private def mergeCommit(df: DataFrame, parallelism: Int, opName: String,
      extraMetrics: Map[String, Long] = Map.empty,
      // incoming columns kept through the merge join for the conditions
      // but excluded from schema evolution and the written output
      excludeCols: Seq[String] = Nil,
      // identity rows of keys this commit DELETES ((cur, incoming) =>
      // mergeIdCols frame) — recorded as change-feed tombstones
      tombstoneKeys: Option[(DataFrame, DataFrame) => DataFrame] = None,
      // false when the tombstone function does not re-evaluate `cur`
      // (delete(): keys come from the incoming batch; mergeInto(): keys
      // come from its own persisted routed join) — skips the cur cache
      tombstonesUseCur: Boolean = true,
      // caller-supplied touched partition/bucket keys (must be a SUPERSET
      // of the incoming batch's — see mergeInto's touchedKeys)
      touchedHint: Option[Set[String]] = None)(
      merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    // pad() null-fills absent columns for additive evolution — but a batch
    // MISSING its record-key columns would merge as null-keyed garbage;
    // reject it loudly instead.
    require(keyCols.forall(df.columns.contains),
      s"$opName batch must carry the record key columns $keyCols; " +
        s"got ${df.columns.toSeq}")
    val m = manifest
    val v = m.version + 1
    val stamped = stamp(df, v)
    val evolved = evolveSchema(m, StructType(
      stamped.schema.fields.filterNot(f => excludeCols.contains(f.name))))
    // the incoming side carries its condition-only columns through the
    // join; the stored side and the written output stay on `evolved`
    val padTarget = StructType(evolved.fields ++
      stamped.schema.fields.filter(f => excludeCols.contains(f.name)))
    val incoming0 = pad(stamped, padTarget)
    val incoming = (if (precombineField.nonEmpty)
      CdcOps.precombine(incoming0, mergeIdCols, precombineField)
    else incoming0).persist()
    try {
      // with a hint, the incoming plan is NOT materialized here — its
      // persist fills inside the first consuming job (the background
      // tombstone pass / the write), overlapped instead of paying a
      // dedicated blocking job round over the merge input's full plan
      val touched = traceMerge("touched")(
        touchedHint.getOrElse(touchedPartitionKeys(incoming)))
      val rewritten = touched.intersect(m.partitions.keySet)
      // File-level pruning (record-key index on): within the touched
      // units, only files whose key range + bloom can contain an incoming
      // key are read and rewritten; the rest are KEPT verbatim. Sound
      // because blooms have no false negatives — a kept file provably
      // holds no incoming key, so the anti-join/merge result is identical.
      val (candFiles, keptListing) = traceMerge("prune")(
        if (fileIndexEntries > 0) pruneCandidateFiles(m, rewritten, incoming)
        else (rewritten.toSeq.sorted.flatMap(k =>
          m.partitions.getOrElse(k, Nil)), Map.empty[String, Seq[String]]))
      // tombstone passes that re-evaluate `cur` (a second join over the
      // candidate read): persist it so the replay comes from cache
      // instead of re-reading + re-shuffling the pruned files — bounded
      // by the merge working set either way
      val curCached = tombstoneKeys.isDefined && tombstonesUseCur
      val cur0 = pad(readFiles(m, candFiles), evolved)
      val cur = if (curCached) cur0.persist() else cur0
      try {
      val merged = merge(cur, incoming)
      def tombstonePass(): Map[String, Seq[String]] = tombstoneKeys match {
        case Some(keysOf) =>
          val fls = traceMerge("tombstones")(
            writeTombstones(keysOf(cur, incoming), v))
          if (fls.isEmpty) m.tombstones
          else m.tombstones + (v.toString -> fls)
        case None => m.tombstones
      }
      def statsPass(newFiles: Map[String, Seq[String]])
          : Map[String, FileStat] =
        traceMerge("stats")(if (fileIndexEntries > 0)
          takePendingStats(newFiles).getOrElse {
            if (sys.env.contains("GRAFT_TRACE_MERGE"))
              System.err.println("[mctrace] stats FELL BACK to read-back")
            collectFileStats(newFiles, evolved, m.keyEncoding)
          }
        else Map.empty[String, FileStat])
      // Commit latency is a chain of small job rounds; the two passes
      // around the write have no ordering constraint on it, so overlap
      // whatever independence allows:
      //   - an INCOMING-ONLY tombstone pass (delete(); mergeInto with
      //     tombstonesFromIncoming) reads nothing the write produces and
      //     nothing the write warms — it runs on a background thread
      //     UNDER the write job (its UUID-suffixed file is orphaned,
      //     never visible, if the write throws — same class as the
      //     failed write's own files);
      //   - a cur-rejoining tombstone pass stays AFTER the write (the
      //     write job is what warms cur's cache) and overlaps the
      //     file-stats scan of the just-written files instead.
      val (newFiles, newStats, newTombstones) =
        if (tombstoneKeys.isDefined && !tombstonesUseCur)
          graft.util.Overlap.withBg(tombstonePass()) { nt =>
            val nf = traceMerge("write")(writeCommit(merged, v, parallelism,
              idSchema = evolved))
            (nf, statsPass(nf), nt())
          }
        else {
          val nf = traceMerge("write")(writeCommit(merged, v, parallelism,
            idSchema = evolved))
          val (st, nt) = graft.util.Overlap.withBg(statsPass(nf)) { stF =>
            (stF(), tombstonePass())
          }
          (nf, st, nt)
        }
      // Partitions whose merged result is empty (fully deleted) simply have
      // no entry in newFiles and drop out of the snapshot (unless they
      // retain pruned files).
      val next = m.copy(version = v, schemaJson = evolved.json,
        partitions =
          m.partitions -- touched ++ mergeListings(keptListing, newFiles),
        tombstones = newTombstones,
        operation = opName, metrics = CowTable.writeStats(newFiles) +
          // only pre-existing partitions are read+rewritten; brand-new
          // partitions in the batch are pure writes
          ("units_rewritten" -> rewritten.size.toLong) +
          ("files_candidate" -> candFiles.size.toLong) +
          ("files_kept" ->
            keptListing.valuesIterator.map(_.size.toLong).sum) ++
          extraMetrics)
      val withStats =
        if (fileIndexEntries <= 0) next
        else {
          val live: Set[String] =
            next.partitions.valuesIterator.flatten.toSet
          next.copy(fileStats = (next.fileStats ++ newStats)
            .filter { case (f, _) => live(f) })
        }
      traceMerge("manifest")(writeManifest(withStats))
      traceMerge("clean")(clean())
      } finally if (curCached) cur.unpersist()
    } finally incoming.unpersist()
  }

  /** Key-string encoding shared by the writer-side index and merge-side
    * probes (composite keys joined with a non-printable separator).
    * VERSIONED per table (`Manifest.keyEncoding`, fixed at creation — the
    * stored ranges and bloom contents are in this encoding, so probes must
    * match it forever):
    *
    *   - v1 (legacy): plain `cast(string)`. Sound, but numeric keys order
    *     lexicographically ("999" > "10000"), so the RANGE phase passes
    *     files a numeric range probe shouldn't touch, and multi-key
    *     probes then amplify bloom fpp into false candidates.
    *   - v2: integral/timestamp/date key columns are shifted to
    *     non-negative decimal and zero-padded to fixed width — string
    *     order == numeric order, so range pruning is as tight as the file
    *     layout allows (measured in BASELINE.md's clustering probe).
    */
  private def keyStringExpr(enc: Long,
      schemaOf: String => org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column =
    concat_ws("\u0001",
      keyCols.map(c => encodeCol(c, schemaOf(c), enc)): _*)

  /** One column's order-preserving string encoding (see keyStringExpr). */
  private def encodeCol(c: String,
      dt: org.apache.spark.sql.types.DataType,
      enc: Long): org.apache.spark.sql.Column =
    CowTable.encodeColExpr(c, dt, enc)

  /** Split the files of `parts` into (candidates, kept-by-partition):
    * a file is a candidate iff it has no index entry, or at least one
    * incoming key passes its range check AND its bloom probe. Two-phase,
    * like Hudi's bloom index:
    *   1. RANGE phase — distinct incoming key strings stream against the
    *      broadcast (file, min, max) table (bounded by the file count of
    *      the touched units, which partition/bucket scoping already
    *      capped); only range-passing FILE NAMES are collected.
    *   2. BLOOM phase — only the range-survivors' sidecar blooms are
    *      loaded (lazily; bytes proportional to files we might read
    *      anyway, not to the table) and probed the same way.
    */
  private def pruneCandidateFiles(
      m: Manifest, parts: Set[String], incoming: DataFrame)
      : (Seq[String], Map[String, Seq[String]]) = {
    val files: Seq[(String, String)] = parts.toSeq.sorted
      .flatMap(p => m.partitions.getOrElse(p, Nil).map(p -> _))
    val indexed = files.collect {
      case (_, f) if m.fileStats.contains(f) => f
    }
    if (indexed.isEmpty) return (files.map(_._2), Map.empty)
    import spark.implicits._
    // NO key-side distinct and NO persist: the per-partition hit-set
    // already dedups file answers (duplicate keys only re-probe an array),
    // and the probe count rides a LongAccumulator — the range phase is
    // ONE job with one tiny file-name shuffle, not three (range pass +
    // count() + cache materialization). Commit latency is a job-round
    // chain; every fused job is wall-clock off an IVM fold.
    val keys = incoming.select(
      keyStringExpr(m.keyEncoding, c => incoming.schema(c).dataType)
        .as("k")).as[String]
    val bRanges = spark.sparkContext.broadcast(indexed.map { f =>
      val st = m.fileStats(f)
      (f, st.keyMin, st.keyMax)
    }.toArray)
    val probeCount = spark.sparkContext.longAccumulator("prune_probes")
    val inRange = keys.mapPartitions { it =>
        val idx = bRanges.value
        val hits = scala.collection.mutable.HashSet.empty[String]
        it.foreach { k =>
          probeCount.add(1L)
          var i = 0
          while (i < idx.length) {
            val (f, mn, mx) = idx(i)
            if (!hits.contains(f) && k >= mn && k <= mx) hits += f
            i += 1
          }
        }
        hits.iterator
      }.distinct().collect().toSet
      def materialize(hit: Set[String])
          : (Seq[String], Map[String, Seq[String]]) = {
        val candidates = files.collect {
          case (_, f) if hit(f) || !m.fileStats.contains(f) => f
        }
        val kept = files.filterNot { case (_, f) => candidates.contains(f) }
        (candidates,
          kept.groupBy(_._1).map { case (p, fs) => p -> fs.map(_._2) })
      }
      // Bloom phase cost model: a file survives the bloom only if NONE of
      // the K probe keys hits it — probability ~e^(-K/files) under spread
      // keys. At K >= 20x the in-range file count that is ~zero: loading
      // every sidecar bloom (MBs each) would prune nothing. Spread bulk
      // churn takes the range-phase answer directly; sparse point probes
      // (the lookup pattern the blooms exist for) still go through them.
      // (keyCount is the raw probe count from the range pass's
      // accumulator — duplicates inflate it, which is the RIGHT bias:
      // probes, not identities, are what hit the blooms. Spark also does
      // NOT dedupe accumulator updates from retried/speculative shuffle-map
      // tasks, so retries can inflate it further — same direction, same
      // consequence: skip the bloom pass and take the range answer, which
      // is always sound, just less pruned. A heuristic input only; never
      // feed this accumulator into anything correctness-bearing.)
      val keyCount = probeCount.value
      if (keyCount >= 20L * math.max(inRange.size, 1))
        return materialize(inRange)
      val bBlooms = spark.sparkContext.broadcast(
        inRange.toSeq.sorted.map { f =>
          f -> loadBloom(fs, new Path(basePath, m.fileStats(f).bloomRef))
        }.toArray)
      val hit = keys.mapPartitions { it =>
        val idx = bBlooms.value
        val hits = scala.collection.mutable.HashSet.empty[String]
        it.foreach { k =>
          var i = 0
          while (i < idx.length) {
            val (f, bloom) = idx(i)
            if (!hits.contains(f) && bloom.mightContainString(k)) hits += f
            i += 1
          }
        }
        hits.iterator
      }.distinct().collect().toSet
    materialize(hit)
  }

  /** Attach per-file key index entries for `newFiles` to a manifest about
    * to be committed, dropping entries for files no longer live. No-op
    * when the index is disabled.
    */
  protected def withFileStats(
      m: Manifest,
      newFiles: Map[String, Seq[String]],
      schema: StructType): Manifest = {
    if (fileIndexEntries <= 0) return m
    val live: Set[String] = m.partitions.valuesIterator.flatten.toSet
    val fresh = takePendingStats(newFiles)
      .getOrElse(collectFileStats(newFiles, schema, m.keyEncoding))
    val stats = (m.fileStats ++ fresh)
      .filter { case (f, _) => live(f) }
    m.copy(fileStats = stats)
  }

  /** ONE distributed pass over freshly written files (KEY COLUMNS ONLY —
    * column-pruned parquet reads of data this commit just wrote, typically
    * still in page cache): group rows by source file, buffer the group's
    * encoded keys (bounded by one file's key set — the same order as the
    * bloom being built), then fold into (key min, key max, bloom sized to
    * the file's ACTUAL key count). Sizing to the true count means a file
    * larger than `fileIndexEntries` cannot silently degrade the
    * false-positive rate (the classic mis-sizing footgun behind Hudi's
    * `hoodie.index.bloom.num_entries` tuning: an overloaded bloom answers
    * "maybe" for everything and pruning quietly vanishes — measured: a
    * 3.3x-overloaded bloom turned a 1-candidate probe into 7 candidates).
    * `fileIndexEntries` acts as the sizing FLOOR (pre-sizes for growth).
    * Commit-latency note: this used to be TWO jobs (a count pass sized
    * the blooms, a second pass filled them); buffering folds both into
    * one, which matters on commit-heavy IVM folds where every job round
    * is wall-clock.
    */
  private def collectFileStats(
      newFiles: Map[String, Seq[String]],
      schema: StructType, enc: Long): Map[String, FileStat] = {
    val rel = newFiles.valuesIterator.flatten.toSeq
    if (rel.isEmpty) return Map.empty
    val floor = fileIndexEntries.toLong
    // stat columns present in this commit's schema ride the same pass
    val liveStats = statsCols.filter(c => schema.fieldNames.contains(c))
    val readSchema = StructType(
      schema.fields.filter(f =>
        keyCols.contains(f.name) || liveStats.contains(f.name)))
    val df = ManifestListing.read(spark, readSchema,
        rel.map(f => s"$basePath/$f"))
      .select(input_file_name().as("f") +:
        keyStringExpr(enc, c => readSchema(c).dataType).as("k") +:
        liveStats.map(c =>
          encodeCol(c, readSchema(c).dataType, enc).as(s"__st_$c")): _*)
    import spark.implicits._
    val nStats = liveStats.size
    // bloomCols ride the same pass: indices into the liveStats array of
    // the columns that also get a per-file sidecar bloom
    val bloomIdx = bloomCols.filter(liveStats.contains)
      .map(liveStats.indexOf).toArray
    val collected = df
      .select(col("f"), col("k"),
        array(liveStats.map(c => col(s"__st_$c")): _*).as("st"))
      .as[(String, String, Seq[String])].groupByKey(_._1)
      .mapGroups { (f, it) =>
        var mn: String = null
        var mx: String = null
        val smn = Array.fill[String](nStats)(null)
        val smx = Array.fill[String](nStats)(null)
        val keys = scala.collection.mutable.ArrayBuffer.empty[String]
        val colVals = bloomIdx.map(_ =>
          scala.collection.mutable.ArrayBuffer.empty[String])
        it.foreach { case (_, k, st) =>
          keys += k
          if (mn == null || k < mn) mn = k
          if (mx == null || k > mx) mx = k
          var i = 0
          while (i < nStats) {
            val v = st(i) // null column values stay out of the range
            if (v != null) {
              if (smn(i) == null || v < smn(i)) smn(i) = v
              if (smx(i) == null || v > smx(i)) smx(i) = v
            }
            i += 1
          }
          var j = 0
          while (j < bloomIdx.length) {
            val v = st(bloomIdx(j)) // nulls stay out, like the range
            if (v != null) colVals(j) += v
            j += 1
          }
        }
        val nRows = keys.length.toLong
        val expected = math.max(nRows, floor)
        val bloom = org.apache.spark.util.sketch.BloomFilter
          .create(expected, CowTable.FileIndexFpp)
        keys.foreach(bloom.putString)
        val colBlooms = colVals.map { vs =>
          val b = org.apache.spark.util.sketch.BloomFilter
            .create(expected, CowTable.FileIndexFpp)
          vs.foreach(b.putString)
          b
        }
        def bytesOf(b: org.apache.spark.util.sketch.BloomFilter) = {
          val bos = new java.io.ByteArrayOutputStream()
          b.writeTo(bos)
          bos.toByteArray
        }
        (f, mn, mx, bytesOf(bloom), smn.toSeq, smx.toSeq, nRows,
          colBlooms.map(bytesOf).toSeq)
      }.collect()
    buildFileStats(collected.iterator, liveStats, bloomIdx.map(liveStats(_)))
  }

  /** TEST hook: re-run the READ-BACK stats pass over the current base
    * files — lets specs pin write-tracker parity (manifest entries and
    * sidecar bytes identical whichever pass computed them). Overwrites
    * the sidecars with the recomputed (identical) bytes.
    */
  private[table] def recomputeFileStatsForTest(): Map[String, FileStat] = {
    val m = manifest
    collectFileStats(m.partitions, m.schema, m.keyEncoding)
  }

  /** Shared FileStat + bloom-sidecar construction from per-file raw
    * stats — fed by the read-back pass ([[collectFileStats]]) and by the
    * write-job tracker stash ([[takePendingStats]]); both produce the
    * identical tuple shape, so the manifest entries are
    * path-for-path equal regardless of which pass computed them.
    * Sidecars live INSIDE the commit's data dir (`<file>.bloom` next to
    * its parquet), so cleaner/vacuum lifecycle covers them for free and
    * data reads (explicit .parquet lists) never see them. Bytes through
    * the driver are bounded by the files THIS COMMIT wrote.
    */
  private def buildFileStats(
      collected: Iterator[(String, String, String, Array[Byte],
        Seq[String], Seq[String], Long, Seq[Array[Byte]])],
      liveStats: Seq[String],
      bloomColNames: Seq[String]): Map[String, FileStat] = {
    val base = new Path(basePath).toUri.getPath.stripSuffix("/")
    // Sidecar writes + the per-file status probe are independent small
    // FS round-trips (1 + |bloomCols| creates + 1 stat per file) that a
    // serial loop pays one at a time on the commit's latency chain —
    // ~7 ms each locally, a full round-trip each on an object store
    // (measured r13: 0.47 s for a 33-file commit). Fan them out on a
    // bounded pool; each file's work is independent and the map is
    // assembled from the joined results.
    val work = collected.toVector
    val par = math.min(8, math.max(1, work.size))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try {
      val futs = work.map {
        case (f, mn, mx, bytes, smn, smx, nRows, cbBytes) =>
          pool.submit(new java.util.concurrent.Callable[
              (String, FileStat)] {
            override def call(): (String, FileStat) = {
              val p = new Path(f).toUri.getPath
              val relPath =
                if (p.startsWith(base + "/")) p.substring(base.length + 1)
                else p
              val ref = relPath + ".bloom"
              val out = fs.create(new Path(basePath, ref), true)
              try out.write(bytes) finally out.close()
              val cbRefs = bloomColNames.iterator.zip(cbBytes.iterator).map {
                case (c, cb) =>
                  val r = s"$relPath.$c.bloom"
                  val o = fs.create(new Path(basePath, r), true)
                  try o.write(cb) finally o.close()
                  c -> r
              }.toMap
              val cs = liveStats.zipWithIndex.collect {
                case (c, i) if smn(i) != null => c -> Seq(smn(i), smx(i))
              }.toMap
              val fileBytes = scala.util.Try(ManifestListing.StatusCache
                .length(fs, new Path(basePath, relPath))).getOrElse(-1L)
              relPath -> FileStat(mn, mx, ref, cs, rows = nRows,
                bytes = fileBytes, colBloomRefs = cbRefs)
            }
          })
      }
      // failure semantics match the old serial loop (r13 ADVICE): the
      // worker's own exception propagates (not the ExecutionException
      // wrapper), and remaining queued sidecar writes are cancelled so
      // an aborting commit doesn't keep publishing orphan .bloom files
      try futs.map(_.get()).toMap
      catch {
        case e: java.util.concurrent.ExecutionException =>
          pool.shutdownNow()
          throw Option(e.getCause).getOrElse(e)
      }
    } finally pool.shutdown()
  }

  /** Data-skipping scan: the snapshot restricted to files whose recorded
    * [min, max] range for `column` (a `statsCols` member) intersects
    * [lo, hi] — files without a recorded range are always read, so the
    * result ALWAYS contains every row matching the range (apply the row
    * filter on top; this prunes whole files without opening footers).
    * At 100 TB this is what makes "last 3 days over a time-clustered
    * table" read 3 days of files, not the table.
    */
  def snapshotForRange(column: String, lo: Any, hi: Any): DataFrame = {
    val m = manifest
    readFiles(m,
      CowTable.filesForRange(spark, m, column, Some(lo), Some(hi)))
  }

  /** Data-skipping scan for a VALUE SET: the snapshot restricted to files
    * whose recorded [min, max] for `column` contains at least one of
    * `values` — the point-probe sibling of [[snapshotForRange]], same
    * ALWAYS-a-superset contract (no stats / non-order-preserving encoding
    * / null probe values → no pruning). What makes a bounded fk-churn
    * probe against a fk-clustered view read the churn's file stripe, not
    * the view ([[graft.cdc.MaintainedJoin]]'s B-side discovery).
    */
  def snapshotForValues(column: String, values: Seq[Any]): DataFrame = {
    val m = manifest
    readFiles(m,
      CowTable.filesForValues(spark, m, column, values, basePath))
  }

  /** Metadata-only EXACT `count(*)`: the sum of the per-file row counts
    * the index-building pass records in each [[FileStat]] — zero Spark
    * jobs, zero file opens, O(|manifest|) driver work. `None` (fall back
    * to counting the snapshot) when the count cannot be certified exact:
    * live MOR delta logs (unmerged updates change the row count), any
    * base file without a recorded count (index off, or an entry written
    * before the field existed), or an empty-but-live file the stats pass
    * never saw. At 100 TB this answers the commonest operational query —
    * "how many rows is this table?" — from the manifest alone; the scan
    * path's footer-level aggregate pushdown ([[graft.sources
    * .GraftScanBuilder]]) covers filtered/min-max shapes.
    */
  def fastCount(): Option[Long] = {
    val m = manifest
    if (m.logPartitions.valuesIterator.exists(_.nonEmpty)) return None
    val fs = m.baseFiles
    val known = fs.flatMap(f => m.fileStats.get(f).map(_.rows))
    // deletion vectors: physical rows minus the recorded deleted counts
    // (exact — vectored deletes never double-record a position)
    val dvDeleted = fs.iterator.flatMap(m.dvs.get).map(_.rows).sum
    if (known.size == fs.size && known.forall(_ >= 0L))
      Some(known.sum - dvDeleted)
    else if (fs.isEmpty) Some(0L)
    else None
  }

  /** [[snapshotForValues]] pinned at a historical version (retention-
    * bounded) — group-scoped rereads for feed-driven maintenance stay on
    * the version the consumer's window ends at, immune to concurrent
    * source commits.
    */
  def snapshotForValuesAt(
      version: Long, column: String, values: Seq[Any]): DataFrame = {
    val m = manifestAt(version)
    readFiles(m,
      CowTable.filesForValues(spark, m, column, values, basePath))
  }

  /** Additive schema evolution (Hudi-style): columns new in the batch are
    * APPENDED to the table schema; stored rows read back as null for them.
    * Existing columns keep their stored type (incoming values are cast).
    */
  /** Additive schema evolution plus SAFE TYPE WIDENING: new incoming
    * columns append; a common column whose incoming type is strictly
    * wider (byte→short→int→long, float→double, same-scale decimal
    * precision growth) widens the STORED type — old files read back
    * through the widened schema via Parquet's type-promotion support
    * (SPARK-40876), so no rewrite happens. Anything else keeps the
    * stored type (incoming casts to it on [[pad]], the historical
    * behavior — a lossy type change must never corrupt stored data).
    */
  /** [[evolveSchema]] with the manifest's drop-shadow guard: an incoming
    * batch may not re-introduce a dropped-but-unpurged column name (its
    * old values still live in pre-drop files; see [[Manifest.droppedCols]]).
    */
  protected def evolveSchema(m: Manifest, in: StructType): StructType = {
    if (m.droppedCols.nonEmpty) {
      val cur = m.schema.fieldNames.map(_.toLowerCase).toSet
      in.fieldNames.filterNot(f => cur(f.toLowerCase)).foreach { f =>
        require(!m.droppedCols.contains(f.toLowerCase),
          s"write carries column $f, which was DROPPED and not yet " +
            "purged — purgeDroppedColumns() before re-introducing it")
      }
    }
    // incoming frames can carry STRAY field-id metadata (a df derived
    // from another table's snapshot) — authority over ids is the stored
    // schema: strip incoming ids, keep stored ones, mint fresh ids for
    // genuinely new columns on id-stamped tables. The result normalizes
    // to nullable (asNullable, metadata-preserving): nested NOT NULL
    // survives inside DataTypes, and a recorded STRUCT<x NOT NULL>
    // would reject every later batch whose struct is nullable — Cast
    // refuses nullable→non-null nested fields (the Delta arrangement:
    // stored schemas are nullable, files keep whatever they carry).
    val ev = CowTable.nullableSchema(
      evolveSchema(m.schema, CowTable.stripFieldIds(in)))
    if (CowTable.hasFieldIds(m.schema)) CowTable.withFieldIds(ev) else ev
  }

  protected def evolveSchema(cur: StructType, in: StructType): StructType = {
    val known = cur.fieldNames.toSet
    val inByName = in.fields.iterator.map(f => f.name -> f).toMap
    val widened = cur.fields.map { f =>
      inByName.get(f.name) match {
        case Some(g) if g.dataType != f.dataType =>
          CowTable.widerType(f.dataType, g.dataType) match {
            case Some(w) if w != f.dataType => f.copy(dataType = w)
            case _ => f
          }
        case _ => f
      }
    }
    StructType(widened ++ in.fields.filterNot(f => known(f.name)))
  }

  /** Metadata-only DDL commit (SQL `ALTER TABLE`): append nullable
    * columns and/or widen existing column types, in ONE commit. No data
    * file is read or written at any table size — stored rows read back
    * null-filled for added columns (parquet missing-column semantics) and
    * through Parquet type promotion for widened ones (SPARK-40876), the
    * same mechanics [[evolveSchema]] uses on write. Checked loudly:
    * added columns must be nullable (stored rows HAVE no value for them)
    * and must not collide case-insensitively with existing or reserved
    * (`_graft*`) names; widenings must be safe per [[CowTable.widerType]]
    * (byte→short→int→long, float→double, same-scale decimal precision
    * growth); key, partition and precombine columns never change type
    * (bucket routing and the record-key index encode their exact types).
    * Widened stats columns KEEP pruning: every permitted widening
    * preserves the stats-string encoding byte-for-byte (integrals encode
    * through long, float→double is value-exact under the sign-flip,
    * same-scale decimals ride the same unscaled long) — except decimals
    * widened past 18 digits, which leave the order-preserving class and
    * simply stop pruning (the superset contract holds either way).
    */
  def alterSchema(
      addCols: Seq[StructField] = Nil,
      widenCols: Seq[(String, DataType)] = Nil,
      dropCols: Seq[String] = Nil): CowTable = {
    require(addCols.nonEmpty || widenCols.nonEmpty || dropCols.nonEmpty,
      "alterSchema: nothing to change")
    val m = manifest
    val cur = m.schema
    val byLower = cur.fields.iterator.map(f => f.name.toLowerCase -> f).toMap
    val fixed = (m.keyCols ++ m.partitionCols ++
      Option(m.precombineField).filter(_.nonEmpty))
      .map(_.toLowerCase).toSet
    addCols.foreach { f =>
      require(f.nullable,
        s"ALTER TABLE ADD COLUMNS: ${f.name} must be nullable — " +
          "stored rows have no value for it")
      require(!f.name.toLowerCase.startsWith("_graft"),
        s"ALTER TABLE: ${f.name} is a reserved graft name")
      require(!byLower.contains(f.name.toLowerCase),
        s"ALTER TABLE: column ${f.name} already exists")
      require(!m.droppedCols.contains(f.name.toLowerCase),
        s"ALTER TABLE: ${f.name} was DROPPED and its values still live " +
          "in files written before the drop — parquet reads by name, so " +
          "re-adding it would resurrect them. Run purgeDroppedColumns() " +
          "(rewrites those files) first")
    }
    val dropLower = dropCols.map(_.toLowerCase)
    require(dropLower.distinct.size == dropLower.size,
      s"ALTER TABLE: duplicate dropped column among $dropCols")
    val p = m.props.getOrElse(CowTable.inferProps(m))
    dropCols.foreach { n =>
      val f = byLower.getOrElse(n.toLowerCase,
        throw new IllegalArgumentException(s"ALTER TABLE: no such column $n"))
      require(!fixed.contains(f.name.toLowerCase),
        s"ALTER TABLE: $n is a key/partition/precombine column and " +
          "cannot be dropped")
      require(!p.clusterCols.exists(_.equalsIgnoreCase(n)),
        s"ALTER TABLE: $n is a cluster column — remove it from " +
          "clusterCols (ALTER TABLE SET TBLPROPERTIES) before dropping")
      require(!widenCols.exists(_._1.equalsIgnoreCase(n)) &&
        !addCols.exists(_.name.equalsIgnoreCase(n)),
        s"ALTER TABLE: $n appears in both a drop and an add/widen")
      // a CHECK constraint referencing the column would start failing
      // resolution on every subsequent write — refuse up front
      p.checkConstraints.foreach { c =>
        val refs = spark.sessionState.sqlParser.parseExpression(c).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            => a.name.toLowerCase
        }
        require(!refs.contains(n.toLowerCase),
          s"ALTER TABLE: CHECK constraint ($c) references $n — drop the " +
            "constraint first")
      }
    }
    val added = addCols.map(_.name.toLowerCase)
    require(added.distinct.size == added.size,
      s"ALTER TABLE: duplicate added column among ${addCols.map(_.name)}")
    val widened = widenCols.foldLeft(cur.fields.toSeq) {
      case (fields, (n, to)) =>
        val f = byLower.getOrElse(n.toLowerCase,
          throw new IllegalArgumentException(
            s"ALTER TABLE: no such column $n"))
        require(!fixed.contains(f.name.toLowerCase),
          s"ALTER TABLE: $n is a key/partition/precombine column; its " +
            "type is fixed (bucket routing and the record-key index " +
            "encode its exact type)")
        require(
          CowTable.widerType(f.dataType, to).contains(to) &&
            to != f.dataType,
          s"ALTER TABLE: ${f.dataType.simpleString} -> ${to.simpleString} " +
            s"for $n is not a safe widening (byte→short→int→long, " +
            "float→double, same-scale decimal precision growth)")
        fields.map(g => if (g.name == f.name) g.copy(dataType = to) else g)
    }
    val kept = widened.filterNot(f => dropLower.contains(f.name.toLowerCase))
    // a dropped stats/bloom column simply stops being maintained — its
    // now-orphaned per-file entries are keyed by a name no query can
    // reference, and purge's rewrite replaces them wholesale. The commit
    // is written BY a handle configured with the updated props
    // (writeManifest stamps the writer's own props — the alterProps
    // arrangement), and that handle is returned for further use.
    val nextProps = p.copy(
      statsCols = p.statsCols
        .filterNot(c => dropLower.contains(c.toLowerCase)),
      bloomCols = p.bloomCols
        .filterNot(c => dropLower.contains(c.toLowerCase)))
    val dest =
      if (dropCols.isEmpty) this
      else CowTable.openWithProps(spark, basePath, m, nextProps)
    val next0 = StructType(
      kept ++ CowTable.stripFieldIds(StructType(addCols)).fields)
    val next = if (CowTable.hasFieldIds(cur)) CowTable.withFieldIds(next0)
      else next0
    dest.writeManifest(m.copy(version = m.version + 1,
      schemaJson = next.json,
      droppedCols = (m.droppedCols ++ dropLower).distinct,
      // a dropped column's ANALYZE record must go with it: maintain()'s
      // auto re-ANALYZE replays the recorded keys, and a stale key would
      // make every subsequent maintain() throw on the unknown column
      tableColStats = m.tableColStats
        .filterNot { case (c, _) => dropLower.contains(c.toLowerCase) },
      operation = "alter_schema",
      metrics = Map(
        "columns_added" -> addCols.size.toLong,
        "columns_widened" -> widenCols.size.toLong,
        "columns_dropped" -> dropCols.size.toLong)))
    dest
  }

  /** Metadata-only `ALTER TABLE RENAME COLUMN` — the Delta
    * column-mapping-mode-"id" arrangement: the manifest schema field
    * changes NAME while keeping its stable parquet field id, and because
    * every file of an id-stamped table carries ids (written since
    * creation; see [[CowTable.FieldIdKey]]), readers resolve the renamed
    * column in old and new files alike by ID. No data file is read or
    * written at any table size. Refused on legacy tables whose files
    * carry no ids (name matching is all they have), for key/partition/
    * precombine columns (bucket routing, dir layout and the record-key
    * index bake the name in), for collisions (case-insensitive, incl.
    * dropped-but-unpurged names), and when a CHECK constraint references
    * the old name (constraints are SQL text — update them first).
    * Cluster/stats/bloom column lists rename in place, and the per-file
    * stats/bloom SIDECAR references re-key so data skipping on the
    * renamed column keeps working without a rewrite.
    */
  def renameColumn(from: String, to: String): CowTable = {
    val m = manifest
    val cur = m.schema
    require(CowTable.hasFieldIds(cur),
      s"RENAME COLUMN needs a field-id-stamped table (created round 10+);" +
        s" files at $basePath resolve columns by name only — " +
        "rewrite into a new table to rename")
    val f = cur.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
      throw new IllegalArgumentException(
        s"RENAME COLUMN: no such column $from"))
    require(CowTable.fieldId(f).nonEmpty,
      s"RENAME COLUMN: $from predates this table's field ids " +
        "(added by DDL before round 10) — files match it by name")
    val fixed = (m.keyCols ++ m.partitionCols ++
      Option(m.precombineField).filter(_.nonEmpty)).map(_.toLowerCase).toSet
    require(!fixed.contains(f.name.toLowerCase),
      s"RENAME COLUMN: $from is a key/partition/precombine column; its " +
        "name is baked into the dir layout / record-key index")
    require(!to.toLowerCase.startsWith("_graft"),
      s"RENAME COLUMN: $to is a reserved graft name")
    require(!cur.fields.exists(_.name.equalsIgnoreCase(to)),
      s"RENAME COLUMN: column $to already exists")
    require(!m.droppedCols.contains(to.toLowerCase),
      s"RENAME COLUMN: $to was dropped and not yet purged")
    val p = m.props.getOrElse(CowTable.inferProps(m))
    p.checkConstraints.foreach { c =>
      val refs = spark.sessionState.sqlParser.parseExpression(c).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          => a.name.toLowerCase
      }
      require(!refs.contains(f.name.toLowerCase),
        s"RENAME COLUMN: CHECK constraint ($c) references $from — " +
          "update the constraint first")
    }
    def ren(c: String): String = if (c.equalsIgnoreCase(from)) to else c
    val nextSchema = StructType(cur.fields.map(g =>
      if (g.name.equalsIgnoreCase(from)) g.copy(name = to) else g))
    // per-file column stats / bloom refs re-key to the new name so
    // filesForRange / filesForValues keep pruning old files
    val nextStats = m.fileStats.map { case (path, st) =>
      path -> st.copy(
        colStats = st.colStats.map { case (c, v) => ren(c) -> v },
        colBloomRefs = st.colBloomRefs.map { case (c, v) => ren(c) -> v })
    }
    val dest = CowTable.openWithProps(spark, basePath, m, p.copy(
      clusterCols = p.clusterCols.map(ren),
      statsCols = p.statsCols.map(ren),
      bloomCols = p.bloomCols.map(ren)))
    dest.writeManifest(m.copy(version = m.version + 1,
      schemaJson = nextSchema.json,
      fileStats = nextStats,
      // re-key the table-level ANALYZE record too: maintain()'s auto
      // re-ANALYZE replays these keys against the CURRENT schema
      tableColStats = m.tableColStats.map { case (c, v) => ren(c) -> v },
      operation = "rename_column",
      metrics = Map("columns_renamed" -> 1L)))
    dest
  }

  /** Rewrite every base file so dropped columns' values are physically
    * gone, then clear the shadow list — the Delta `REORG TABLE ... APPLY
    * (PURGE)` analog, and the one data-touching step of the drop-column
    * lifecycle (`DROP COLUMN` itself is a metadata commit at any size).
    * The rewrite reads with the CURRENT schema (dropped names excluded),
    * preserves stored commit-version stamps (it is a reorganization, not
    * a change — feed windows over it stay empty, like [[recluster]] /
    * [[compact]]), and publishes as ONE commit. On MOR, pending delta
    * logs are compacted first so no log file carries the old column
    * either. After purge, `ALTER TABLE ADD COLUMNS` accepts the name
    * again. No-op (false) when nothing was ever dropped.
    */
  def purgeDroppedColumns(parallelism: Int = 0): Boolean = {
    if (manifest.droppedCols.isEmpty) return false
    if (manifest.logPartitions.nonEmpty) compact(maxFilesPerUnit = 1)
    val m = manifest
    val v = m.version + 1
    val width = if (parallelism > 0) parallelism
      else math.max(m.partitions.size, 1)
    val newFiles =
      if (m.partitions.isEmpty) Map.empty[String, Seq[String]]
      else writeCommit(readFiles(m, m.baseFiles), v, width,
        idSchema = m.schema)
    writeManifest(withFileStats(
      m.copy(version = v, partitions = newFiles, droppedCols = Nil,
        operation = "purge_dropped_columns",
        metrics = CowTable.writeStats(newFiles) +
          ("units_rewritten" -> m.partitions.size.toLong)),
      newFiles, m.schema))
    clean()
    true
  }

  /** Metadata-only table-property change (SQL `ALTER TABLE SET
    * TBLPROPERTIES`): updates the MUTABLE knobs — `keepCommits`,
    * `compactEvery`, `fileIndexEntries`, `statsCols`, `bloomCols`,
    * `checkConstraints` — in one props-only commit, and returns a NEW
    * handle configured with them (the commit is written BY that handle,
    * so the manifest's healed props are the new ones; the single-writer
    * model means callers reopen after DDL — a stale handle's next write
    * would re-stamp its creation-time props). Structural knobs (keys,
    * partitioning, buckets, clustering, storage type, commit tracking)
    * refuse loudly: files already on disk encode them.
    *
    * Effect timing is honest about existing files: new `statsCols`/
    * `bloomCols` apply to files written FROM NOW ON (stat-less old files
    * never prune — the superset contract absorbs the transition;
    * `recluster`/`compact` rewrites backfill them); GROWN
    * `checkConstraints` validate the CURRENT snapshot first (one scan,
    * the Delta ADD CONSTRAINT cost) and refuse if any stored row
    * violates.
    */
  def alterProps(updates: Map[String, String]): CowTable = {
    val allowed = Set("keepCommits", "compactEvery", "fileIndexEntries",
      "statsCols", "bloomCols", "checkConstraints", "deleteVectors")
    val bad = updates.keys.filterNot(k =>
      allowed.exists(_.equalsIgnoreCase(k)))
    require(bad.isEmpty,
      s"ALTER TABLE SET TBLPROPERTIES: ${bad.mkString(", ")} " +
        s"not alterable (mutable: ${allowed.mkString(", ")}) — keys, " +
        "partitioning, buckets, clustering and storage type are fixed " +
        "by the files already written")
    def get(k: String): Option[String] =
      updates.collectFirst { case (kk, v) if kk.equalsIgnoreCase(k) => v }
    def list(k: String, cur: Seq[String], sep: Char = ','): Seq[String] =
      get(k).map(_.split(sep).map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(cur)
    val m = manifest
    val p0 = currentProps
    val p = p0.copy(
      keepCommits = get("keepCommits").map(_.toInt)
        .getOrElse(p0.keepCommits),
      compactEvery = get("compactEvery").map(_.toInt)
        .getOrElse(p0.compactEvery),
      fileIndexEntries = get("fileIndexEntries").map(_.toInt)
        .getOrElse(p0.fileIndexEntries),
      statsCols = list("statsCols", p0.statsCols),
      bloomCols = list("bloomCols", p0.bloomCols),
      checkConstraints =
        list("checkConstraints", p0.checkConstraints, sep = ';'),
      // toggling the delete ROUTING is safe either way: existing
      // vectors keep applying at read until a rewrite/compaction folds
      // them, regardless of how future deletes commit
      deleteVectors = get("deleteVectors").map(_.toBoolean)
        .getOrElse(p0.deleteVectors))
    require(p.bloomCols.forall(p.statsCols.contains),
      s"bloomCols must be a subset of statsCols " +
        s"(${p.bloomCols} vs ${p.statsCols})")
    require(!p.deleteVectors || storageTypeName == "cow",
      "deleteVectors is COW-only (MOR deletes are already log appends)")
    // Delta ADD CONSTRAINT semantics: a new constraint must already hold
    // over the stored data, or the DDL refuses — otherwise reads would
    // serve rows the table's own contract forbids
    val grown = p.checkConstraints.filterNot(checkConstraints.contains)
    grown.foreach { c =>
      val snap = snapshot()
      val refs = spark.sessionState.sqlParser.parseExpression(c)
        .references.map(_.name.toLowerCase)
      require(refs.forall(snap.columns.map(_.toLowerCase).toSet),
        s"CHECK constraint references unknown columns: $c")
      val violations = snap.filter(!coalesce(expr(c), lit(true))).count()
      require(violations == 0L,
        s"cannot add CHECK constraint [$c]: $violations stored rows " +
          "violate it")
    }
    val dest = CowTable.openWithProps(spark, basePath, m, p)
    dest.writeManifest(m.copy(version = m.version + 1,
      operation = "alter_props",
      metrics = Map("props_changed" -> updates.size.toLong)))
    dest
  }

  /** Conform a frame to the target schema: order columns, cast to stored
    * types, null-fill columns the frame lacks (absent payload columns in
    * delete batches; newly evolved columns in old snapshots).
    */
  protected def pad(df: DataFrame, target: StructType): DataFrame = {
    val have = df.columns.toSet
    // aliases carry the target field's metadata so parquet field ids
    // (CowTable.FieldIdKey) reach the written files
    df.select(target.fields.toIndexedSeq.map(f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name, f.metadata)
      else lit(null).cast(f.dataType).as(f.name, f.metadata)): _*)
  }

  /** Distinct partition values of the incoming batch, as manifest keys.
    * Collects only partition VALUES (bounded by partition cardinality) —
    * never data rows.
    */
  protected def touchedPartitionKeys(incoming: DataFrame): Set[String] = {
    if (partitionCols.isEmpty && numBuckets == 0) return Set("")
    val sel = partitionCols.map(c => col(c).cast("string")) ++
      (if (numBuckets > 0) Seq(bucketExpr.cast("string")) else Nil)
    incoming.select(sel.toIndexedSeq: _*).distinct().collect().iterator
      .map { r =>
        val parts = partitionCols.zipWithIndex.map { case (c, i) =>
          val v = if (r.isNullAt(i)) HiveDefaultPartition else r.getString(i)
          s"$c=$v"
        }
        val bucket =
          if (numBuckets > 0) Seq(s"$BucketCol=${r.getString(partitionCols.length)}")
          else Nil
        (parts ++ bucket).mkString("/")
      }.toSet
  }

  /** Write one commit's data under `files/c{v}` and return the partition →
    * relative-file listing. Partition columns are duplicated into `__p_*`
    * columns for the hive-style directory layout so the data files keep the
    * originals (see class doc).
    */
  /** Fuse CHECK-constraint enforcement into the write scan: valid rows
    * pass the filter's left side; a violating row short-circuits into
    * `raise_error` and fails the write job BEFORE its manifest publishes
    * (the partial commit dir is normal crash debris — vacuumOrphans
    * territory). SQL-standard semantics: NULL passes (delete/tombstone
    * batches carry null payloads by design). ONE pass, zero extra jobs —
    * validation rides the same scan that writes the files; rewrite paths
    * re-validate stored rows for free (constraints are creation-time, so
    * stored data has satisfied them since birth).
    */
  private def withChecks(df: DataFrame): DataFrame =
    checkConstraints.foldLeft(df) { (d, c) =>
      // guard against constraints referencing columns this batch lacks
      // (absent-payload deletes): missing references null-pass like SQL
      val refs = spark.sessionState.sqlParser.parseExpression(c)
        .references.map(_.name.toLowerCase)
      val have = d.columns.map(_.toLowerCase).toSet
      if (!refs.forall(have)) d
      else d.filter(coalesce(expr(c), lit(true)) ||
        raise_error(concat(lit(s"graft CHECK constraint violated: [$c] "),
          lit("in a row of this write batch"))).cast("boolean"))
    }

  /** Raw per-file key stats collected by the WRITE JOB's tracker (see
    * [[org.apache.spark.sql.execution.datasources.GraftKeyStatsJobTracker]])
    * for the commit this thread just wrote — consumed (at most once) by
    * [[withFileStats]] / mergeCommit's stats pass, which previously paid
    * a dedicated re-read job per commit for the same numbers. An atomic
    * handoff, NOT a ThreadLocal: mergeCommit's cur-rejoining branch runs
    * its stats pass on a background thread (overlapped with the
    * tombstone pass), so the producer and consumer threads can differ.
    * Cross-commit races (OCC racers on one table object) are sound by
    * construction: the consumer's per-file suffix match only accepts a
    * stash covering exactly ITS committed file set; any mismatch — a
    * racer's stash, a MOR log write's leftovers — falls back to the
    * read-back pass. A performance fallback, never a correctness path.
    */
  @transient private val pendingKeyStats =
    new java.util.concurrent.atomic.AtomicReference[
      Option[CowTable.PendingKeyStats]](None)

  protected def writeCommit(
      df: DataFrame, v: Long, parallelism: Int,
      rangeSortCols: Seq[String] = Nil,
      // synthetic sort-key columns (e.g. the Z-order key) dropped after
      // shaping, before the files are written — projection preserves the
      // established intra-partition order
      dropCols: Seq[String] = Nil,
      // id-authoritative schema (the evolved/recorded schema this commit
      // publishes): field-id metadata is RE-APPLIED by name here, at the
      // single funnel to parquet, because merge/coalesce projections
      // upstream legally drop column metadata — a file written without
      // ids under an id-carrying recorded schema would be unreadable
      idSchema: StructType = null,
      // false for writes whose files never receive FileStats (MOR delta
      // logs): skips the per-row tracker work outright
      collectKeyStats: Boolean = true): Map[String, Seq[String]] = {
    val dir = commitDataDir(v)
    val dup0 = partitionCols.foldLeft(
      withChecks(CowTable.reapplyFieldIds(df, idSchema)))(
      (d, c) => d.withColumn(dirCol(c), col(c)))
    val dup =
      if (numBuckets > 0) dup0.withColumn(dirCol(BucketCol), bucketExpr)
      else dup0
    // Shuffle-parallelism knob from table config (reference:
    // hoodie.*.shuffle.parallelism, processData.py:194,202,208). Partitioned
    // or bucketed writes co-locate rows of one rewrite unit to minimize
    // files per unit; AQE handles residual skew.
    val unitCols = dirColsAll.map(col)
    val shaped =
      if (rangeSortCols.nonEmpty) {
        // clustering rewrite (recluster): dir cols lead the range so a
        // task stays within few partition dirs; the local sort makes each
        // output file's key range tight and near-disjoint
        val rc = (dirColsAll ++ rangeSortCols).map(col)
        val ranged =
          if (parallelism > 0) dup.repartitionByRange(parallelism, rc: _*)
          else dup.repartitionByRange(rc: _*)
        ranged.sortWithinPartitions(rc: _*)
      } else {
        val shaped0 =
          if (parallelism <= 0) dup
          else if (unitCols.nonEmpty)
            dup.repartition(parallelism, unitCols.toIndexedSeq: _*)
          else dup.repartition(parallelism)
        // cluster-by: sort dir cols first (keeps the writer single-pass per
        // partition dir), then the user's locality columns
        if (clusterCols.isEmpty) shaped0
        else shaped0.sortWithinPartitions(
          (dirColsAll ++ clusterCols).map(col).toIndexedSeq: _*)
      }
    val outDf = if (dropCols.nonEmpty) shaped.drop(dropCols: _*) else shaped
    pendingKeyStats.set(None) // a stale stash never survives a new write
    // Concurrent-writer mode (spark.sql.maxConcurrentOutputFileWriters
    // > 0) holds MANY files open per task, so the tracker's per-open-file
    // key buffers would grow to open-files × key-set — past the
    // documented one-file bound the read-back pass honors (its mapGroups
    // processes one file at a time). Route those writes to the read-back
    // pass instead; correctness is identical either way.
    val concurrentWriters = spark.conf
      .get("spark.sql.maxConcurrentOutputFileWriters", "0").toInt > 0
    val tracked = collectKeyStats && fileIndexEntries > 0 &&
      !concurrentWriters &&
      !sys.env.get("GRAFT_WRITE_TRACKER").contains("0") &&
      keyCols.forall(c => outDf.columns.contains(c))
    if (tracked) {
      // Index stats ride the WRITE JOB itself (per-row tracker, the
      // Delta/Hudi write-path pattern): the dedicated post-write
      // re-read job collectFileStats pays per commit (~0.3-0.5s of the
      // IVM fold and every builder commit chain) disappears. The
      // tracker evaluates the SAME analyzer-resolved encode expressions
      // over the data-row layout (partition dir cols are stripped by
      // the writer before newRow). GRAFT_WRITE_TRACKER=0 is the
      // kill-switch back to the read-back pass.
      import org.apache.spark.sql.execution.datasources.{GraftKeyStatsJobTracker, GraftWriteStats}
      val enc =
        if (exists) manifest.keyEncoding else CowTable.CurrentKeyEncoding
      val dataSchema = StructType(outDf.schema.fields
        .filterNot(f => dirColsAll.contains(f.name)))
      val liveStats = statsCols.filter(c =>
        dataSchema.fieldNames.contains(c))
      val bloomIdx = bloomCols.filter(liveStats.contains)
        .map(liveStats.indexOf).toArray
      val cols = keyStringExpr(enc, c => dataSchema(c).dataType) +:
        liveStats.map(c => encodeCol(c, dataSchema(c).dataType, enc))
      val bound = GraftWriteStats.resolveAndBind(spark, dataSchema, cols)
      val tracker = new GraftKeyStatsJobTracker(bound, liveStats.size,
        bloomIdx, fileIndexEntries.toLong, CowTable.FileIndexFpp)
      GraftWriteStats.write(outDf, dir.toString, dirColsAll, Seq(tracker))
      pendingKeyStats.set(Some(CowTable.PendingKeyStats(
        tracker.results, liveStats, bloomIdx.map(liveStats(_)).toSeq)))
    } else {
      val w = outDf.write.mode("overwrite")
      (if (dirColsAll.nonEmpty) w.partitionBy(dirColsAll.toIndexedSeq: _*)
      else w).parquet(dir.toString)
    }
    listCommitFiles(dir)
  }

  /** Consume (at most once) the write tracker's stash for exactly the
    * given committed file set — building the FileStat map + bloom
    * sidecars driver-side from the buffered bytes, no Spark job. `None`
    * (→ caller falls back to [[collectFileStats]]) when no stash exists
    * or its file coverage differs from the committed listing (a retried
    * write, a foreign stash — any mismatch is a sound fallback). Empty
    * part files (rows == 0) count as covered but get NO entry, exactly
    * like the read-back pass, whose mapGroups never sees them.
    */
  private def takePendingStats(
      newFiles: Map[String, Seq[String]]): Option[Map[String, FileStat]] = {
    val cur = pendingKeyStats.getAndSet(None)
    cur.flatMap { p =>
      // The tracker records the commit protocol's STAGING paths
      // (…/_temporary/…/attempt_…/<partition dirs>/<part file>); the
      // committed listing holds the post-rename final paths. The
      // FileOutputCommitter rename moves directories and preserves the
      // partition-dir + file-name SUFFIX, which is unique within the
      // commit (it IS the file's relative layout) — so match each
      // committed path to its staged stat by that suffix. Any committed
      // file without exactly one suffix match fails the whole stash →
      // sound fallback to the read-back pass.
      val want: Seq[String] = newFiles.valuesIterator.flatten.toSeq
      def suffixOf(relPath: String): String =
        relPath.split('/').drop(2).mkString("/") // files/c{v}-uuid/<suffix>
      // O(files + stats), not want × stats string scans (a
      // many-thousand-file commit paid a quadratic driver pause here):
      // index the staged stats by their TRAILING path segments at each
      // suffix depth the committed listing uses (one depth per partition
      // layout). A suffix carried by two staged files indexes to None —
      // the same "exactly one match" contract as the scan it replaces.
      type Stat =
        org.apache.spark.sql.execution.datasources.GraftFileKeyStat
      val byDepth = scala.collection.mutable.Map
        .empty[Int, Map[String, Option[Stat]]]
      def statsAtDepth(k: Int): Map[String, Option[Stat]] =
        byDepth.getOrElseUpdate(k, {
          val m = scala.collection.mutable.Map
            .empty[String, Option[Stat]]
          p.stats.foreach { s =>
            val segs = new Path(s.path).toUri.getPath.split('/')
            if (segs.length > k) {
              val sfx = segs.takeRight(k).mkString("/")
              m.update(sfx, if (m.contains(sfx)) None else Some(s))
            }
          }
          m.toMap
        })
      val matched = want.map { w =>
        val sfx = suffixOf(w)
        statsAtDepth(sfx.count(_ == '/') + 1)
          .getOrElse(sfx, None).map(w -> _)
      }
      if (matched.exists(_.isEmpty) || p.stats.size != want.size) None
      else {
        // single build shared by the traced and untraced paths (r13
        // ADVICE: the duplicated call invited drift under future edits)
        val t0 = System.nanoTime()
        val r = Some(buildFileStats(
          matched.iterator.flatten.filter(_._2.numRows > 0L).map {
            case (w, s) =>
              (w, s.keyMin, s.keyMax, s.bloomBytes, s.statMins,
                s.statMaxs, s.numRows, s.colBloomBytes)
          },
          p.liveStats, p.bloomColNames))
        if (sys.env.contains("GRAFT_TRACE_MERGE"))
          System.err.println(f"[mctrace] stats-build    " +
            f"${(System.nanoTime() - t0) / 1e9}%.2fs files=${want.size}")
        r
      }
    }
  }

  /** Write one commit's change-feed tombstone file (identity columns +
    * the deleting commit's stamp) under a per-attempt unique `files/t{v}-*`
    * dir; returns basePath-relative paths (empty when no keys).
    */
  protected def writeTombstones(keys: DataFrame, v: Long): Seq[String] = {
    val stamped =
      if (keys.columns.contains(CommitVerCol)) keys
      else keys.withColumn(CommitVerCol, lit(v))
    // Emptiness probe BEFORE any filesystem write: the always-routed
    // delete branch of the IVM folds sends an EMPTY key frame through
    // here on every no-gone window, and the old write-then-count guard
    // turned that into a create + footer-read + delete round-trip per
    // commit — noise on local FS (the pass rides a background thread
    // under the write job) but three real object-store round-trips on
    // S3-family stores. The probe scans the already-cached merge input
    // (tombstone key frames derive from mergeCommit's persisted frames),
    // stops at the first row, and runs in the same overlapped slot, so
    // the non-empty case pays one cheap background job and the empty
    // case never touches the filesystem at all.
    if (stamped.isEmpty) return Nil
    val dir = new Path(basePath,
      s"files/t$v-${java.util.UUID.randomUUID.toString.take(8)}")
    // failure path deletes the partially-written dir: tombstone dirs are
    // only ever reclaimed through their manifest entry, so a dir
    // orphaned by a mid-write throw would otherwise accrete per failed
    // commit (invisible to readers, disk-only — but junk forever)
    // NonFatal only: running fs.delete during an OutOfMemoryError or an
    // interrupt can mask or compound the original failure — fatal errors
    // propagate untouched (the orphaned dir is the lesser harm there)
    try stamped.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    catch { case t if scala.util.control.NonFatal(t) =>
      try fs.delete(dir, true)
      catch { case d if scala.util.control.NonFatal(d) => () }
      throw t
    }
    val base = new Path(basePath)
    val written = listParquet(dir)
    val rows = written.iterator.map(st => parquetRowCount(st.getPath)).sum
    // Belt to the probe above: a delete of zero keys leaves no tombstone
    // record (and no empty dir). The guard must count ROWS, not files:
    // Spark always keeps partition 0's writer so an empty coalesce(1)
    // write still emits a part file — recording it would flip every
    // downstream change-feed window onto the D-union path (and accrete a
    // junk file + manifest entry per commit) for nothing. The count is
    // one driver-side footer read of the single part file, no job.
    if (rows == 0L) { fs.delete(dir, true); Nil }
    else {
      ManifestListing.StatusCache.putFiles(written)
      written.map(st => relativize(base, st.getPath))
    }
  }

  /** Row count from a parquet file's FOOTER (driver-side metadata read,
    * no Spark job) — sums the row-group counts, which parquet maintains
    * for zero-row files too.
    */
  private def parquetRowCount(f: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(f, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Recursively list a freshly written dir's parquet files. */
  private def listParquet(dir: Path): Vector[FileStatus] = {
    val out = Vector.newBuilder[FileStatus]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) out += st
    }
    out.result()
  }

  /** Recursively list a commit dir's parquet files, keyed by partition,
    * and record their statuses so reads of this commit list nothing.
    */
  private def listCommitFiles(dir: Path): Map[String, Seq[String]] = {
    val base = new Path(basePath)
    val written = listParquet(dir)
    ManifestListing.StatusCache.putFiles(written)
    written.map(_.getPath).groupBy { f =>
      relativize(dir, f).split('/').dropRight(1).iterator
        .filter(_.startsWith(DirColPrefix))
        .map { seg =>
          val eq = seg.indexOf('=')
          seg.substring(DirColPrefix.length, eq) + "=" +
            unescapePathName(seg.substring(eq + 1))
        }.mkString("/")
    }.view.mapValues(_.map(relativize(base, _))).toMap
  }

  private def relativize(base: Path, f: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val p = f.toUri.getPath
    require(p.startsWith(b + "/"), s"$f not under $base")
    p.substring(b.length + 1)
  }

  protected def mergeListings(
      old: Map[String, Seq[String]],
      add: Map[String, Seq[String]]): Map[String, Seq[String]] =
    (old.keySet ++ add.keySet).iterator.map(k =>
      k -> (old.getOrElse(k, Nil) ++ add.getOrElse(k, Nil))).toMap

  /** How long a claimed-but-unpublished version slot can block before the
    * claimant is presumed crashed and its lock is broken. Bounds the wedge
    * a writer that died between claim and publish can cause.
    */
  protected def lockStaleMs: Long = 60000L

  /** Atomic publish with OPTIMISTIC CONCURRENCY CONTROL.
    *
    * Protocol (the Hudi OCC / filesystem-lock-provider analog):
    *   1. CLAIM the target version slot with a create-exclusive lock file
    *      (`_commits/.v{n}.lock`) — atomic on HDFS and object stores with
    *      conditional create; near-atomic on local posix.
    *   2. The claimant writes its manifest to a tmp name and renames it
    *      into place (readers never see a partial file; data files were
    *      already on disk under a per-attempt unique directory).
    *   3. A LOSER waits for the winner's `v{n}.json` to appear (or breaks
    *      a stale lock after [[lockStaleMs]]), then REBASES: if the two
    *      commits touched disjoint partition/bucket units, the loser's
    *      listing delta is replayed on top of the new head — its data
    *      files are reused as-written, no recompute — and publish retries
    *      at head+1. Overlapping units abort with
    *      [[ConcurrentWriteException]] (no lost update; the loser's data
    *      dirs are reclaimed immediately and by [[vacuumOrphans]]).
    *
    * At the 100-TB/1000-executor target this is what lets two jobs
    * loading DISJOINT partitions of one table commit concurrently instead
    * of serializing whole runs (the reference serializes:
    * `maxConcurrentRuns: 1`, lib/glue-stack.ts:48-49).
    */
  protected def writeManifest(m0: Manifest): Unit = {
    // every commit re-stamps the storage type and creation-time props of
    // the class that wrote it: pre-round-6/7 manifests parse with defaults,
    // and m.copy in the write paths would otherwise carry those defaults
    // forever — the first write through the correct class heals the record
    val stamped0 = m0.copy(storageType = storageTypeName,
      props = Some(currentProps),
      commitTimeMs = System.currentTimeMillis)
    // tombstone and drop records age out with retention — entries older
    // than the window can no longer anchor a replayable change feed anyway
    def inWindow(vs: String): Boolean =
      vs.toLong > stamped0.version - keepCommits
    val stamped = stamped0.copy(
      tombstones = stamped0.tombstones.filter(e => inWindow(e._1)),
      drops = stamped0.drops.filter(e => inWindow(e._1)),
      // deletion vectors live exactly as long as their base file: any
      // rewrite/compaction/overwrite that drops the file from the listing
      // folds its vector here, at the single publish funnel — no write
      // path has to remember to clean up
      dvs = if (stamped0.dvs.isEmpty) stamped0.dvs else {
        val live = (stamped0.partitions.valuesIterator ++
          stamped0.logPartitions.valuesIterator).flatten.toSet
        stamped0.dvs.filter(e => live(e._1))
      },
      // unordered-layout marks live exactly as long as their file: a
      // merge/compaction/recluster that rewrites a z-ordered file writes
      // the replacement clusterCols-sorted, so the mark must not outlive
      // the listing entry
      unorderedFiles = if (stamped0.unorderedFiles.isEmpty)
        stamped0.unorderedFiles
      else {
        val live = stamped0.partitions.valuesIterator.flatten.toSet
        stamped0.unorderedFiles.filter(live)
      })
    fs.mkdirs(commitsDir)
    var attempt = stamped
    var retries = 0
    while (true) {
      if (tryPublish(foldStreamMark(attempt))) return
      retries += 1
      if (retries > CowTable.MaxCommitRetries) {
        dropOurDirs(stamped)
        throw new ConcurrentWriteException(
          s"giving up after $retries contended commit attempts at $basePath")
      }
      awaitPublished(attempt.version)
      attempt = rebaseOnto(stamped)
    }
  }

  /** High-water marks must survive EVERY commit: on MOR one micro-batch
    * can produce several commits (log append + inline compaction + clean),
    * so a mark carried only by the batch's own commit ages out of the
    * retained timeline after a few batches and a delayed foreachBatch
    * replay would re-apply. Carrying the previous HEAD's marks forward
    * keeps them in the newest manifest forever (one small JSON read per
    * commit; a full history scan would pay O(keepCommits) manifest parses
    * on every non-streaming table too). Folded keys: the streaming batch
    * id, plus every [[CowTable.MonotoneMarkPrefix]]-prefixed metric —
    * the ledger consumers like [[graft.cdc.MaintainedJoin]] ride on.
    * Marks are folded with `max` (monotone by contract).
    */
  private def foldStreamMark(m1: Manifest): Manifest = {
    val prev =
      if (m1.version <= 1L) None
      else scala.util.Try(manifestAt(m1.version - 1)).toOption
    prev match {
      case None => m1
      case Some(p) =>
        val isMark = (k: String) => k == CowTable.StreamBatchIdKey ||
          k.startsWith(CowTable.MonotoneMarkPrefix)
        val keys = (p.metrics.keySet ++ m1.metrics.keySet).filter(isMark)
        if (keys.isEmpty) m1
        else m1.copy(metrics = m1.metrics ++ keys.flatMap(k =>
          (p.metrics.get(k) ++ m1.metrics.get(k)).maxOption.map(k -> _)))
    }
  }

  /** Claim + publish one version slot; false = slot taken (lock or json). */
  private def tryPublish(m: Manifest): Boolean = {
    val dst = new Path(commitsDir, s"v${m.version}.json")
    if (fs.exists(dst)) return false
    val lock = new Path(commitsDir, s".v${m.version}.lock")
    if (!claimSlot(lock)) return false
    // shards (if any) land BEFORE the root rename — the root publish is
    // still the single atomic commit point and never references a
    // missing shard
    val tmp = new Path(commitsDir, s".v${m.version}.json." +
      s"${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(publishText(m).getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"commit rename failed: $dst")
    }
    publishedSplitCache = pendingSplitCache // the publish landed
    true
  }

  /** The published root text: monolithic below
    * [[CowTable.ManifestShardFileThreshold]] live files, sharded above
    * it. Shard files are CONTENT-ADDRESSED (`s{slot}-{hash}.json`), so a
    * slot whose entries did not change between commits resolves to the
    * SAME file and is skipped — a small commit on a huge table rewrites
    * ~1/[[CowTable.ManifestShardCount]] of its metadata, and two
    * concurrent writers rendering identical content converge on one
    * file (tmp + rename, loser's rename is a no-op).
    */
  private def publishText(m: Manifest): String = {
    if (m.files.size < CowTable.ManifestShardFileThreshold) {
      pendingSplitCache = null
      return CowTable.renderManifest(
        if (m.shardRefs.isEmpty) m else m.copy(shardRefs = Nil))
    }
    val dir = new Path(commitsDir, "shards")
    fs.mkdirs(dir)
    val slots = CowTable.shardSplit(m)
    // the previous head's canonical slots: an untouched slot reuses its
    // shard file WITHOUT rendering — the slot split is a cheap hash pass
    // while rendering is the expensive part, so a small commit's
    // metadata cost is ∝ the slots it touched, not the table
    val prev: Option[Manifest] =
      if (m.version <= 1L) None
      else scala.util.Try(manifestAt(m.version - 1)).toOption
        .filter(_.shardRefs.nonEmpty)
    // same-JVM repeat committers (streaming ingest, CDC micro-batches)
    // skip re-splitting the whole previous listing: the split MEMOIZED at
    // the last successful publish is reused iff the previous root's shard
    // names equal the names that publish produced — a failed or rebased
    // attempt can never poison reuse because the cache is promoted only
    // after the root rename lands (see [[tryPublish]])
    val prevSlots = prev.map { pm =>
      val c = publishedSplitCache
      if (c != null && c.version == pm.version && c.names == pm.shardRefs)
        c.slots
      else CowTable.shardSplit(pm)
    }
    val prevName: Map[Int, String] = prev.map(_.shardRefs.flatMap { nm =>
      val digits = nm.stripPrefix("s").takeWhile(_.isDigit)
      if (digits.nonEmpty) Some(digits.toInt -> nm) else None
    }.toMap).getOrElse(Map.empty)
    val names = slots.zipWithIndex.toSeq.collect {
      case (s, i) if !s.isEmpty =>
        prevSlots.flatMap(ps =>
          if (ps(i) == s) prevName.get(i) else None).getOrElse {
          val bytes = CowTable.renderShardDoc(s).getBytes("UTF-8")
          val md = java.security.MessageDigest.getInstance("MD5")
          val name = s"s$i-" +
            md.digest(bytes).take(8).map(b => f"$b%02x").mkString + ".json"
          val shardDst = new Path(dir, name)
          if (!fs.exists(shardDst)) {
            val tmp = new Path(dir,
              s".$name.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
            val o = fs.create(tmp, true)
            try o.write(bytes) finally o.close()
            if (!fs.rename(tmp, shardDst)) {
              fs.delete(tmp, false)
              if (!fs.exists(shardDst)) throw new IllegalStateException(
                s"shard rename failed: $shardDst")
            }
          } else {
            // content-addressed reuse of a byte-identical EXISTING file:
            // refresh its mtime so it re-enters the cleaner's staleness
            // grace window — the file may be referenced only by versions
            // mid-expiry, and a stale mtime would let the cleaner race
            // this commit and delete a shard the new root names
            try fs.setTimes(shardDst, System.currentTimeMillis, -1)
            catch { case _: java.io.IOException => () /* best-effort */ }
          }
          name
        }
    }
    pendingSplitCache = CowTable.SplitCache(m.version, names, slots)
    CowTable.renderManifest(m.copy(shardRefs = names))
  }

  /** Slot split of the last manifest THIS handle successfully published
    * (promoted from [[pendingSplitCache]] by [[tryPublish]]); lets the
    * next commit skip re-splitting the previous listing. Correctness
    * guard: reuse requires the previous root's `shardRefs` to equal the
    * cached names, so stale or failed-attempt caches fall back to a
    * fresh split.
    */
  @volatile private var publishedSplitCache: CowTable.SplitCache = null
  private var pendingSplitCache: CowTable.SplitCache = null

  /** Create-exclusive claim of a version slot. Hadoop's local-FS
    * `create(overwrite = false)` is check-then-act (two simultaneous
    * claimants can both "win"), so file-scheme paths go through NIO's
    * `createFile` — a true O_CREAT|O_EXCL. HDFS-like filesystems are
    * atomic through the Hadoop API already. S3-family schemes REFUSE by
    * default — see [[CommitLocks]] for the honesty contract and the two
    * opt-ins (`spark.graft.commit.objectStoreLocks`).
    */
  private[table] def claimSlot(lock: Path): Boolean = {
    val uri = lock.toUri
    CommitLocks.checkScheme(uri.getScheme,
      spark.conf.getOption(CommitLocks.ModeConf))
    if (uri.getScheme == null || uri.getScheme == "file")
      try {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(uri.getPath)); true
      } catch { case _: java.io.IOException => false }
    else
      try { fs.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }
  }

  /** Wait for a contended slot's manifest; break the lock if the claimant
    * died before publishing.
    */
  private def awaitPublished(v: Long): Unit = {
    val dst = new Path(commitsDir, s"v$v.json")
    val deadline = System.currentTimeMillis + lockStaleMs
    while (!fs.exists(dst)) {
      if (System.currentTimeMillis > deadline) {
        fs.delete(new Path(commitsDir, s".v$v.lock"), false)
        return
      }
      Thread.sleep(50)
    }
  }

  /** Replay OUR commit's listing delta (vs its original base) on top of
    * the current published head. Succeeds only when the interleaved
    * commits touched disjoint partition/bucket units.
    */
  private def rebaseOnto(ours: Manifest): Manifest = {
    val head = manifest
    if (head.version < ours.version) return ours // stale lock broken: retake
    if (ours.version <= 1L) {
      dropOurDirs(ours)
      throw new ConcurrentWriteException(
        s"concurrent table creation at $basePath")
    }
    val base = scala.util.Try(manifestAt(ours.version - 1)).getOrElse {
      dropOurDirs(ours)
      throw new ConcurrentWriteException(
        s"commit base v${ours.version - 1} no longer retained at $basePath " +
          "(too many commits interleaved)")
    }
    def touched(a: Manifest, b: Manifest): Set[String] = {
      // a unit's state includes the deletion vectors anchored to its
      // files: a vectored delete changes no listing, but it conflicts
      // with a concurrent rewrite of the same unit exactly like a
      // rewrite does (the rewrite would fold rows the delete killed)
      def dvOf(x: Manifest, k: String): Seq[(String, DvEntry)] =
        x.partitions.getOrElse(k, Nil).flatMap(f =>
          x.dvs.get(f).map(f -> _))
      val ks = a.partitions.keySet ++ b.partitions.keySet ++
        a.logPartitions.keySet ++ b.logPartitions.keySet
      ks.filter(k => a.partitions.get(k) != b.partitions.get(k) ||
        a.logPartitions.get(k) != b.logPartitions.get(k) ||
        dvOf(a, k) != dvOf(b, k))
    }
    val oursT = touched(ours, base)
    val theirsT = touched(head, base)
    val overlap = oursT.intersect(theirsT)
    if (overlap.nonEmpty) {
      dropOurDirs(ours)
      throw new ConcurrentWriteException(
        s"concurrent writers touched the same units at $basePath: " +
          s"${overlap.take(5).mkString(", ")} — aborted with no lost update")
    }
    // at most one side may evolve the schema in one window
    val schemaJson =
      if (ours.schemaJson == head.schemaJson) ours.schemaJson
      else if (ours.schemaJson == base.schemaJson) head.schemaJson
      else if (head.schemaJson == base.schemaJson) ours.schemaJson
      else {
        dropOurDirs(ours)
        throw new ConcurrentWriteException(
          s"concurrent schema evolution at $basePath")
      }
    def replay(headMap: Map[String, Seq[String]],
        ourMap: Map[String, Seq[String]]): Map[String, Seq[String]] =
      oursT.foldLeft(headMap) { (acc, k) =>
        ourMap.get(k) match {
          case Some(fls) => acc + (k -> fls)
          case None => acc - k
        }
      }
    val ourRemoved = base.files.toSet -- ours.files.toSet
    val ourAddedStats = ours.fileStats -- base.fileStats.keySet
    head.copy(
      version = head.version + 1,
      schemaJson = schemaJson,
      partitions = replay(head.partitions, ours.partitions),
      logPartitions = replay(head.logPartitions, ours.logPartitions),
      deltaCommits = head.deltaCommits +
        math.max(0L, ours.deltaCommits - base.deltaCommits),
      lastCompaction = math.max(head.lastCompaction, ours.lastCompaction),
      fileStats = (head.fileStats -- ourRemoved) ++ ourAddedStats,
      // deletion vectors replay like file stats: entries we added or
      // extended overwrite (their files live in OUR units — disjointness
      // means the interleaved head cannot have touched them), entries
      // whose base file we rewrote away fold
      dvs = (head.dvs -- ourRemoved) ++ ours.dvs.filter {
        case (f, e) => !base.dvs.get(f).contains(e) },
      tombstones = {
        // our attempt's NEW entries re-key to the published version (their
        // rows keep the tentative stamp — the changed-row predicate's dir
        // rescue covers readers)
        val ourNew =
          (ours.tombstones -- base.tombstones.keySet).values.flatten.toSeq
        if (ourNew.isEmpty) head.tombstones
        else head.tombstones + ((head.version + 1).toString -> ourNew)
      },
      drops = {
        // same re-keying for drop records: the dropped files were part of
        // `base`'s listing, and disjointness (checked above) guarantees the
        // interleaved head did not rewrite them
        val ourNew = (ours.drops -- base.drops.keySet).values.toSeq
        if (ourNew.isEmpty) head.drops
        else head.drops + ((head.version + 1).toString -> DropRecord(
          ourNew.map(_.partitions).reduce(_ ++ _),
          ourNew.map(_.logPartitions).reduce(_ ++ _)))
      },
      operation = ours.operation,
      metrics = ours.metrics +
        ("rebased_over" -> (head.version - base.version)))
  }

  /** Best-effort immediate reclaim of an aborted attempt's data dirs (the
    * per-attempt unique `files/c{v}-{token}` dirs this commit wrote);
    * [[vacuumOrphans]] is the backstop.
    */
  private def dropOurDirs(ours: Manifest): Unit = {
    val tokens = Seq(s"c${ours.version}-", s"dv${ours.version}-")
    (ours.files ++ ours.dvSidecarFiles).map(_.split('/')(1)).distinct
      .filter(d => tokens.exists(d.startsWith))
      .foreach(d => scala.util.Try(
        fs.delete(new Path(basePath, s"files/$d"), true)))
  }

  /** Compaction: rewrite any partition/bucket unit whose file count exceeds
    * `maxFilesPerUnit` into freshly-written files (one commit). The
    * append fast path (insertAppend) accumulates small files per unit —
    * this is the table service that folds them back, the COW analog of
    * MOR log-compaction (reference cadence knob: `hoodie.compact.inline*`,
    * processData.py:152-153).
    */
  def compact(maxFilesPerUnit: Int = 4, parallelism: Int = 0): Boolean =
    compactWhere(null, maxFilesPerUnit, parallelism)

  /** [[compact]] restricted to partitions whose partition-column values
    * satisfy `scope` (null = the whole table): `OPTIMIZE ... WHERE`.
    * At 100 TB a compaction sweep targets the partitions the ingest
    * pattern actually fragments (the recent ones) — scanning every
    * crowded unit of a petabyte of cold history per run is the classic
    * maintenance-job failure mode this scoping exists to avoid.
    */
  def compactWhere(scope: Column, maxFilesPerUnit: Int = 4,
      parallelism: Int = 0): Boolean = {
    require(scope == null || partitionCols.nonEmpty,
      s"compactWhere needs a partitioned table at $basePath " +
        "(an unpartitioned table has no partition values to scope by; " +
        "use compact())")
    val m = manifest
    // a unit is rewrite-worthy when its file count exceeds the bound OR
    // any of its files carries a deletion vector: compaction is the
    // service that folds vectors back into clean files (reads go through
    // the DV-filtered readFiles, so the rewrite materializes only live
    // rows and the publish funnel drops the folded entries)
    val inScope: Set[String] =
      if (scope == null) m.partitions.keySet
      else partitionKeysMatching(m, m.partitions.keys.toSeq.sorted, scope)
    val crowded = m.partitions.filter { case (k, fls) =>
      inScope(k) &&
        (fls.length > maxFilesPerUnit || fls.exists(m.dvs.contains))
    }.keySet
    if (crowded.isEmpty) return false
    val data = readFiles(m, crowded.toSeq.sorted.flatMap(m.partitions))
    val v = m.version + 1
    // default shuffle width = one task per rewritten unit -> one output
    // file per unit (the point of compaction)
    val width = if (parallelism > 0) parallelism else crowded.size
    val newFiles = writeCommit(data, v, width, idSchema = m.schema)
    writeManifest(withFileStats(
      m.copy(version = v,
        partitions = m.partitions -- crowded ++ newFiles,
        operation = "compact", metrics = CowTable.writeStats(newFiles) +
          ("units_rewritten" -> crowded.size.toLong)),
      newFiles, m.schema))
    clean()
    true
  }

  /** Size-aware compaction (the Hudi small-file-management analog): for
    * each partition/bucket unit, bin-pack base files smaller than
    * `smallBytes` (default `targetBytes / 2`) into rewrite groups of
    * ~`targetBytes` and fold each group into a fresh file; files at or
    * above the small threshold are kept VERBATIM — so unlike [[compact]]
    * (which rewrites whole crowded units) the rewrite cost scales with
    * the small-file debris, not the unit size. Sizes come from the
    * manifest's per-file stats when recorded (zero FS calls — the 100-TB
    * planning path); unknown entries fall back to one FS stat each.
    * One commit; returns false when no unit had two or more small files.
    */
  def compactBySize(targetBytes: Long = 128L << 20, smallBytes: Long = 0L,
      parallelism: Int = 0): Boolean = {
    val small = if (smallBytes > 0L) smallBytes else targetBytes / 2
    val m = manifest
    def sizeOf(f: String): Long =
      m.fileStats.get(f).map(_.bytes).filter(_ >= 0L).getOrElse(
        scala.util.Try(fs.getFileStatus(new Path(basePath, f)).getLen)
          .getOrElse(Long.MaxValue)) // unstat-able: treat as big, keep
    val toFold: Map[String, Seq[String]] = m.partitions.flatMap {
      case (k, fls) =>
        val smalls = fls.filter(sizeOf(_) < small)
        if (smalls.size < 2) None else Some(k -> smalls)
    }
    if (toFold.isEmpty) return false
    // first-fit bin-packing over each unit's size-sorted small files:
    // every bin lands under ~targetBytes (a single file never splits)
    val bins = scala.collection.mutable.Buffer.empty[Seq[String]]
    toFold.toSeq.sortBy(_._1).foreach { case (_, fls) =>
      var cur = Vector.empty[String]; var curBytes = 0L
      fls.sortBy(sizeOf).foreach { f =>
        val b = sizeOf(f)
        if (cur.nonEmpty && curBytes + b > targetBytes) {
          bins += cur; cur = Vector(f); curBytes = b
        } else { cur :+= f; curBytes += b }
      }
      if (cur.nonEmpty) bins += cur
    }
    val v = m.version + 1
    val binCol = "_graft_szbin"
    val binned = bins.zipWithIndex.map { case (fls, i) =>
      readFiles(m, fls).withColumn(binCol, lit(i))
    }.reduce(_ unionByName _)
    val width = if (parallelism > 0) parallelism else bins.size
    // range-repartition on (dir cols, bin) gives ~one task per bin; the
    // bin column is dropped before writing; cluster columns keep their
    // within-file locality
    val newFiles = writeCommit(binned, v, width,
      rangeSortCols = binCol +: clusterCols, dropCols = Seq(binCol),
      idSchema = m.schema)
    val foldedSet = toFold.valuesIterator.flatten.toSet
    val kept = toFold.map { case (k, smalls) =>
      k -> m.partitions(k).filterNot(smalls.toSet)
    }
    writeManifest(withFileStats(
      m.copy(version = v,
        partitions =
          m.partitions -- toFold.keySet ++ mergeListings(kept, newFiles),
        fileStats = m.fileStats -- foldedSet,
        operation = "compact_size",
        metrics = CowTable.writeStats(newFiles) +
          ("files_folded" -> foldedSet.size.toLong)),
      newFiles, m.schema))
    clean()
    true
  }

  /** Clustering service (the Hudi clustering analog): rewrite ALL base
    * files with rows range-partitioned and locally sorted by `sortCols`,
    * so each file carries a narrow, near-disjoint sort-key range and the
    * refreshed record-key index (min/max + bloom) prunes point and range
    * reads sharply. Sort-on-write (`clusterCols`) covers only newly
    * written data — after many appends/upserts the accumulated files'
    * key ranges interleave, and this service is what folds the layout
    * back. One commit; MOR delta logs are untouched (they compact
    * separately). At 100 TB run it per-partition-group on a cadence, like
    * compaction.
    */
  def recluster(sortCols: Seq[String], parallelism: Int = 0): Boolean = {
    require(sortCols.nonEmpty, "recluster needs at least one sort column")
    // a declared clusterCols layout is a CONTRACT other components rely
    // on (the bucket scan reports per-partition sort order from it —
    // a silent rewrite in a different order would make a sort-merge
    // join skip its sorts over misordered rows): reclustering such a
    // table by anything else must refuse, not quietly break it
    require(clusterCols.isEmpty || sortCols == clusterCols,
      s"recluster(${sortCols.mkString(",")}) would break the table's " +
        s"declared clusterCols=${clusterCols.mkString(",")} write-path " +
        "clustering contract (and the ordering the bucket scan reports)")
    val m = manifest
    if (m.partitions.isEmpty) return false
    val v = m.version + 1
    val data = readFiles(m, m.baseFiles)
    val width = if (parallelism > 0) parallelism
      else math.max(m.partitions.size, 1)
    val newFiles = writeCommit(data, v, width, rangeSortCols = sortCols,
      idSchema = m.schema)
    writeManifest(withFileStats(
      m.copy(version = v, partitions = newFiles, operation = "cluster",
        metrics = CowTable.writeStats(newFiles) +
          ("units_rewritten" -> m.partitions.size.toLong)),
      newFiles, m.schema))
    clean()
    true
  }

  /** Z-order clustering service: rewrite ALL base files with rows ordered
    * by the 2-D Morton code of the two columns ([[graft.functions
    * .BitInterleave]] — codegen'd), after min/max range-scaling each to a
    * dense `bits`-wide integer domain. Where [[recluster]]'s lexicographic
    * sort gives tight per-file statistics on the LEADING column only,
    * Z-order gives near-tight min/max on BOTH columns simultaneously, so
    * `statsCols` file skipping ([[snapshotForRange]], the pushed-filter
    * DSv2 path) prunes range predicates on either axis — the standard
    * lakehouse Z-ordering trade (each axis prunes ~sqrt as sharply as a
    * dedicated sort, but both axes prune). Columns must be numeric,
    * timestamp or date (range-scaling needs an order-preserving cast to
    * double); two scans total — one bounded min/max aggregate, one
    * rewrite. MOR delta logs are untouched, like [[recluster]].
    */
  def reclusterZOrder(colA: String, colB: String, parallelism: Int = 0,
      bits: Int = 20): Boolean =
    reclusterZOrder(Seq(colA, colB), parallelism, bits)

  /** N-axis Z-order rewrite (3+ columns interleave through
    * [[graft.functions.BitInterleaveN]]): bits per dimension is capped at
    * 62/n so the Morton key stays in positive signed-64 range; each extra
    * axis trades per-axis resolution for one more prunable dimension —
    * at 3 axes and the default 20-bit request, each gets 20 bits (60
    * total); at 4, 15 bits, still ~32k distinguishable range cells per
    * axis, far finer than file granularity.
    */
  def reclusterZOrder(cols: Seq[String], parallelism: Int,
      bits: Int): Boolean = {
    require(cols.size >= 2, "z-order needs at least two columns")
    // a z-order rewrite never preserves a declared clusterCols order —
    // legal anyway: the written files are RECORDED in the manifest's
    // unorderedFiles, so the bucket scan stops claiming per-partition
    // order for them (SMJ keeps its sorts) while their per-file stats
    // prune on every z axis. Normal merges rewrite files
    // clusterCols-sorted and the marks age out with the listing.
    val m = manifest
    if (m.partitions.isEmpty) return false
    val sch = m.schema
    for (c <- cols) {
      require(sch.fieldNames.contains(c), s"no such column $c")
      val ok = sch(c).dataType match {
        case _: NumericType | _: TimestampType | _: DateType => true
        case _ => false
      }
      require(ok, s"z-order needs a numeric/timestamp/date column; " +
        s"$c is ${sch(c).dataType}")
    }
    val bitsPerDim = math.min(bits, 62 / cols.size)
    val v = m.version + 1
    val data = readFiles(m, m.baseFiles)
    val ds = cols.map(c => col(c).cast("double"))
    val s = data.agg(ds.flatMap(c => Seq(min(c), max(c))).head,
      ds.flatMap(c => Seq(min(c), max(c))).tail: _*).head()
    if (cols.indices.exists(i => s.isNullAt(2 * i)))
      return false // all-null axis: no-op
    val top = (1L << bitsPerDim) - 1
    def scaled(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(greatest(
        ((c - lo) / (hi - lo) * top).cast("long"), lit(0L)), lit(top))
    val zkey = graft.functions.ZOrder.zorderN(
      cols.indices.map(i =>
        scaled(ds(i), s.getDouble(2 * i), s.getDouble(2 * i + 1))),
      bitsPerDim)
    val zc = "_graft_zkey"
    val width = if (parallelism > 0) parallelism
      else math.max(m.partitions.size, 1)
    val newFiles = writeCommit(data.withColumn(zc, zkey), v, width,
      rangeSortCols = Seq(zc), dropCols = Seq(zc), idSchema = m.schema)
    writeManifest(withFileStats(
      m.copy(version = v, partitions = newFiles, operation = "cluster_z",
        unorderedFiles = if (clusterCols.isEmpty) Nil
          else newFiles.valuesIterator.flatten.toSeq.sorted,
        metrics = CowTable.writeStats(newFiles) +
          ("units_rewritten" -> m.partitions.size.toLong)),
      newFiles, m.schema))
    clean()
    true
  }

  /** Restore (the Hudi savepoint/restore analog): durably roll the table
    * back to a retained `version` by publishing a NEW commit that carries
    * that version's file listing (and, on MOR, its delta-log listing) —
    * time travel made the current state, without deleting history. The
    * target must still be within `keepCommits` retention; later writes
    * build on the restored state normally.
    */
  def restoreTo(version: Long): Unit = {
    val cur = manifest
    require(version <= cur.version,
      s"cannot restore to future version $version (current ${cur.version})")
    val target = manifestAt(version)
    writeManifest(target.copy(version = cur.version + 1,
      operation = "restore",
      metrics = Map("restored_version" -> version)))
    clean()
  }

  /** Zero-copy SHALLOW CLONE (the Delta `CLONE` analog): publish a new,
    * independent table at `destPath` whose first manifest references THIS
    * table's data files by absolute URI — one manifest write, no data
    * read or copied at any table size (the 100-TB dev/test-snapshot
    * primitive). The clone:
    *
    *   - CONTINUES the source's version counter (its first commit is the
    *     source's `version`), so `_graft_commit_version` stamps inside
    *     cloned files stay semantically correct — `changesSince(cloneV)`
    *     on the clone sees exactly the clone's own later commits, never
    *     false positives from source-era stamps;
    *   - keeps the source's creation-time config (keys, buckets,
    *     clustering, index, stats/bloom columns, storage type) and all
    *     per-file index entries/bloom refs (absolutized — probes keep
    *     pruning);
    *   - starts a FRESH change-feed timeline: tombstone/drop records are
    *     not carried (pre-clone feed windows aren't retained anyway);
    *   - never touches source files afterwards: its writes produce new
    *     LOCAL files (relative listings), its cleaner/vacuum reclaim only
    *     local commit dirs, and COW rewrites replace absolute refs with
    *     local copies as units churn.
    *
    * CAVEAT (same as Delta shallow clones): the clone depends on the
    * source's files existing. A source `clean()`/`vacuum()`/partition
    * drop that reclaims files the clone still references breaks the
    * clone — shallow clones are for short-lived dev/test work, not
    * archival; deep-copy with a bulk insert for that.
    */
  def cloneTo(destPath: String, version: Option[Long] = None): CowTable = {
    val src = version.map(manifestAt).getOrElse(manifest)
    require(!CowTable.existsAt(spark, destPath),
      s"cloneTo: a table already exists at $destPath")
    val absBase = fs.makeQualified(new Path(basePath)).toString
      .stripSuffix("/")
    def abs(f: String) =
      if (CowTable.isAbsoluteRef(f)) f else s"$absBase/$f"
    def absL(m: Map[String, Seq[String]]) =
      m.map { case (k, v) => k -> v.map(abs) }
    val p = src.props.getOrElse(CowTable.inferProps(src))
    val dest: CowTable =
      if (src.storageType == "mor")
        new MorTable(spark, destPath, src.keyCols, src.partitionCols,
          src.precombineField, keepCommits = p.keepCommits,
          numBuckets = p.numBuckets, clusterCols = p.clusterCols,
          compactEvery = p.compactEvery,
          fileIndexEntries = p.fileIndexEntries, statsCols = p.statsCols,
          bloomCols = p.bloomCols, checkConstraints = p.checkConstraints)
      else
        new CowTable(spark, destPath, src.keyCols, src.partitionCols,
          src.precombineField, keepCommits = p.keepCommits,
          numBuckets = p.numBuckets, clusterCols = p.clusterCols,
          trackCommitVersions = p.trackCommitVersions,
          fileIndexEntries = p.fileIndexEntries, statsCols = p.statsCols,
          bloomCols = p.bloomCols, checkConstraints = p.checkConstraints,
          deleteVectors = p.deleteVectors)
    dest.writeManifest(src.copy(
      partitions = absL(src.partitions),
      logPartitions = absL(src.logPartitions),
      // DV map keys must keep matching the (absolutized) listing entries,
      // and the sidecars are shared by reference like the data files; the
      // stored positions carry the SOURCE files' scan paths, which is
      // exactly what the clone keeps reading
      dvs = src.dvs.map { case (f, e) =>
        abs(f) -> e.copy(files = e.files.map(abs)) },
      fileStats = src.fileStats.map { case (f, st) =>
        abs(f) -> st.copy(bloomRef = abs(st.bloomRef),
          colBloomRefs = st.colBloomRefs.map {
            case (c, r) => c -> abs(r) })
      },
      tombstones = Map.empty,
      drops = Map.empty,
      operation = "clone",
      metrics = Map("cloned_from_version" -> src.version)))
    dest
  }

  /** WRITE-AUDIT-PUBLISH: adopt `staging`'s current state as this table's
    * next commit — the Iceberg-WAP / Delta-shallow-clone-promote pattern:
    *
    * {{{
    *   val staging = main.cloneTo(stagingPath)   // zero-copy snapshot
    *   staging.upsert(batch); staging.delete(gone)  // write
    *   require(staging.snapshot().filter(bad).isEmpty)  // audit
    *   main.publishFrom(staging)                 // one atomic commit
    * }}}
    *
    * Readers of `main` see either the pre-publish state or ALL of
    * staging's changes. No data copies: files staging inherited from
    * this table still reference this table's directory; files staging
    * wrote are adopted as absolute references into the staging directory
    * (which this table's manifests then own — do not delete it; a
    * `compact()` re-localizes if desired, same contract as [[cloneTo]]).
    *
    * Publishing is deliberately snapshot-level: the commit is pinned to
    * the version the staging clone was TAKEN FROM (the clone commit's
    * `cloned_from_version` mark, or an explicit `expectedBase`), so ANY
    * commit that landed on this table after the clone aborts the publish
    * with [[ConcurrentWriteException]] rather than silently replacing
    * unaudited writes — even ones in partitions staging never touched.
    * Change feeds do not chain across a publish (tombstone anchors reset
    * — use [[diff]] for exact A/R/C across it); commit-version stamps
    * written in staging are preserved.
    */
  def publishFrom(staging: CowTable,
      expectedBase: Option[Long] = None): Unit = {
    val sm = staging.manifest
    require(sm.keyCols == keyCols && sm.partitionCols == partitionCols,
      s"publishFrom: staging identity (${sm.keyCols}/${sm.partitionCols})" +
        s" differs from (${keyCols}/${partitionCols}) at $basePath")
    val base = expectedBase
      .orElse(staging.maxMetricOverHistory("cloned_from_version"))
      .getOrElse(throw new IllegalArgumentException(
        s"publishFrom: staging at ${staging.basePath} carries no " +
          "cloned_from_version mark — pass expectedBase explicitly"))
    val head = manifest.version
    if (head != base)
      throw new ConcurrentWriteException(
        s"publish aborted: $basePath advanced to v$head since the " +
          s"staging clone was taken at v$base — re-stage from the " +
          "current head (no lost update)")
    val stagingBase = staging.fs
      .makeQualified(new Path(staging.basePath)).toString.stripSuffix("/")
    def abs(f: String) =
      if (CowTable.isAbsoluteRef(f)) f else s"$stagingBase/$f"
    def absL(m: Map[String, Seq[String]]) =
      m.map { case (k, v) => k -> v.map(abs) }
    writeManifest(sm.copy(
      version = base + 1,
      partitions = absL(sm.partitions),
      logPartitions = absL(sm.logPartitions),
      fileStats = sm.fileStats.map { case (f, st) =>
        abs(f) -> st.copy(bloomRef = abs(st.bloomRef),
          colBloomRefs = st.colBloomRefs.map { case (c, r) => c -> abs(r) })
      },
      tombstones = Map.empty,
      drops = Map.empty,
      operation = "publish",
      metrics = Map("published_from_version" -> sm.version)))
  }

  /** Max value of a metrics key across the RETAINED commit timeline — for
    * marks that must survive interleaved service commits (a streaming
    * sink's batch-id high-water mark is still valid when a compaction or
    * clean landed after it; only manifest JSONs are read, never data).
    * Retention bound: the mark is findable as long as fewer than
    * `keepCommits` commits landed since it was written.
    */
  def maxMetricOverHistory(key: String): Option[Long] =
    CowTable.listVersions(fs, commitsDir).sorted
      .flatMap(v => scala.util.Try(manifestAt(v)).toOption)
      .flatMap(_.metrics.get(key))
      .maxOption

  /** Roll back crashed commits: delete `files/c{v}` data directories that
    * no retained manifest references AND that belong to no committed
    * version — the debris of a writer that died after writing data but
    * before publishing its manifest (data-before-manifest ordering makes
    * such dirs invisible to readers, but nothing else ever reclaims them).
    * The Hudi failed-commit rollback analog. MUST only run when no write
    * is in flight (single-writer operation, like every write path here):
    * a concurrent writer's not-yet-published commit dir looks exactly like
    * an orphan. Returns the removed directory names.
    */
  /** One-call housekeeping bundle (the OPTIMIZE-style maintenance pass a
    * scheduler runs): fold pending MOR delta logs, bin-pack small base
    * files toward the target size, apply commit retention, and reclaim
    * crash debris — each step the existing audited service commit, each
    * skipped when it has nothing to do. Returns what happened, for the
    * scheduler's log: `logs_compacted` / `files_binpacked` (0|1),
    * `orphan_dirs_removed`.
    */
  def maintain(targetFileBytes: Long = 128L << 20,
      smallBytes: Long = 0L): Map[String, Long] = {
    val logsFolded = this match {
      case mor: MorTable if manifest.logPartitions.nonEmpty =>
        mor.compactLogs()
      case _ => false
    }
    val packed = compactBySize(targetFileBytes, smallBytes)
    // fold any remaining deletion vectors: with an effectively-infinite
    // file bound, compact rewrites EXACTLY the units holding DV'd files
    // (bin-packing above only touches small files, so a big masked file
    // would otherwise carry its read-side anti-join forever)
    val dvsFolded = manifest.dvs.nonEmpty &&
      compact(maxFilesPerUnit = Int.MaxValue - 1)
    clean()
    val orphans = vacuumOrphans()
    // auto re-ANALYZE: stats are served to CBO only while fresh, so a
    // table someone analyzed once would silently lose its statistics
    // after the next data commit forever — the maintenance pass is
    // exactly where to renew them, over the same columns and bin count
    // the last ANALYZE chose (both recoverable from the recorded stats)
    val m2 = manifest
    // belt-and-braces: replay only columns still in the schema (DDL
    // scrubs the record, but a pre-fix manifest may carry stale keys —
    // they must not wedge every subsequent maintain())
    val replayCols = m2.tableColStats.keys.toSeq
      .filter(m2.schema.fieldNames.contains).sorted
    val statsRefreshed = replayCols.nonEmpty &&
      m2.tableColStatsVersion != m2.version && {
        val bins = m2.tableColStats.valuesIterator
          .map(_.histogram.size).max
        analyze(replayCols, bins)
        true
      }
    Map(
      "logs_compacted" -> (if (logsFolded) 1L else 0L),
      "files_binpacked" -> (if (packed) 1L else 0L),
      "dvs_folded" -> (if (dvsFolded) 1L else 0L),
      "stats_refreshed" -> (if (statsRefreshed) 1L else 0L),
      "orphan_dirs_removed" -> orphans.size.toLong)
  }

  def vacuumOrphans(): Seq[String] = {
    val committed = listVersions(fs, commitsDir).toSet
    // reference tracking is by directory NAME: concurrent writers' dirs
    // share a version prefix (c6-a1b2 vs c6-9f00) and only the winner's
    // is referenced — the loser's is exactly the garbage to reclaim
    val referenced: Set[String] = committed.flatMap(v =>
      scala.util.Try(manifestAt(v)).toOption.toSeq.flatMap(m =>
        m.files ++ m.feedAnchoredFiles ++ m.dvSidecarFiles))
      .map(_.split('/')(1))
    val filesDir = new Path(basePath, "files")
    if (!fs.exists(filesDir)) return Nil
    fs.listStatus(filesDir).toSeq.map(_.getPath).filter { p =>
      val name = p.getName
      CowTable.dirVersion(name).nonEmpty && !referenced.contains(name)
    }.map { p => fs.delete(p, true); p.getName }
  }

  /** Commit timeline as a DataFrame, NEWEST FIRST (`DESCRIBE HISTORY` /
    * Hudi's `show commits` analog): one row per RETAINED version with its
    * wall-clock commit time, the operation that produced it, live
    * file/unit counts and the commit's recorded write metrics. Reads only
    * the manifest JSONs — bounded by `keepCommits`, never data; the same
    * cost at 100 TB as at 100 rows.
    */
  def history(): DataFrame = {
    import spark.implicits._
    // flatMap + re-check: a concurrent writer's clean() may drop the
    // oldest manifest between the listing and the read — skip vanished
    // versions instead of failing the whole timeline query
    listVersions(fs, commitsDir).sorted(Ordering[Long].reverse).flatMap {
      v => scala.util.Try(manifestAt(v)).toOption
    }.map { m =>
      (m.version,
        if (m.commitTimeMs > 0) Some(new java.sql.Timestamp(m.commitTimeMs))
        else None,
        m.operation, m.files.size.toLong, m.partitions.size.toLong,
        m.deltaCommits, m.lastCompaction, m.metrics)
    }.toDF("version", "commit_time", "operation", "files", "units",
      "delta_commits", "last_compaction", "metrics")
  }

  /** K6 — catalog integration: expose the current snapshot as a temp view
    * (the manifest remains the source of truth; this is the `spark.catalog`
    * surface of the reference's Glue-catalog sync, processData.py:160-169).
    */
  def registerView(name: String): Unit =
    snapshot().createOrReplaceTempView(name)

  /** K8 — cleaner: keep the latest `keepCommits` manifests
    * (reference: KEEP_LATEST_COMMITS, 10 retained, processData.py:196-197)
    * and delete commit data dirs no retained manifest references.
    */
  def clean(): Unit = {
    val versions = listVersions(fs, commitsDir).sorted
    dropVersions(versions.dropRight(keepCommits),
      versions.takeRight(keepCommits))
  }

  /** TIME-based retention (Iceberg `expire_snapshots(older_than)` /
    * Delta `logRetentionDuration` analog, enabled by the manifests'
    * commit timestamps): drop retained versions whose commit time is
    * strictly before `olderThanMs`, always keeping the newest
    * `keepLast` (>= 1 — the head is never expirable). Complements the
    * count-based [[clean]]: count bounds replay depth, time bounds how
    * long history is legally retained (compliance windows). Pre-stamp
    * manifests (commitTimeMs = 0) count as infinitely old. Returns the
    * number of versions expired. Same liveness rule as [[clean]]: a
    * data dir is reclaimed only when no surviving manifest references
    * it.
    */
  def expireCommits(olderThanMs: Long, keepLast: Int = 1): Int = {
    val versions = listVersions(fs, commitsDir).sorted
    val protectedTail = versions.takeRight(math.max(keepLast, 1)).toSet
    // longest droppable PREFIX only: the retained timeline must stay
    // contiguous (incremental windows walk version-by-version), so one
    // young-looking manifest mid-history shields everything above it
    val dropped = versions.takeWhile(v =>
      !protectedTail(v) && manifestAt(v).commitTimeMs < olderThanMs)
    dropVersions(dropped, versions.drop(dropped.size))
    dropped.size
  }

  /** SAVEPOINT a retained version (Hudi savepoint analog): the version's
    * manifest — and every data file it references — survives [[clean]]
    * and [[expireCommits]] until [[releaseSavepoint]], making it a
    * durable [[restoreTo]]/[[snapshotAt]]/[[cloneTo]] target beyond the
    * retention window. Marker-file based (`_commits/.sp-v{N}`), so
    * savepoints survive process restarts and cost nothing per commit.
    */
  def savepoint(version: Long): Unit = {
    manifestAt(version) // loud if not (or no longer) retained
    val out = fs.create(new Path(commitsDir, s".sp-v$version"), true)
    out.close()
  }

  /** Drop a savepoint; the next [[clean]] may reclaim the version. */
  def releaseSavepoint(version: Long): Boolean =
    fs.delete(new Path(commitsDir, s".sp-v$version"), false)

  /** Currently savepointed versions (sorted). */
  def savepoints(): Seq[Long] =
    if (!fs.exists(commitsDir)) Nil
    else fs.listStatus(commitsDir).iterator.map(_.getPath.getName)
      .collect { case CowTable.SavepointName(n) => n.toLong }
      .toSeq.sorted

  private def dropVersions(
      dropped0: Seq[Long], retained: Seq[Long]): Unit = {
    // savepointed versions never drop; their manifests join the liveness
    // set so their data dirs survive reclaim, while the reclaim WINDOW
    // floor stays the natural retention boundary (dirs between an old
    // savepoint and the window are reclaimed unless a kept manifest
    // references them)
    val sp = savepoints().toSet
    val dropped = dropped0.filterNot(sp)
    val keptManifests = (retained ++ dropped0.filter(sp)).distinct
    dropped.foreach { v =>
      fs.delete(new Path(commitsDir, s"v$v.json"), false)
      fs.delete(new Path(commitsDir, s".v$v.lock"), false)
    }
    // content-addressed manifest shards: delete the ones no retained
    // root references — on every pass, not only version-dropping ones
    // (a shard unreferenced at its version's drop time may still have
    // been inside the grace window then). The lockStaleMs window
    // protects an in-flight writer that has written new shards but not
    // yet published the root naming them.
    val shardsDir = new Path(commitsDir, "shards")
    if (fs.exists(shardsDir)) {
      val liveShards = keptManifests.iterator.map(manifestAt)
        .flatMap(_.shardRefs).toSet
      val cutoff = System.currentTimeMillis - lockStaleMs
      fs.listStatus(shardsDir).foreach { st =>
        val n = st.getPath.getName
        if (!liveShards(n) && st.getModificationTime < cutoff)
          fs.delete(st.getPath, false)
      }
    }
    if (dropped.nonEmpty) {
      val live: Set[String] = keptManifests.iterator.map(manifestAt)
        .flatMap(m => m.files ++ m.feedAnchoredFiles ++ m.dvSidecarFiles)
        .map(_.split('/')(1)).toSet
      val oldestRetained =
        if (retained.nonEmpty) retained.min else Long.MaxValue
      val filesDir = new Path(basePath, "files")
      if (fs.exists(filesDir)) fs.listStatus(filesDir).foreach { st =>
        val name = st.getPath.getName
        // delete only PRE-retention-window dirs nothing references: an
        // in-flight concurrent writer's dir carries a version ABOVE the
        // window (head+1) and must survive this pass (vacuumOrphans, a
        // no-writes-in-flight operation, reclaims crashed debris inside
        // the window)
        CowTable.dirVersion(name) match {
          case Some(v) if v < oldestRetained && !live.contains(name) =>
            fs.delete(st.getPath, true)
          case _ => ()
        }
      }
    }
  }
}

object CowTable {
  private val ManifestName = "v(\\d+)\\.json".r
  private[table] val SavepointName = "\\.sp-v(\\d+)".r

  /** Raw write-tracker stash: the per-file stats one writeCommit
    * collected, plus the column context the consumer needs to turn them
    * into manifest FileStats (see [[CowTable.takePendingStats]]).
    */
  private[table] final case class PendingKeyStats(
      stats: Seq[org.apache.spark.sql.execution.datasources.GraftFileKeyStat],
      liveStats: Seq[String],
      bloomColNames: Seq[String])

  /** The wider of two types when one safely contains the other (see
    * [[CowTable.evolveSchema]]); None for incompatible pairs. Key,
    * partition and stats columns stay sound under these widenings: the
    * v2+ index encoding already routes all integrals through long, and
    * partition-value strings render identically.
    */
  private[table] def widerType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val intOrder: Seq[DataType] =
      Seq(ByteType, ShortType, IntegerType, LongType)
    (a, b) match {
      case _ if a == b => Some(a)
      case (x, y) if intOrder.contains(x) && intOrder.contains(y) =>
        Some(if (intOrder.indexOf(x) >= intOrder.indexOf(y)) x else y)
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      case (x: DecimalType, y: DecimalType) if x.scale == y.scale =>
        Some(if (x.precision >= y.precision) x else y)
      case _ => None
    }
  }

  /** Cheap commit counters from the write's own file listing. */
  private[table] def writeStats(
      newFiles: Map[String, Seq[String]]): Map[String, Long] = Map(
    "files_added" -> newFiles.valuesIterator.map(_.size.toLong).sum,
    "units_written" -> newFiles.size.toLong)

  /** Commit versions present under a table's `_commits` dir (unsorted). */
  private[table] def listVersions(
      fs: FileSystem, commitsDir: Path): Seq[Long] =
    if (!fs.exists(commitsDir)) Nil
    else fs.listStatus(commitsDir).iterator.map(_.getPath.getName)
      .collect { case ManifestName(n) => n.toLong }.toSeq

  /** Parsed-manifest cache. Version files are WRITE-ONCE (exclusive slot
    * claim + rename in `tryPublish`; losers never overwrite), so a parsed
    * manifest is immutable for the life of its file — the cache key adds
    * (mtime, length) anyway so a table deleted and recreated at the same
    * path (tests, reruns) can never serve stale state. Matters because
    * `manifest` is read on EVERY table operation and parse cost is
    * O(files × stats): at a 10k-file table each JSON parse is tens of ms,
    * and a pipeline step does dozens of manifest reads. Bounded by entry
    * count with full clear on overflow (manifests of big tables are MBs;
    * an LRU would buy little over clearing a driver-side cache).
    */
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Manifest]()
  private val ManifestCacheMax = 64

  /** Test hook: drop the JVM-wide manifest cache so a spec can prove a
    * genuinely cold re-read (the (path, mtime, len) key makes same-file
    * re-reads warm by design).
    */
  private[graft] def clearManifestCacheForTest(): Unit =
    manifestCache.clear()

  private[table] def readManifestFile(fs: FileSystem, p: Path): Manifest = {
    val st = fs.getFileStatus(p)
    val key = (p.toString, st.getModificationTime, st.getLen)
    val hit = manifestCache.get(key)
    if (hit != null) return hit
    // bulk byte read, not Source (char-iterator slurping is ~10x slower
    // on multi-MB shard files)
    def slurp(f: Path): String = {
      val in = fs.open(f)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val m0 = parseManifest(slurp(p))
    // sharded root: resolve the externalized file-scale maps. Shards
    // parse in PARALLEL (they are independent documents), which is what
    // keeps a million-file cold open sub-second; the merged result is
    // what gets cached, so warm re-reads stay O(1) regardless of size.
    val m =
      if (m0.shardRefs.isEmpty) m0
      else {
        import scala.concurrent.{Await, Future, blocking}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        val dir = new Path(p.getParent, "shards")
        // blocking{} marks the FS reads for the global pool's
        // ManagedBlocker so concurrent manifest opens issued from pool
        // threads spawn compensation threads instead of starving each
        // other; the finite await turns a wedged filesystem into a
        // diagnosable error rather than a forever-hang
        val shards =
          try Await.result(
            Future.sequence(m0.shardRefs.toList.map(n => Future {
              blocking {
                val in = fs.open(new Path(dir, n))
                val bytes = try in.readAllBytes() finally in.close()
                parseShardBytes(bytes)
              }
            })),
            10.minutes)
          catch {
            case _: java.util.concurrent.TimeoutException =>
              throw new java.io.IOException(
                s"graft: timed out reading ${m0.shardRefs.size} manifest " +
                  s"shards under $dir after 10 minutes — filesystem wedged?")
          }
        mergeShards(m0, shards)
      }
    if (manifestCache.size >= ManifestCacheMax) manifestCache.clear()
    manifestCache.put(key, m)
    m
  }

  /** File-count threshold at which [[CowTable.writeManifest]]
    * externalizes the manifest's file-scale maps (`partitions`,
    * `logPartitions`, `fileStats`, `dvs`) into [[ManifestShardCount]]
    * content-addressed shard files under `_commits/shards/` — the
    * Iceberg manifest-list / Hudi metadata-table arrangement, sized for
    * the honest limit ManifestProbe documented (~72 MB / 0.5 s
    * single-thread parse at 200k files → a 100-TB table at 128 MB
    * files ≈ 800k files needs the split). Below the threshold the
    * monolithic single-file manifest is strictly better (one read, one
    * write, human-greppable). A `var` so probes and specs exercise the
    * sharded path at small sizes; every version self-describes, so
    * mixed timelines read fine.
    */
  @volatile var ManifestShardFileThreshold: Int = 50000
  val ManifestShardCount: Int = 32

  private[table] def shardSlot(file: String): Int =
    math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(file), ManifestShardCount)

  /** One shard's slice of the file-scale maps, with SORTED listings —
    * the canonical content whose Jackson rendering is what gets
    * content-addressed (sorted canonical form ⇒ logically-equal slots
    * render byte-identically ⇒ untouched slots reuse their file).
    */
  /** A published manifest's slot split, memoized on the handle that
    * published it: `names` are the root's shardRefs at `version`, the
    * equality witness that `slots` really is the published content.
    */
  private[table] final case class SplitCache(
      version: Long, names: Seq[String], slots: Array[ShardSlot])

  private[table] final case class ShardSlot(
      partitions: Map[String, Seq[String]],
      logPartitions: Map[String, Seq[String]],
      fileStats: Map[String, FileStat],
      dvs: Map[String, DvEntry]) {
    def isEmpty: Boolean = partitions.isEmpty && logPartitions.isEmpty &&
      fileStats.isEmpty && dvs.isEmpty
  }

  /** Split the file-scale maps into [[ManifestShardCount]] slots: every
    * entry lands in the slot its FILE hashes to. Hashing by file (not
    * partition) keeps shards balanced even for unpartitioned tables; a
    * partition's listing may span shards and re-merges on read.
    * Empty-listed partitions pin to slot 0 so their existence survives
    * the round trip.
    */
  private[table] def shardSplit(m: Manifest): Array[ShardSlot] = {
    val n = ManifestShardCount
    def split(ps: Map[String, Seq[String]])
        : Array[Map[String, Seq[String]]] = {
      val arr = Array.fill(n)(scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[String]])
      ps.foreach { case (pk, fls) =>
        if (fls.isEmpty) { arr(0).getOrElseUpdate(pk,
          scala.collection.mutable.ArrayBuffer.empty[String]); () }
        else fls.foreach { f =>
          arr(shardSlot(f)).getOrElseUpdate(pk,
            scala.collection.mutable.ArrayBuffer.empty[String]) += f
        }
      }
      arr.map(_.iterator.map { case (k, v) =>
        k -> (v.sortInPlace().toSeq: Seq[String])
      }.toMap)
    }
    val parts = split(m.partitions)
    val logs = split(m.logPartitions)
    val stats = Array.fill(n)(
      scala.collection.mutable.LinkedHashMap.empty[String, FileStat])
    m.fileStats.foreach { case (f, st) => stats(shardSlot(f)).update(f, st) }
    val dvs = Array.fill(n)(
      scala.collection.mutable.LinkedHashMap.empty[String, DvEntry])
    m.dvs.foreach { case (f, e) => dvs(shardSlot(f)).update(f, e) }
    Array.tabulate(n)(i =>
      ShardSlot(parts(i), logs(i), stats(i).toMap, dvs(i).toMap))
  }

  /** Render one shard slot as its canonical compact JSON document.
    * Jackson STREAMING, not the json4s AST the (small, human-debugged)
    * root uses: shard render/parse is the per-commit hot path at
    * 100-TB file counts, and streaming is ~10× faster with a fraction
    * of the allocation.
    */
  private[table] def renderShardDoc(s: ShardSlot): String = {
    val sw = new java.io.StringWriter(1 << 16)
    val g = new com.fasterxml.jackson.core.JsonFactory().createGenerator(sw)
    def listingField(name: String, ps: Map[String, Seq[String]]): Unit = {
      g.writeObjectFieldStart(name)
      ps.toSeq.sortBy(_._1).foreach { case (k, fls) =>
        g.writeArrayFieldStart(k)
        fls.foreach(g.writeString)
        g.writeEndArray()
      }
      g.writeEndObject()
    }
    g.writeStartObject()
    listingField("partitions", s.partitions)
    listingField("logPartitions", s.logPartitions)
    g.writeObjectFieldStart("fileStats")
    s.fileStats.toSeq.sortBy(_._1).foreach { case (f, st) =>
      g.writeObjectFieldStart(f)
      g.writeStringField("keyMin", st.keyMin)
      g.writeStringField("keyMax", st.keyMax)
      g.writeStringField("bloomRef", st.bloomRef)
      g.writeNumberField("rows", st.rows)
      g.writeNumberField("bytes", st.bytes)
      g.writeObjectFieldStart("colStats")
      st.colStats.toSeq.sortBy(_._1).foreach { case (c, mm) =>
        g.writeArrayFieldStart(c)
        mm.foreach(g.writeString)
        g.writeEndArray()
      }
      g.writeEndObject()
      if (st.colBloomRefs.nonEmpty) {
        g.writeObjectFieldStart("colBlooms")
        st.colBloomRefs.toSeq.sortBy(_._1).foreach { case (c, r) =>
          g.writeStringField(c, r)
        }
        g.writeEndObject()
      }
      g.writeEndObject()
    }
    g.writeEndObject()
    if (s.dvs.nonEmpty) {
      g.writeObjectFieldStart("dvs")
      s.dvs.toSeq.sortBy(_._1).foreach { case (f, e) =>
        g.writeObjectFieldStart(f)
        g.writeArrayFieldStart("files")
        e.files.foreach(g.writeString)
        g.writeEndArray()
        g.writeNumberField("rows", e.rows)
        g.writeEndObject()
      }
      g.writeEndObject()
    }
    g.writeEndObject()
    g.close()
    sw.toString
  }

  /** The non-empty shard documents of a manifest, `(slot, canonical
    * text)` — see [[shardSplit]]/[[renderShardDoc]].
    */
  private[table] def shardManifest(m: Manifest): Seq[(Int, String)] =
    shardSplit(m).zipWithIndex.toSeq.collect {
      case (s, i) if !s.isEmpty => i -> renderShardDoc(s)
    }

  /** Streaming parse of one [[renderShardDoc]] document. */
  private[table] def parseShard(txt: String): (Map[String, Seq[String]],
      Map[String, Seq[String]], Map[String, FileStat],
      Map[String, DvEntry]) =
    parseShard(
      new com.fasterxml.jackson.core.JsonFactory().createParser(txt))

  /** Byte-level variant: skips materializing a multi-MB String per
    * shard (Jackson decodes UTF-8 inline) — measurably faster on the
    * cold-open path.
    */
  private[table] def parseShardBytes(bytes: Array[Byte])
      : (Map[String, Seq[String]], Map[String, Seq[String]],
        Map[String, FileStat], Map[String, DvEntry]) =
    parseShard(
      new com.fasterxml.jackson.core.JsonFactory().createParser(bytes))

  private def parseShard(p: com.fasterxml.jackson.core.JsonParser)
      : (Map[String, Seq[String]], Map[String, Seq[String]],
        Map[String, FileStat], Map[String, DvEntry]) = {
    import com.fasterxml.jackson.core.JsonToken._
    def expect(t: com.fasterxml.jackson.core.JsonToken): Unit = {
      val got = p.nextToken()
      require(got == t, s"shard parse: expected $t, got $got")
    }
    def readStrings(): Seq[String] = {
      // caller is ON the START_ARRAY token
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      while (p.nextToken() != END_ARRAY) b += p.getText
      b.toSeq
    }
    def readListing(): Map[String, Seq[String]] = {
      // caller is ON the START_OBJECT token
      val out = scala.collection.mutable.LinkedHashMap
        .empty[String, Seq[String]]
      while (p.nextToken() != END_OBJECT) {
        val k = p.currentName()
        require(p.nextToken() == START_ARRAY, s"listing[$k]: not an array")
        out.update(k, readStrings())
      }
      ListMap(out.toSeq: _*)
    }
    var parts = Map.empty[String, Seq[String]]
    var logs = Map.empty[String, Seq[String]]
    val stats = scala.collection.mutable.LinkedHashMap.empty[String, FileStat]
    val dvs = scala.collection.mutable.LinkedHashMap.empty[String, DvEntry]
    expect(START_OBJECT)
    while (p.nextToken() != END_OBJECT) {
      p.currentName() match {
        case "partitions" =>
          require(p.nextToken() == START_OBJECT, "partitions: not object")
          parts = readListing()
        case "logPartitions" =>
          require(p.nextToken() == START_OBJECT, "logPartitions: not object")
          logs = readListing()
        case "fileStats" =>
          require(p.nextToken() == START_OBJECT, "fileStats: not object")
          while (p.nextToken() != END_OBJECT) {
            val f = p.currentName()
            require(p.nextToken() == START_OBJECT, s"fileStats[$f]")
            var keyMin, keyMax, bloomRef = ""
            var rows, bytes = -1L
            var colStats = Map.empty[String, Seq[String]]
            var colBlooms = Map.empty[String, String]
            while (p.nextToken() != END_OBJECT) {
              p.currentName() match {
                case "keyMin" => p.nextToken(); keyMin = p.getText
                case "keyMax" => p.nextToken(); keyMax = p.getText
                case "bloomRef" => p.nextToken(); bloomRef = p.getText
                case "rows" => p.nextToken(); rows = p.getLongValue
                case "bytes" => p.nextToken(); bytes = p.getLongValue
                case "colStats" =>
                  require(p.nextToken() == START_OBJECT, "colStats")
                  colStats = readListing()
                case "colBlooms" =>
                  require(p.nextToken() == START_OBJECT, "colBlooms")
                  val b = scala.collection.mutable.LinkedHashMap
                    .empty[String, String]
                  while (p.nextToken() != END_OBJECT) {
                    val c = p.currentName()
                    p.nextToken()
                    b.update(c, p.getText)
                  }
                  colBlooms = b.toMap
                case other =>
                  throw new IllegalArgumentException(
                    s"shard fileStats[$f]: unknown field $other")
              }
            }
            stats.update(f, FileStat(keyMin, keyMax, bloomRef, colStats,
              rows, bytes, colBlooms))
          }
        case "dvs" =>
          require(p.nextToken() == START_OBJECT, "dvs: not object")
          while (p.nextToken() != END_OBJECT) {
            val f = p.currentName()
            require(p.nextToken() == START_OBJECT, s"dvs[$f]")
            var fls = Seq.empty[String]
            var rows = 0L
            while (p.nextToken() != END_OBJECT) {
              p.currentName() match {
                case "files" =>
                  require(p.nextToken() == START_ARRAY, "dv files")
                  fls = readStrings()
                case "rows" => p.nextToken(); rows = p.getLongValue
                case other => throw new IllegalArgumentException(
                  s"shard dvs[$f]: unknown field $other")
              }
            }
            dvs.update(f, DvEntry(fls, rows))
          }
        case other => throw new IllegalArgumentException(
          s"shard: unknown field $other")
      }
    }
    p.close()
    (parts, logs, stats.toMap, ListMap(dvs.toSeq: _*))
  }

  /** Merge parsed shards back into the root manifest. Listings combine
    * per partition key and SORT (file identity is path-borne — bucket
    * ids ride `__bucket=N` segments — so list order carries no
    * semantics; sorting makes the merge deterministic regardless of
    * shard order).
    */
  private[table] def mergeShards(root: Manifest,
      shards: Seq[(Map[String, Seq[String]], Map[String, Seq[String]],
        Map[String, FileStat], Map[String, DvEntry])]): Manifest = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def mergeListing(ls: Seq[Map[String, Seq[String]]])
        : Map[String, Seq[String]] = {
      val out = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[String]]
      ls.foreach(_.foreach { case (k, v) =>
        out.getOrElseUpdate(k,
          scala.collection.mutable.ArrayBuffer.empty[String]) ++= v
      })
      ListMap(out.toSeq.map { case (k, v) =>
        k -> (v.sortInPlace().toSeq: Seq[String])
      }.sortBy(_._1): _*)
    }
    // the shard maps are disjoint (each file's entries live in ONE
    // slot), so the stats merge is a pure HAMT union of the maps the
    // parallel parse already built — no per-entry rebuild; and the
    // independent merges overlap on the pool
    val fParts = Future(mergeListing(shards.map(_._1)))
    val fLogs = Future(mergeListing(shards.map(_._2)))
    val fStats = Future(shards.map(_._3)
      .foldLeft(Map.empty[String, FileStat])(_ ++ _))
    root.copy(
      partitions = Await.result(fParts, Duration.Inf),
      logPartitions = Await.result(fLogs, Duration.Inf),
      fileStats = Await.result(fStats, Duration.Inf),
      dvs = ListMap(shards.iterator.flatMap(_._4).toSeq.sortBy(_._1): _*))
  }

  /** Read a table's manifest given only its path — the entry point for
    * integrations (e.g. [[graft.sources.GraftDataSource]]) that discover
    * key/partition metadata FROM the manifest instead of requiring it.
    */
  /** Whether a committed graft table exists at `basePath`. */
  def existsAt(spark: SparkSession, basePath: String): Boolean = {
    val commits = new Path(basePath, "_commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(commits) && listVersions(fs, commits).nonEmpty
  }

  /** Open an EXISTING table with the class its manifest records — a
    * compacted MOR table looks exactly like COW on disk, so the recorded
    * `storageType` is what keeps its write path log-append.
    */
  def open(spark: SparkSession, basePath: String): CowTable = {
    val m = openManifest(spark, basePath)
    openWithProps(spark, basePath, m, m.props.getOrElse(inferProps(m)))
  }

  /** [[open]]'s constructor dispatch with EXPLICIT props — the piece
    * [[CowTable.alterProps]] reuses to build the post-DDL handle.
    */
  private[table] def openWithProps(spark: SparkSession, basePath: String,
      m: Manifest, p: TableProps): CowTable = {
    if (m.storageType == "mor")
      new MorTable(spark, basePath, m.keyCols, m.partitionCols,
        m.precombineField, keepCommits = p.keepCommits,
        numBuckets = p.numBuckets, clusterCols = p.clusterCols,
        compactEvery = p.compactEvery,
        fileIndexEntries = p.fileIndexEntries, statsCols = p.statsCols,
        bloomCols = p.bloomCols, checkConstraints = p.checkConstraints)
    else
      new CowTable(spark, basePath, m.keyCols, m.partitionCols,
        m.precombineField, keepCommits = p.keepCommits,
        numBuckets = p.numBuckets, clusterCols = p.clusterCols,
        trackCommitVersions = p.trackCommitVersions,
        fileIndexEntries = p.fileIndexEntries, statsCols = p.statsCols,
        bloomCols = p.bloomCols, checkConstraints = p.checkConstraints,
        deleteVectors = p.deleteVectors)
  }

  /** Best-effort config reconstruction for PRE-round-7 manifests (no
    * recorded props): commit-version stamping shows in the recorded schema
    * (stamped tables always carry [[CommitVerCol]]); a maintained file
    * index shows as non-empty fileStats (sizing floor falls back to Hudi's
    * `hoodie.index.bloom.num_entries` default); statsCols are whatever
    * columns the stats actually cover; bucket routing shows in the
    * partition-key strings (`__bucket=N` path segments — observed max + 1,
    * exact for any table whose bucket space is populated). clusterCols are
    * unrecoverable (sort locality degrades gracefully; recluster restores).
    */
  private[graft] def inferProps(m: Manifest): TableProps = {
    val bucketVals = m.partitions.keysIterator
      .flatMap(_.split('/').find(_.startsWith(BucketCol + "=")))
      .map(_.substring(BucketCol.length + 1).toInt).toSeq
    TableProps(
      numBuckets = if (bucketVals.isEmpty) 0 else bucketVals.max + 1,
      trackCommitVersions = m.schema.fieldNames.contains(CommitVerCol),
      fileIndexEntries = if (m.fileStats.nonEmpty) 60000 else 0,
      statsCols = m.fileStats.valuesIterator
        .flatMap(_.colStats.keysIterator).toSeq.distinct.sorted)
  }

  def openManifest(
      spark: SparkSession,
      basePath: String,
      version: Option[Long] = None): Manifest = {
    val fs = new Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = new Path(basePath, "_commits")
    require(fs.exists(commits), s"not a graft table (no _commits): $basePath")
    val v = version.getOrElse {
      val vs = listVersions(fs, commits)
      require(vs.nonEmpty, s"no committed versions at $basePath")
      vs.max
    }
    val p = new Path(commits, s"v$v.json")
    require(fs.exists(p), s"version $v is not retained at $basePath")
    readManifestFile(fs, p)
  }
  val DirColPrefix = "__p_"
  val BucketCol = "__bucket"
  /** Row-level commit stamp column (see `trackCommitVersions`). */
  val CommitVerCol = "_graft_commit_version"
  /** Deletion-vector sidecar columns: the deleted row's scan identity —
    * the base file's path in CANONICAL form (see [[dvCanonical]]:
    * basePath-relative for files under the table root, scheme-stripped
    * absolute otherwise) and its `_metadata.row_index` within that file.
    */
  val DvFileCol = "_graft_dv_file"
  val DvPosCol = "_graft_dv_pos"
  /** A deletion-vector sidecar row: the dead row's file and position. */
  private val DvSidecarSchema = StructType(Seq(
    StructField(DvFileCol, StringType), StructField(DvPosCol, LongType)))

  private val SchemePrefixRe = "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/+"

  /** Scheme-stripped plain-path form of a path string: `file:///a/b`,
    * `file:/a/b` and `/a/b` all canonicalize to `/a/b`.
    */
  private[graft] def stripScheme(s: String): String =
    SchemePrefixRe.r.replaceFirstIn(s, "/")

  /** DV positions join on SCHEME-STRIPPED ABSOLUTE path identity; this
    * is the scan-side key for a `_metadata.file_path`.
    */
  private[graft] def dvScanId(c: Column): Column =
    regexp_replace(c, SchemePrefixRe, "/")

  /** The store-side form for NEW sidecar rows: basePath-relative when
    * the (scheme-stripped absolute) scan path is under the table root,
    * the absolute path otherwise. Relative storage is what makes a DV'd
    * table relocatable — recording raw absolute scan paths made DV'd
    * tables the one location-bound manifest reference (the round-7
    * advice flag: after a directory move the read anti-join matched
    * nothing and deleted rows silently reappeared while fastCount still
    * subtracted them).
    */
  private[graft] def dvStoreForm(
      spark: SparkSession, basePath: String)(c: Column): Column = {
    val p = new Path(basePath)
    val fsys = p.getFileSystem(spark.sessionState.newHadoopConf())
    val absBase = stripScheme(fsys.makeQualified(p).toString)
    when(c.startsWith(absBase + "/"),
      c.substr(lit(absBase.length + 2), lit(Int.MaxValue)))
      .otherwise(c)
  }

  /** Read DV sidecars and resolve each stored path to the shared
    * ABSOLUTE join space ([[dvScanId]]): a RELATIVE stored value
    * resolves against the sidecar file's OWN table root — derived from
    * its fixed `<root>/files/dv{v}-uuid/part` layout via the sidecar's
    * own `_metadata.file_path` — so the identity survives BOTH table
    * relocation (the sidecar moves with the table, so its root tracks
    * the new location) and clone-by-reference (the clone's manifest
    * points at the source's sidecar, whose root stays the source —
    * exactly where the shared data files live). Legacy absolute values
    * pass through scheme-stripped, matching while the table has not
    * moved (the pre-change behavior).
    */
  private[graft] def readDvPositions(
      spark: SparkSession, basePath: String, refs: Seq[String])
      : DataFrame = {
    val raw = ManifestListing.read(spark, DvSidecarSchema,
        refs.map(f => resolveFile(basePath, f)))
      .select(col(DvFileCol), col(DvPosCol),
        dvScanId(col("_metadata.file_path")).as("__graft_dv_sc"))
    val sidecarRoot = regexp_replace(col("__graft_dv_sc"),
      "/files/dv[0-9]+-[^/]*/[^/]*$", "")
    val stored = col(DvFileCol)
    val isAbs = stored.startsWith("/") ||
      stored.rlike("^[a-zA-Z][a-zA-Z0-9+.\\-]*:/")
    raw.select(
      when(isAbs, regexp_replace(stored, SchemePrefixRe, "/"))
        .otherwise(concat(sidecarRoot, lit("/"), stored)).as(DvFileCol),
      col(DvPosCol))
  }

  /** Whether a DV position set is safe to force-broadcast: bounded by
    * ESTIMATED BYTES (rows × per-row path+position payload), not raw row
    * count — a row-count bound on long path strings could force hundreds
    * of MB through the broadcast hint, bypassing
    * `spark.sql.autoBroadcastJoinThreshold`.
    */
  private[graft] def dvBroadcastable(
      m: Manifest, dvd: Seq[String]): Boolean = {
    val bytes = dvd.iterator.map { f =>
      m.dvs.get(f).map(e => e.rows * (f.length + 24L)).getOrElse(0L)
    }.sum
    bytes <= 64L * 1024 * 1024
  }
  /** Quarantine-row label: the first CHECK constraint the row violated
    * (see [[CowTable.upsertQuarantine]]).
    */
  val ViolationCol = "_graft_violation"
  /** Manifest-metrics key holding the streaming sink's last applied batch
    * id ([[graft.streaming.GraftSink]]); carried forward by every commit
    * so replay protection never ages out of the retained timeline.
    */
  val StreamBatchIdKey = "stream_batch_id"
  /** Metrics keys with this prefix are MONOTONE HIGH-WATER MARKS: every
    * commit folds the previous head's value forward (max), so a mark is
    * always readable from the LATEST manifest no matter how many
    * unrelated commits (services, other writers) land — the durable
    * ledger consumers like [[graft.cdc.MaintainedJoin]] need.
    */
  val MonotoneMarkPrefix = "mark_"
  /** Change-feed row type column: "U" (upsert image) | "D" (delete). */
  val ChangeTypeCol = "_graft_change_type"

  /** Row filter for incremental reads over files ADDED in (since, asOf]:
    * `stamp > since` separates changed rows from carried-over unchanged
    * copies — EXCEPT that an OCC-rebased commit's rows keep the TENTATIVE
    * stamp of its original attempt (base+1), which can sit at or below
    * `since` even though the commit published later. The commit data
    * directory name (`c{stamp}-token`) records exactly that tentative
    * stamp, so the rescue disjunct `stamp == dir-stamp(file)` re-admits a
    * rebased commit's own changes (its carried rows have strictly older
    * stamps, and the file being in the added-diff proves the commit is
    * inside the window). Must be applied AT SCAN (input_file_name is
    * per-task source state; it goes blank after a shuffle).
    */
  private[table] def changedRowPredicate(since: Long): Column =
    col(CommitVerCol) > since ||
      // greedy prefix anchors to the LAST files/<dir> segment, so a base
      // path that itself happens to contain "files/c<digits>-" can't
      // shadow the actual commit dir
      col(CommitVerCol) === regexp_extract(
        input_file_name(), ".*/files/[ct](\\d+)[-/]", 1).cast("long")
  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"
  /** False-positive probability for per-file key blooms (a false positive
    * only costs an unnecessary file read, never correctness).
    */
  val FileIndexFpp = 0.001

  /** Manifest listings are basePath-relative — except in shallow clones
    * ([[CowTable.cloneTo]]), whose manifests reference the SOURCE table's
    * files by absolute URI. Every read-side path join resolves through
    * here; write paths always produce relative entries. A listing entry
    * is absolute iff it starts with `/` or carries a URI scheme (Hadoop
    * renders local URIs as `file:/tmp/...` — single slash, so a bare
    * `://` check misses them).
    */
  def resolveFile(basePath: String, f: String): String =
    if (isAbsoluteRef(f)) f else s"$basePath/$f"

  private[graft] def isAbsoluteRef(f: String): Boolean =
    f.startsWith("/") || {
      val c = f.indexOf(':')
      c > 0 && { val s = f.indexOf('/'); s < 0 || c < s }
    }
  /** Key-string encoding written by NEW tables (see keyStringExpr doc).
    * 1 = plain cast(string); 2 = fixed-width offset-binary for integral/
    * timestamp/date; 3 = v2 + IEEE-754 sign-flip doubles and unscaled
    * fixed-scale decimals (float/double/decimal range skipping).
    */
  val CurrentKeyEncoding = 3L

  /** Contended-commit rebase attempts before giving up (each attempt is
    * an O(manifest) merge, never a data rewrite).
    */
  val MaxCommitRetries = 5

  // ------------------------------------------------ parquet field ids

  /** Spark's parquet field-id metadata key (ParquetUtils.FIELD_ID_
    * METADATA_KEY): a schema field carrying it is matched against file
    * chunks BY ID rather than by name when `spark.sql.parquet.fieldId
    * .read.enabled` is on. Tables created since round 10 stamp stable
    * ids into every recorded schema field and every written file, which
    * is what makes `ALTER TABLE RENAME COLUMN` a pure metadata commit
    * (the Delta column-mapping mode "id" arrangement): the name changes
    * in the manifest schema, the id does not, and files written under
    * the old name keep resolving. Legacy tables (files without ids)
    * never get id metadata — an id-carrying request over an id-less
    * file is a loud read error by Spark's design, so the rename DDL
    * refuses on them instead.
    */
  val FieldIdKey = "parquet.field.id"

  /** Next ids continue from the max ever assigned; fields keep theirs. */
  private[table] def withFieldIds(schema: StructType): StructType = {
    if (schema.fields.isEmpty) return schema
    var next = schema.fields.iterator.map(fieldId(_).getOrElse(0L)).max + 1
    if (next < 1) next = 1
    StructType(schema.fields.map { f =>
      if (fieldId(f).nonEmpty) f
      else {
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(FieldIdKey, next).build()
        next += 1
        f.copy(metadata = md)
      }
    })
  }

  private[table] def fieldId(
      f: org.apache.spark.sql.types.StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  private[table] def hasFieldIds(schema: StructType): Boolean =
    schema.fields.exists(fieldId(_).nonEmpty)

  /** Re-attach field-id metadata (by case-insensitive name) from the
    * id-authoritative schema — see writeCommit's `idSchema` doc. Columns
    * the schema doesn't know (synthetic sort keys, condition columns)
    * pass through; a no-op select is skipped entirely.
    */
  private[table] def reapplyFieldIds(
      df: org.apache.spark.sql.DataFrame,
      idSchema: StructType): org.apache.spark.sql.DataFrame = {
    if (idSchema == null || !hasFieldIds(idSchema)) return df
    val byName =
      idSchema.fields.iterator.map(f => f.name.toLowerCase -> f).toMap
    val needs = df.schema.fields.exists { f =>
      byName.get(f.name.toLowerCase)
        .exists(t => fieldId(t) != fieldId(f))
    }
    if (!needs) return df
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      byName.get(f.name.toLowerCase) match {
        case Some(t) if fieldId(t).nonEmpty =>
          col(f.name).as(f.name, t.metadata)
        case _ => col(f.name)
      }
    }: _*)
  }

  /** Recursive nullable normalization (Spark's StructType.asNullable is
    * private): stored schemas never carry NOT NULL — nested or top-level
    * — so later batches with nullable shapes always cast (metadata,
    * including field ids, is preserved).
    */
  private[table] def nullableSchema(s: StructType): StructType =
    allNullable(s).asInstanceOf[StructType]

  private def allNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = allNullable(f.dataType), nullable = true)))
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(
        allNullable(et), containsNull = true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(
        allNullable(k), allNullable(v), valueContainsNull = true)
    case other => other
  }

  private[table] def stripFieldIds(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (fieldId(f).isEmpty) f
      else {
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(FieldIdKey).build()
        f.copy(metadata = md)
      }
    })

  /** Id-based matching is opt-in session-wide; graft sessions need it on
    * (no-op for schemas without id metadata, so enabling it globally
    * changes nothing for other parquet reads). Writers populate ids by
    * default, but a session that disabled writing would produce id-less
    * files under an id-carrying schema — unreadable — so both confs are
    * pinned at every graft entry point.
    */
  def ensureFieldIdConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
  }

  /** Version prefix of a commit data (`c{v}[-token]`) or tombstone
    * (`t{v}-token`) directory name; None for non-commit directories.
    */
  private[table] def dirVersion(name: String): Option[Long] = {
    // c{v}-… data commits, t{v}-… tombstones, dv{v}-… deletion vectors
    val pfx =
      if (name.startsWith("dv")) 2
      else if (name.startsWith("c") || name.startsWith("t")) 1
      else return None
    val digits = name.drop(pfx).takeWhile(_.isDigit)
    val rest = name.drop(pfx + digits.length)
    if (digits.isEmpty || !(rest.isEmpty || rest.startsWith("-"))) None
    else Some(digits.toLong)
  }

  /** Column-expression form of the versioned order-preserving encoding
    * (shared by the instance index pass and path-level consumers).
    */
  private[table] def encodeColExpr(c: String,
      dt: org.apache.spark.sql.types.DataType,
      enc: Long): org.apache.spark.sql.Column =
    encodeExpr(col(c), dt, enc)

  /** [[encodeColExpr]] over an arbitrary input column — lets probe values
    * encode as literal expressions (driver-side foldable) with the exact
    * same byte-for-byte output as the stored stats.
    */
  private[table] def encodeExpr(in: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType,
      enc: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.GraftBridge
    val asLong: Option[org.apache.spark.sql.Column] = dt match {
      case ByteType | ShortType | IntegerType | LongType if enc >= 2 =>
        Some(in.cast("long"))
      case TimestampType | TimestampNTZType if enc >= 2 =>
        Some(unix_micros(in))
      case DateType if enc >= 2 => Some(in.cast("int").cast("long"))
      // v3: IEEE-754 sign-flip bits — float/double keys and stats become
      // order-preserving (see graft.functions.OrderedDoubleBits)
      case FloatType | DoubleType if enc >= 3 =>
        Some(GraftBridge.column(graft.functions.OrderedDoubleBits(
          GraftBridge.expression(in.cast("double")))))
      // v3: fixed-scale decimals up to 18 digits ride their exact unscaled
      // long (decimal(12,2) money columns prune like integers)
      case d: DecimalType if enc >= 3 && d.precision <= 18 =>
        Some(GraftBridge.column(
          org.apache.spark.sql.catalyst.expressions.UnscaledValue(
            GraftBridge.expression(in))))
      case _ => None
    }
    asLong match {
      case Some(l) =>
        // order-preserving fixed width: long + 2^63 fits decimal(20,0),
        // zero-padded to 20 digits; null keys stay null (concat_ws skips)
        lpad((l.cast(DecimalType(21, 0)) +
            lit(new java.math.BigDecimal("9223372036854775808")))
          .cast(DecimalType(20, 0)).cast("string"), 20, "0")
      case None => in.cast("string")
    }
  }

  /** Encode probe `values` exactly as stored stats for `column`, WITHOUT
    * launching a Spark job: each chunk becomes one projection of literal
    * encode expressions over a one-row LocalRelation, which the
    * optimizer's ConvertToLocalRelation rule evaluates driver-side — so
    * runtime join pruning and IN-list skipping cost microseconds, not a
    * task-scheduling round trip. Throws if a value does not cast to the
    * column type (callers treat probe values as trusted query constants).
    */
  private[table] def encodeValues(spark: SparkSession, column: String,
      dt: org.apache.spark.sql.types.DataType, enc: Long,
      values: Seq[Any]): Array[String] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    // fast path: values as ROWS of a LocalRelation, one encode expression
    // — the plan is constant-size regardless of |values|, and the
    // optimizer's ConvertToLocalRelation rule evaluates the projection
    // driver-side (no job, no codegen). Value types that don't match the
    // column's external type (e.g. string-typed range-bound options)
    // throw in row conversion and take the literal-cast path below.
    try {
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](
        values.size)
      values.foreach(v => rows.add(org.apache.spark.sql.Row(v)))
      spark.createDataFrame(rows, StructType(Seq(StructField(column, dt))))
        .select(encodeColExpr(column, dt, enc))
        .collect().map(_.getString(0))
    } catch { case scala.util.control.NonFatal(_) =>
      val one = spark.createDataFrame(
        java.util.Collections.singletonList(org.apache.spark.sql.Row.empty),
        StructType(Nil))
      // 512-wide chunks keep each projection's schema bounded
      values.grouped(512).flatMap { chunk =>
        val row = one.select(chunk.zipWithIndex.map { case (v, i) =>
          encodeExpr(lit(v).cast(dt), dt, enc).as(s"_e$i")
        }.toIndexedSeq: _*).head()
        chunk.indices.map(row.getString)
      }.toArray
    }
  }

  /** Whether the stored stat strings for a column of type `dt` sort in the
    * column's NUMERIC/temporal order under plain lexicographic comparison.
    * Stats are lex min/max of [[encodeColExpr]] output, so range pruning is
    * only sound when that encoding is order-preserving: integral/timestamp/
    * date under encoding v2+ (fixed-width offset-binary), and strings (the
    * encoding is the identity, so lex order IS the column's order).
    * Floating point and decimal fall back to plain `cast(string)` where lex
    * order diverges from numeric order ("9.5" > "10.2") — pruning on those
    * could wrongly skip files, so they are never pruned. Booleans are safe
    * ("false" < "true") but pruning them is pointless. Key-BLOOM range
    * checks are unaffected: they only need a consistent total order, not
    * the column's order (see [[FileStat]] doc).
    */
  private[table] def orderPreservingStats(
      dt: org.apache.spark.sql.types.DataType, enc: Long): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           TimestampType | TimestampNTZType | DateType => enc >= 2
      // v3 added sign-flip float bits and unscaled-decimal encodings
      case FloatType | DoubleType => enc >= 3
      case d: DecimalType => enc >= 3 && d.precision <= 18
      case StringType | BooleanType => true
      case _ => false
    }
  }

  /** Data-skipping core: the subset of `m.baseFiles` whose recorded
    * [min, max] for `column` intersects [lo, hi] (either bound optional =
    * unbounded). Bounds are cast to the column's type, so string-typed
    * option values ("2024-01-02", "42") encode exactly like stored stats.
    * Files without a recorded range are always kept, and columns whose
    * stored encoding is not order-preserving (float/double/decimal, or any
    * numeric on legacy keyEncoding=1 tables) prune nothing — the result is
    * ALWAYS a superset of every row matching the range.
    */
  def filesForRange(spark: SparkSession, m: Manifest, column: String,
      lo: Option[Any], hi: Option[Any]): Seq[String] = {
    val dt = m.schema(column).dataType
    // Lex comparison of stats is meaningless for this type under the
    // table's encoding: keep every file (superset contract over speed).
    if (!orderPreservingStats(dt, m.keyEncoding)) return m.baseFiles
    def enc(v: Any): String = {
      val r = encodeValues(spark, column, dt, m.keyEncoding, Seq(v)).head
      require(r != null, s"range bound $v does not cast to $dt")
      r
    }
    val eLo = lo.map(enc); val eHi = hi.map(enc)
    m.baseFiles.filter { f =>
      m.fileStats.get(f).flatMap(_.colStats.get(column)) match {
        case Some(Seq(mn, mx)) =>
          eHi.forall(mn <= _) && eLo.forall(_ <= mx)
        case _ => true // no stats -> cannot prune
      }
    }
  }

  /** Value-set data-skipping core: the subset of `m.baseFiles` whose
    * recorded [min, max] for `column` contains at least one of `values`.
    * Same superset contract and order-preserving-encoding guard as
    * [[filesForRange]]. One Spark job encodes the whole set; a null probe
    * value disables pruning entirely (stats are computed over non-null
    * values, so a file of all-null rows may carry a range that excludes
    * it — null-safe probes must see every file).
    */
  def filesForValues(spark: SparkSession, m: Manifest, column: String,
      values: Seq[Any], basePath: String = null): Seq[String] = {
    if (values.isEmpty) return Nil
    if (values.exists(_ == null)) return m.baseFiles
    val dt = m.schema(column).dataType
    if (!orderPreservingStats(dt, m.keyEncoding)) return m.baseFiles
    val encoded: Array[String] =
      encodeValues(spark, column, dt, m.keyEncoding, values).sorted
    // first encoded value >= mn (binary search start for the range scan)
    def lowerBound(mn: String): Int = {
      var lo = 0; var hi = encoded.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (encoded(mid) < mn) lo = mid + 1 else hi = mid
      }
      lo
    }
    // bloom phase (callers that pass basePath): probe the column's
    // sidecar bloom with the in-range values only — loaded lazily, only
    // for range survivors; no false negatives, so still a superset
    lazy val bloomFs = new Path(basePath).getFileSystem(
      spark.sessionState.newHadoopConf())
    def bloomHit(st: FileStat, from: Int, mx: String): Boolean =
      (basePath == null) || (st.colBloomRefs.get(column) match {
        case None => true
        case Some(ref) =>
          val bloom = loadBloom(bloomFs, new Path(basePath, ref))
          var i = from; var hit = false
          while (!hit && i < encoded.length && encoded(i) <= mx) {
            if (bloom.mightContainString(encoded(i))) hit = true
            i += 1
          }
          hit
      })
    m.baseFiles.filter { f =>
      m.fileStats.get(f).flatMap(_.colStats.get(column)) match {
        case Some(Seq(mn, mx)) =>
          val from = lowerBound(mn)
          from < encoded.length && encoded(from) <= mx &&
            bloomHit(m.fileStats(f), from, mx)
        case _ => true // no stats -> cannot prune
      }
    }
  }

  /** RECORD-KEY-index variant of [[filesForValues]] for single-column-key
    * tables: the subset of `m.baseFiles` whose key index might contain at
    * least one of `values` — range check against the per-file
    * [keyMin, keyMax], then a sidecar-bloom probe loaded LAZILY for range
    * survivors only (bytes ∝ files we might read anyway). Runtime join
    * pruning uses this so key-equality joins skip files without the user
    * declaring the key in `statsCols`. Superset contract: composite keys,
    * null probe values, and unindexed files prune nothing.
    */
  def filesForKeyValues(spark: SparkSession, basePath: String, m: Manifest,
      values: Seq[Any]): Seq[String] = {
    if (m.keyCols.size != 1 || values.isEmpty) return m.baseFiles
    if (values.exists(_ == null)) return m.baseFiles
    val c = m.keyCols.head
    val dt = m.schema(c).dataType
    val encoded: Array[String] =
      encodeValues(spark, c, dt, m.keyEncoding, values).sorted
    val fs = new Path(basePath).getFileSystem(
      spark.sessionState.newHadoopConf())
    m.baseFiles.filter { f =>
      m.fileStats.get(f) match {
        case Some(st) if st.keyMin != null && st.keyMax != null =>
          var lo = 0; var hi = encoded.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (encoded(mid) < st.keyMin) lo = mid + 1 else hi = mid
          }
          lo < encoded.length && encoded(lo) <= st.keyMax && {
            val bloom = loadBloom(fs, new Path(basePath, st.bloomRef))
            var i = lo; var hit = false
            while (!hit && i < encoded.length && encoded(i) <= st.keyMax) {
              if (bloom.mightContainString(encoded(i))) hit = true
              i += 1
            }
            hit
          }
        case _ => true // no usable index entry -> cannot prune
      }
    }
  }

  /** Diagnostic counter: sidecar blooms loaded since JVM start. Probes use
    * the delta across a lookup to show index fan-out (files CONSULTED per
    * lookup — the cost bucketing bounds at random keys).
    */
  val bloomLoads = new java.util.concurrent.atomic.AtomicLong

  /** Read one sidecar bloom (see [[FileStat.bloomRef]]). */
  /** Bloom sidecars are WRITE-ONCE (a rewritten file gets a new path
    * under a fresh commit dir), so a path-keyed LRU is always coherent —
    * no invalidation, ever. Bounded by entry count (~550 KB per
    * 312k-entry bloom at the 1e-3 fpp → ≲70 MB at the cap); repeated
    * probes against the same files (maintained-view refreshes, runtime
    * join pruning, point-lookup loops) pay the sidecar read once.
    * `bloomLoads` counts CONSULTATIONS (hit or miss) — the index-probe
    * metric specs and probes assert on — not IO.
    */
  private val BloomCacheCap = 128
  private val bloomCache = new java.util.LinkedHashMap[
      String, org.apache.spark.util.sketch.BloomFilter](
      BloomCacheCap, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        String, org.apache.spark.util.sketch.BloomFilter]): Boolean =
      size() > BloomCacheCap
  }

  private[table] def loadBloom(
      fs: FileSystem, p: Path): org.apache.spark.util.sketch.BloomFilter = {
    bloomLoads.incrementAndGet()
    val key = p.toString
    val cached = bloomCache.synchronized(Option(bloomCache.get(key)))
    cached.getOrElse {
      val in = fs.open(p)
      val b = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
      bloomCache.synchronized(bloomCache.put(key, b))
      b
    }
  }

  def dirCol(c: String): String = DirColPrefix + c

  /** Inverse of Hive/Spark's partition-path escaping (%XX sequences). */
  def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def listing(ps: Map[String, Seq[String]]): JObject =
    JObject(ps.toSeq.sortBy(_._1).map {
      case (k, fsq) => k -> JArray(fsq.toList.map(JString(_)))
    }.toList)

  private def fileStatsJson(stats: Map[String, FileStat]): JValue =
    JObject(stats.toSeq.sortBy(_._1).map {
      case (f, st) => f -> (JObject(List(
        "keyMin" -> JString(st.keyMin),
        "keyMax" -> JString(st.keyMax),
        "bloomRef" -> JString(st.bloomRef),
        "rows" -> JInt(st.rows),
        "bytes" -> JInt(st.bytes),
        "colStats" -> JObject(st.colStats.toSeq.sortBy(_._1).map {
          case (c, mm) =>
            c -> (JArray(mm.toList.map(JString(_))): JValue)
        }.toList),
        // json4s drops JNothing at render: bloom-less entries unchanged
        "colBlooms" -> (if (st.colBloomRefs.isEmpty) JNothing
          else JObject(st.colBloomRefs.toSeq.sortBy(_._1).map {
            case (c, ref) => c -> (JString(ref): JValue)
          }.toList)))): JValue)
    }.toList)

  private def dvsJson(dvs: Map[String, DvEntry]): JValue =
    if (dvs.isEmpty) JNothing
    else JObject(dvs.toSeq.sortBy(_._1).map { case (f, e) =>
      f -> (JObject(List(
        "files" -> JArray(e.files.toList.map(JString(_))),
        "rows" -> JInt(e.rows))): JValue)
    }.toList)

  private[table] def renderManifest(m: Manifest): String = {
    // pretty JSON is for humans debugging small tables; past a few
    // thousand file entries the indentation roughly doubles manifest
    // bytes paid on every commit write + (cold) read, so render compact
    val render: JValue => String =
      if (m.files.size > 2000) JsonMethods.compact(_)
      else JsonMethods.pretty(_)
    render(JsonMethods.render(JObject(List(
      "version" -> JInt(m.version),
      "schemaJson" -> JString(m.schemaJson),
      "keyCols" -> JArray(m.keyCols.toList.map(JString(_))),
      "partitionCols" -> JArray(m.partitionCols.toList.map(JString(_))),
      "precombineField" -> JString(m.precombineField),
      // sharded root: the four file-scale maps live in the referenced
      // content-addressed shard files instead of inline (see
      // [[shardManifest]]); every version self-describes, so a table can
      // cross the threshold in either direction at any commit
      "shards" -> (if (m.shardRefs.isEmpty) JNothing
        else JArray(m.shardRefs.toList.map(JString(_)))),
      "partitions" -> (if (m.shardRefs.nonEmpty) JNothing
        else listing(m.partitions)),
      // merge-on-read state (empty/zero on COW tables; parse defaults keep
      // old manifests readable)
      "logPartitions" -> (if (m.shardRefs.nonEmpty) JNothing
        else listing(m.logPartitions)),
      "deltaCommits" -> JInt(m.deltaCommits),
      "lastCompaction" -> JInt(m.lastCompaction),
      "fileStats" -> (if (m.shardRefs.nonEmpty) JNothing
        else fileStatsJson(m.fileStats)),
      "operation" -> JString(m.operation),
      "metrics" -> JObject(m.metrics.toSeq.sortBy(_._1).map {
        case (k, v) => k -> (JInt(v): JValue)
      }.toList),
      "storageType" -> JString(m.storageType),
      "keyEncoding" -> JInt(m.keyEncoding),
      // json4s drops JNothing pairs at render: pre-stamp copies stay as-is
      "commitTimeMs" -> (if (m.commitTimeMs > 0) JInt(m.commitTimeMs)
        else JNothing),
      "tombstones" -> listing(m.tombstones),
      // json4s drops JNothing pairs at render: pre-DV copies stay as-is
      "dvs" -> (if (m.shardRefs.nonEmpty) JNothing else dvsJson(m.dvs)),
      // json4s drops JNothing pairs at render: ordered copies stay as-is
      "unorderedFiles" -> (if (m.unorderedFiles.isEmpty) JNothing
        else JArray(m.unorderedFiles.toList.sorted.map(JString(_)))),
      // json4s drops JNothing pairs at render: un-analyzed copies as-is
      "tableColStats" -> (if (m.tableColStats.isEmpty) JNothing
        else JObject(m.tableColStats.toSeq.sortBy(_._1).map {
          case (c, st) => c -> (JObject(List(
            "ndv" -> JInt(st.ndv), "nulls" -> JInt(st.nulls),
            "avgLen" -> JInt(st.avgLen),
            "maxLen" -> JInt(st.maxLen),
            "histoHeight" -> (if (st.histoHeight > 0)
              JDouble(st.histoHeight) else JNothing),
            "histogram" -> (if (st.histogram.isEmpty) JNothing
              else JArray(st.histogram.toList.map { case (lo, hi, n) =>
                JArray(List(JDouble(lo), JDouble(hi), JInt(n)))
              })))): JValue)
        }.toList)),
      "tableColStatsVersion" -> (if (m.tableColStatsVersion > 0)
        JInt(m.tableColStatsVersion) else JNothing),
      // json4s drops JNothing pairs at render: pre-drop copies stay as-is
      "droppedCols" -> (if (m.droppedCols.isEmpty) JNothing
        else JArray(m.droppedCols.toList.map(JString(_)))),
      // json4s drops JNothing pairs at render: pre-drops copies stay as-is
      "drops" -> (if (m.drops.isEmpty) JNothing
        else JObject(m.drops.toSeq.sortBy(_._1).map { case (v, r) =>
          v -> (JObject(List(
            "partitions" -> listing(r.partitions),
            "logPartitions" -> listing(r.logPartitions))): JValue)
        }.toList)),
      // json4s drops JNothing pairs at render: pre-props copies stay as-is
      "props" -> (m.props match {
        case Some(p) => JObject(List(
          "keepCommits" -> JInt(p.keepCommits),
          "numBuckets" -> JInt(p.numBuckets),
          "clusterCols" -> JArray(p.clusterCols.toList.map(JString(_))),
          "trackCommitVersions" -> JBool(p.trackCommitVersions),
          "fileIndexEntries" -> JInt(p.fileIndexEntries),
          "statsCols" -> JArray(p.statsCols.toList.map(JString(_))),
          "compactEvery" -> JInt(p.compactEvery),
          "bloomCols" -> (if (p.bloomCols.isEmpty) JNothing
            else JArray(p.bloomCols.toList.map(JString(_)))),
          "checkConstraints" -> (if (p.checkConstraints.isEmpty) JNothing
            else JArray(p.checkConstraints.toList.map(JString(_)))),
          "deleteVectors" -> (if (p.deleteVectors) JBool(true)
            else JNothing))): JValue
        case None => JNothing
      })))))
  }

  private def jStrs(v: JValue): Seq[String] =
    v match { case JArray(xs) => xs.collect { case JString(s) => s }
              case _ => Nil }
  private def jLong(v: JValue, dflt: Long): Long = v match {
    case JInt(n) => n.toLong; case JLong(n) => n; case _ => dflt
  }
  private def jListing(v: JValue): Map[String, Seq[String]] = v match {
    case JObject(fs) => ListMap(fs.map { case (k, w) => k -> jStrs(w) }: _*)
    case _ => ListMap.empty
  }
  private def jFileStats(v: JValue): Map[String, FileStat] = v match {
    case JObject(fs) => fs.collect {
      case (f, o: JObject) =>
        def str(n: String) = (o \ n) match {
          case JString(s) => s
          case _ => throw new IllegalArgumentException(
            s"fileStats[$f] missing $n")
        }
        val cs = (o \ "colStats") match {
          case JObject(cols) => cols.collect {
            case (c, JArray(mm)) =>
              c -> mm.collect { case JString(w) => w }
          }.toMap
          case _ => Map.empty[String, Seq[String]]
        }
        val cb = (o \ "colBlooms") match {
          case JObject(cols) => cols.collect {
            case (c, JString(ref)) => c -> ref
          }.toMap
          case _ => Map.empty[String, String]
        }
        f -> FileStat(str("keyMin"), str("keyMax"), str("bloomRef"), cs,
          rows = jLong(o \ "rows", -1L),
          bytes = jLong(o \ "bytes", -1L),
          colBloomRefs = cb)
    }.toMap
    case _ => Map.empty
  }
  private def jDvs(v: JValue): Map[String, DvEntry] = v match {
    case JObject(ds) => ListMap(ds.map { case (f, o) =>
      f -> DvEntry(jStrs(o \ "files"), jLong(o \ "rows", 0L))
    }: _*)
    case _ => ListMap.empty
  }

  private[graft] def parseManifest(txt: String): Manifest = {
    val j = JsonMethods.parse(txt)
    def strs(v: JValue): Seq[String] = jStrs(v)
    def long(v: JValue, dflt: Long): Long = jLong(v, dflt)
    def files(v: JValue): Map[String, Seq[String]] = jListing(v)
    Manifest(
      version = (j \ "version") match {
        case JInt(n) => n.toLong; case JLong(n) => n
        case other => throw new IllegalArgumentException(s"bad version $other")
      },
      schemaJson = (j \ "schemaJson").asInstanceOf[JString].s,
      keyCols = strs(j \ "keyCols"),
      partitionCols = strs(j \ "partitionCols"),
      precombineField = (j \ "precombineField") match {
        case JString(s) => s; case _ => "" },
      partitions = files(j \ "partitions"),
      logPartitions = files(j \ "logPartitions"),
      deltaCommits = long(j \ "deltaCommits", 0L),
      lastCompaction = long(j \ "lastCompaction", 0L),
      fileStats = jFileStats(j \ "fileStats"),
      operation = (j \ "operation") match {
        case JString(s) => s; case _ => "" },
      metrics = (j \ "metrics") match {
        case JObject(fs) => fs.collect {
          case (k, JInt(n)) => k -> n.toLong
          case (k, JLong(n)) => k -> n
        }.toMap
        case _ => Map.empty
      },
      storageType = (j \ "storageType") match {
        case JString(s) => s; case _ => "cow" }, // pre-round-6 manifests
      keyEncoding = long(j \ "keyEncoding", 1L), // legacy = plain strings
      commitTimeMs = long(j \ "commitTimeMs", 0L),
      droppedCols = strs(j \ "droppedCols"),
      tombstones = files(j \ "tombstones"),
      dvs = jDvs(j \ "dvs"),
      unorderedFiles = strs(j \ "unorderedFiles"),
      shardRefs = strs(j \ "shards"),
      tableColStats = (j \ "tableColStats") match {
        case JObject(cs) => ListMap(cs.map { case (c, o) =>
          val histo = (o \ "histogram") match {
            case JArray(bins) => bins.collect {
              case JArray(List(lo, hi, n)) =>
                def d(v: JValue): Double = v match {
                  case JDouble(x) => x; case JInt(x) => x.toDouble
                  case JLong(x) => x.toDouble; case _ => 0.0
                }
                (d(lo), d(hi), long(n, 0L))
            }
            case _ => Nil
          }
          c -> ColStatRec(long(o \ "ndv", 0L), long(o \ "nulls", 0L),
            long(o \ "avgLen", 0L), long(o \ "maxLen", 0L), histo,
            histoHeight = (o \ "histoHeight") match {
              case JDouble(x) => x; case JInt(x) => x.toDouble
              case _ => 0.0
            })
        }: _*)
        case _ => ListMap.empty
      },
      tableColStatsVersion = long(j \ "tableColStatsVersion", 0L),
      drops = (j \ "drops") match {
        case JObject(ds) => ListMap(ds.map { case (v, o) =>
          v -> DropRecord(files(o \ "partitions"),
            files(o \ "logPartitions"))
        }: _*)
        case _ => ListMap.empty
      },
      props = (j \ "props") match {
        case o: JObject => Some(TableProps(
          keepCommits = long(o \ "keepCommits", 10L).toInt,
          numBuckets = long(o \ "numBuckets", 0L).toInt,
          clusterCols = strs(o \ "clusterCols"),
          trackCommitVersions = (o \ "trackCommitVersions") match {
            case JBool(b) => b; case _ => false },
          fileIndexEntries = long(o \ "fileIndexEntries", 0L).toInt,
          statsCols = strs(o \ "statsCols"),
          compactEvery = long(o \ "compactEvery", 20L).toInt,
          bloomCols = strs(o \ "bloomCols"),
          checkConstraints = strs(o \ "checkConstraints"),
          deleteVectors = (o \ "deleteVectors") match {
            case JBool(b) => b; case _ => false }))
        case _ => None // pre-round-7 manifests: open() infers
      })
  }
}
