package graft.table

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{
  FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** File listings served from the manifest instead of the file system.
  *
  * The manifest already names every file of a snapshot, yet a plain
  * `spark.read.parquet(paths)` hands those paths to Spark's
  * `InMemoryFileIndex`, which stats them again — past
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths as
  * a Spark job of its own ("Listing leaf files and directories"). Every
  * read over manifest-resolved paths goes through [[files]] instead: the
  * index it builds is Spark's own `InMemoryFileIndex`, so partition
  * inference, split planning and the parquet reader are unchanged, but it
  * is backed by [[StatusCache]], which commits fill with the statuses
  * they already hold. A miss (cold JVM, a table written by another
  * process, an entry aged out of the bound) runs Spark's listing exactly
  * as before, and the index puts its results into the cache.
  */
object ManifestListing {

  /** Most cache entries (one per data file, ~1 KB each) kept; past it
    * the least recently used go, and a read of an evicted file lists it
    * again — a snapshot larger than the bound lists as it did before.
    */
  private val MaxEntries = 100000

  /** JVM-wide file-status cache keyed by qualified absolute path.
    *
    * Why an entry never goes stale: a path under a table's `files/` dir
    * is written once and never rewritten. Every write goes to a fresh
    * per-attempt dir — `c{v}-{uuid8}` (COW data files and MOR delta
    * logs), `t{v}-{uuid8}` (change-feed tombstones), `dv{v}-{uuid8}`
    * (deletion-vector sidecars) — and later commits only add dirs or
    * delete whole ones. A table dropped and recreated at the same path
    * writes under new random tokens, so it never resolves to an entry of
    * its predecessor. A deleted file may keep its entry; a read that
    * still names it (time travel past retention, a cleaner racing a
    * read) then fails in the scan task with `FileNotFoundException`
    * instead of at planning with `PATH_NOT_FOUND` — the two shapes the
    * retention-race handlers already accept.
    *
    * [[graft.util.ScanPar]] also reads file lengths here, for paths that
    * are not table files too; those entries are only a split-count
    * estimate, never a read listing.
    */
  object StatusCache extends FileStatusCache {
    private val entries =
      new java.util.LinkedHashMap[Path, Array[FileStatus]](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Path, Array[FileStatus]]): Boolean =
          this.size > MaxEntries
      }

    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      entries.synchronized(Option(entries.get(path)))

    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus])
        : Unit = entries.synchronized { entries.put(path, leafFiles); () }

    override def invalidateAll(): Unit = entries.synchronized(entries.clear())

    /** Record files a commit just wrote, each under its own path. */
    def putFiles(statuses: Iterable[FileStatus]): Unit =
      entries.synchronized(statuses.foreach(s =>
        entries.put(s.getPath, Array(s))))

    /** A file's length; a miss is stat-ed once and cached. */
    def length(fs: FileSystem, path: Path): Long = {
      val p = fs.makeQualified(path)
      getLeafFiles(p).fold {
        val st = fs.getFileStatus(p)
        putFiles(Seq(st))
        st.getLen
      }(_.iterator.map(_.getLen).sum)
    }
  }

  /** Index + schemas for a parquet read over an explicit file list —
    * what Spark's file sources derive from a user-specified schema, minus
    * the listing.
    */
  final case class Files(
      index: InMemoryFileIndex,
      partitionSchema: StructType,
      dataSchema: StructType) {
    /** Full scan schema: data columns, then inferred partition columns. */
    def schema: StructType = StructType(dataSchema ++ partitionSchema)

    /** The V2 scan builder `ParquetTable.newScanBuilder` would build. */
    def scanBuilder(spark: SparkSession, options: CaseInsensitiveStringMap)
        : ParquetScanBuilder =
      ParquetScanBuilder(spark, index, schema, dataSchema, options)
  }

  /** Serve `paths` (absolute, as [[CowTable.resolveFile]] yields them)
    * from the status cache. Paths the cache does not hold are checked for
    * existence first, exactly as `spark.read` checks every path, so a
    * missing file still fails here with `PATH_NOT_FOUND` rather than
    * silently dropping out of the listing. `options` are the read's
    * source options, which the index honours as Spark's file sources do.
    */
  def files(spark: SparkSession, paths: Seq[String], schema: StructType,
      options: Map[String, String] = Map.empty): Files = {
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val qualified = paths.map { p =>
      val path = new Path(p)
      path.getFileSystem(hadoopConf).makeQualified(path)
    }
    val misses = qualified.filter(StatusCache.getLeafFiles(_).isEmpty)
    if (misses.nonEmpty)
      GraftBridge.checkFilesExist(misses.map(_.toString), hadoopConf)
    val index = new InMemoryFileIndex(
      spark, qualified, options, Some(schema), StatusCache)
    // user-specified types win for inferred partition columns, and data
    // columns read nullable — both as DataSource.resolveRelation does
    val resolver = spark.sessionState.conf.resolver
    val partitionSchema = StructType(index.partitionSchema.map(p =>
      schema.find(f => resolver(f.name, p.name)).getOrElse(p)))
    val dataSchema = GraftBridge.asNullable(StructType(schema.filterNot(f =>
      partitionSchema.exists(p => resolver(p.name, f.name)))))
    Files(index, partitionSchema, dataSchema)
  }

  /** `spark.read.schema(schema).parquet(paths: _*)` served from the
    * manifest: the same relation, planned without a listing job.
    */
  def read(spark: SparkSession, schema: StructType, paths: Seq[String])
      : DataFrame = {
    val f = files(spark, paths, schema)
    spark.baseRelationToDataFrame(HadoopFsRelation(f.index,
      f.partitionSchema, f.dataSchema, None, new ParquetFileFormat,
      Map.empty)(spark))
  }
}
