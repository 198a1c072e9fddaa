package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.{CowTable, ManifestListing}

/** DataSource V2 read integration: any Spark job (SQL-only included) reads
  * a graft table through the standard source API —
  *
  * {{{
  *   spark.read.format("graft").load("/warehouse/db/schema/table")
  *   spark.read.format("graft").option("versionAsOf", 3).load(path)
  *   CREATE TABLE t USING graft LOCATION '/warehouse/...'
  * }}}
  *
  * The provider resolves the table's CURRENT manifest (or `versionAsOf`
  * for time travel), and serves exactly that snapshot's base-file listing
  * ([[ManifestListing]], no file-system listing) through Spark's native
  * parquet V2 scan — so column pruning, filter
  * pushdown, row-group pruning via the retained partition-column stats,
  * and vectorized reading all come from the stock parquet path. No schema
  * inference pass: the manifest's schema is authoritative.
  *
  * Semantics: a snapshot AS OF LOAD TIME (the file list is pinned when the
  * DataFrame is created — later commits don't shift a running query, the
  * same isolation CowTable.snapshot gives). For merge-on-read tables this
  * is the read-optimized (`_ro`) view; the merged `_rt` view needs
  * [[graft.table.MorTable.realtime]].
  */
class GraftDataSource extends TableProvider with DataSourceRegister
  with org.apache.spark.sql.sources.StreamSourceProvider
  with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft"

  // ----- streaming write (exactly-once upsert; see GraftStreamSink) -----
  // DataStreamWriter falls back to the V1 StreamSinkProvider path when
  // the provider's table does not declare STREAMING_WRITE — mirroring
  // the streaming-read arrangement above.

  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft sink: set partitioning via option(\"partitionCols\", ...) " +
        "(table creation config), not partitionBy()")
    val path = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("path") => v
    }.getOrElse(throw new IllegalArgumentException(
      "graft sink needs a table path: .start(path) or option(\"path\",...)"))
    new graft.streaming.GraftStreamSink(
      sqlContext.sparkSession, path, parameters, outputMode)
  }

  // ----- streaming read (table-as-stream; see GraftStreamSource) -----
  // DataStreamReader falls back to the V1 StreamSourceProvider path when
  // the provider's table does not declare MICRO_BATCH_READ — exactly the
  // arrangement here (batch reads stay on the native parquet V2 table).

  private def streamSchema(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String]): StructType =
    new GraftStreamSource(sqlContext.sparkSession,
      parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("path") => v
      }.getOrElse(throw new IllegalArgumentException(
        "graft streaming read needs a table path: .load(path)")),
      parameters).schema

  override def sourceSchema(
      sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(streamSchema(sqlContext, parameters)))

  override def createSource(
      sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new GraftStreamSource(sqlContext.sparkSession,
      parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("path") => v
      }.getOrElse(throw new IllegalArgumentException(
        "graft streaming read needs a table path: .load(path)")),
      parameters)

  // Spark calls inferSchema before getTable; the manifest IS the schema.
  override def supportsExternalMetadata(): Boolean = true

  private def basePath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft source needs a table path: .load(path) or option(\"path\", ...)")
    p
  }

  // Resolve the manifest ONCE per (path, version) for this provider
  // instance: Spark calls inferSchema and then getTable separately, and a
  // commit landing between the two would otherwise serve the new file
  // list under the old schema. Caching pins schema AND files to the same
  // table version (also halves manifest I/O).
  @volatile private var cached:
      Option[((String, Option[String]), graft.table.Manifest)] = None

  private def manifest(options: CaseInsensitiveStringMap) = {
    // timestampAsOf (epoch ms or "yyyy-MM-dd[ HH:mm:ss]") resolves to a
    // concrete version FIRST, so the cache key — and therefore schema +
    // file list — stays pinned even if a commit lands mid-resolution
    val spark = SparkSession.active
    val base = basePath(options)
    val version = Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(Option(options.get("timestampAsOf")).map { raw =>
        val ms = raw.toLongOption.getOrElse(
          java.sql.Timestamp.valueOf(
            if (raw.length == 10) raw + " 00:00:00" else raw).getTime)
        CowTable.open(spark, base).versionAtTimestamp(ms)
      })
    val key = (base, version.map(_.toString))
    cached match {
      case Some((k, m)) if k == key => m
      case _ =>
        val m = CowTable.openManifest(spark, key._1, version)
        cached = Some((key, m))
        m
    }
  }

  // existsAt (not a bare dir check): a writer that crashed between
  // mkdirs(_commits) and its first manifest rename leaves the dir with
  // zero versions — such a path must still take the create-on-first-write
  // branch.
  private def tableExists(options: CaseInsensitiveStringMap): Boolean =
    CowTable.existsAt(SparkSession.active, basePath(options))

  // Only the READ path calls inferSchema (the write path passes the
  // incoming DataFrame's schema straight to getTable when
  // supportsExternalMetadata is true), so a missing table can throw the
  // clear "_commits" error here without breaking create-on-first-write.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    manifest(options).schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val base = basePath(options)
    // id-based column resolution for renamed columns (no-op otherwise)
    graft.table.CowTable.ensureFieldIdConfs(SparkSession.active)
    if (!tableExists(options))
      return new GraftWritableTable(base, options, None)
    GraftDataSource.tableFor(SparkSession.active, base, manifest(options),
      options, Some(schema))
  }
}

object GraftDataSource {
  /** Build the served V2 table for an existing manifest: the
    * manifest-served file index over the (option-ranged) snapshot listing
    * plus the pushed-filter skipping context. Shared by the path provider
    * and [[GraftCatalog]].
    */
  private[sources] def tableFor(
      spark: SparkSession,
      base: String,
      m: graft.table.Manifest,
      options: CaseInsensitiveStringMap,
      schemaOverride: Option[StructType] = None,
      acceptAnySchema: Boolean = true): GraftWritableTable = {
    val schema = schemaOverride.getOrElse(m.schema)
    // file-level data skipping through the source API: rangeColumn (+
    // optional rangeLo / rangeHi) prunes to files whose recorded column
    // range intersects the bounds BEFORE any footer is opened —
    //   spark.read.format("graft").option("rangeColumn", "ts")
    //     .option("rangeLo", "2024-01-02").option("rangeHi", "2024-01-03")
    //     .load(path)
    // (superset contract: stat-less files are kept; apply the row filter
    // on top, which the parquet scan then also pushes down.)
    val ranged = Option(options.get("rangeColumn")) match {
      case Some(c) => CowTable.filesForRange(spark, m, c,
        Option(options.get("rangeLo")), Option(options.get("rangeHi")))
      case None => m.baseFiles
    }
    // internal option set by the deletion-vector read rewrite
    // ([[GraftDvReadRule]]): serve only the files WITHOUT a vector — the
    // rewrite reads the DV'd files through its own positional anti-join
    // branch and unions the two.
    val listed =
      if ("clean".equalsIgnoreCase(options.getOrDefault("dvMode", "")))
        ranged.filterNot(m.dvs.contains)
      else ranged
    val served = ManifestListing.files(spark,
      listed.map(f => CowTable.resolveFile(base, f)), schema,
      options.asCaseSensitiveMap.asScala.toMap)
    new GraftWritableTable(base, options, Some(served),
      // pushed-filter file skipping starts from the option-ranged listing
      Some((m, listed, schema)), acceptAnySchema)
  }
}

/** The V2 table served by [[GraftDataSource]]: reads go to Spark's native
  * parquet scan over the pinned snapshot file list; writes go
  * through the V2→V1 bridge (`V1Write`/`InsertableRelation`) straight into
  * the table-format layer —
  *
  * {{{
  *   df.write.format("graft")
  *     .option("keyCols", "id").option("partitionCols", "p")
  *     .mode("append").save(path)      // upsert (keyed), creates if absent
  *   df.write.format("graft").mode("overwrite").save(path)  // full replace
  * }}}
  *
  * Append on a keyed table is an UPSERT (Hudi's spark-sql INSERT
  * semantics), routed to [[graft.table.CowTable.upsert]] or, when the
  * manifest records `storageType=mor`, to the log-append write path of
  * [[graft.table.MorTable]]. Overwrite is a full-replace commit
  * ([[graft.table.CowTable.overwrite]]). Creating a new table reads
  * `keyCols`/`partitionCols`/`precombineField`/`storageType` options.
  * ACCEPT_ANY_SCHEMA: the table layer's own additive schema evolution
  * (`evolveSchema`/`pad`) validates incoming columns instead of Spark's
  * by-name output resolution, which cannot know about evolution.
  */
private[sources] class GraftWritableTable(
    base: String,
    options: CaseInsensitiveStringMap,
    // the snapshot listing's file index — present when the table exists
    served: Option[ManifestListing.Files],
    // (manifest, option-pruned file listing, read schema) — present when
    // the table exists; drives pushed-filter file skipping in the scan
    scanCtx: Option[(graft.table.Manifest, Seq[String], StructType)] = None,
    // Catalog-served tables declare their real schema instead of
    // ACCEPT_ANY_SCHEMA: the analyzer then resolves INSERT/MERGE against
    // it normally (with ACCEPT_ANY_SCHEMA Spark skips MERGE resolution
    // entirely, expecting the connector to finish it — the Delta
    // arrangement; path-based writes keep the capability so the table
    // layer's additive evolution owns column validation).
    acceptAnySchema: Boolean = true)
  extends Table
  with org.apache.spark.sql.connector.catalog.SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.TruncatableTable {

  import org.apache.spark.sql.connector.catalog.TableCapability

  /** SQL `TRUNCATE TABLE`: one metadata-only commit through the table
    * layer ([[graft.table.CowTable.truncate]]) — change-feed tombstones
    * recorded, history retained.
    */
  override def truncateTable(): Boolean = {
    require(scanCtx.nonEmpty, s"TRUNCATE TABLE on uncreated table $base")
    graft.table.CowTable.open(
      org.apache.spark.sql.SparkSession.active, base).truncate()
    true
  }

  override def name(): String = scanCtx
    .map { case (m, _, _) => s"graft:$base@v${m.version}" }
    .getOrElse(s"graft:$base (uncreated)")

  /** Table root on disk — lets the SQL mutation rule re-open the table
    * through the table-format layer (see [[GraftSqlRule]]).
    */
  def graftBasePath: String = base

  /** Scan-shape introspection for the materialized-view rewrite gate
    * ([[MvRewriteRule]]): the manifest this relation reads, and the
    * (possibly option-pruned) file listing it scans.
    */
  private[sources] def graftScanManifest: Option[graft.table.Manifest] =
    scanCtx.map(_._1)
  private[sources] def graftScanFiles: Option[Seq[String]] =
    scanCtx.map(_._2)
  /** Load-time options (the deletion-vector read rewrite re-issues the
    * clean-files branch with the SAME options plus `dvMode=clean` and a
    * pinned `versionAsOf`).
    */
  private[sources] def graftOptions: CaseInsensitiveStringMap = options
  /** Files of the served listing that carry a deletion vector. Non-empty
    * means this relation must be read through [[GraftDvReadRule]]'s
    * rewrite — the raw parquet scan would resurrect deleted rows.
    */
  private[sources] def graftDvFiles: Seq[String] = scanCtx match {
    case Some((m, listing, _)) if m.dvs.nonEmpty &&
        !"clean".equalsIgnoreCase(options.getOrDefault("dvMode", "")) =>
      listing.filter(m.dvs.contains)
    case _ => Nil
  }

  override def schema(): StructType =
    served.map(_.schema).getOrElse(new StructType())

  /** Declared layout: identity transforms for the hive-style partition
    * columns plus the key-hash bucket transform when the table is
    * bucketed ([[GraftBucketFunction]] semantics).
    */
  override def partitioning(): Array[Transform] =
    scanCtx.map { case (m, _, _) =>
      (m.partitionCols.map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(c)) ++
        m.props.filter(_.numBuckets > 0).map(p =>
          org.apache.spark.sql.connector.expressions.Expressions
            .bucket(p.numBuckets, m.keyCols: _*))).toArray
    }.getOrElse(Array.empty)

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]()
    if (served.nonEmpty) caps.add(TableCapability.BATCH_READ)
    // BATCH_WRITE is what DataFrameWriter.save's V2-vs-V1 branch checks;
    // the actual executor is still the V1 fallback (AppendDataExecV1),
    // selected later by the Write object being a V1Write.
    caps.add(TableCapability.BATCH_WRITE)
    caps.add(TableCapability.V1_BATCH_WRITE)
    caps.add(TableCapability.TRUNCATE)
    if (acceptAnySchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  override def newScanBuilder(opts: CaseInsensitiveStringMap) =
    (served, scanCtx) match {
      case (Some(listing), Some((m, files, schema))) =>
        // with GraftExtensions installed this scan is never built for a
        // DV'd listing — GraftDvReadRule rewrote the relation during
        // analysis. Reaching here without the rule means the raw parquet
        // scan WOULD serve deleted rows: refuse loudly rather than be
        // silently wrong.
        require(graftDvFiles.isEmpty,
          s"table at $base has deletion vectors on ${graftDvFiles.size} " +
            "file(s); install graft.functions.GraftExtensions " +
            "(spark.sql.extensions) so reads apply them, or run " +
            "compact() to fold them into clean files")
        new GraftScanBuilder(
          org.apache.spark.sql.SparkSession.active, base, m, files, listing,
          schema, options)
      case _ => throw new IllegalArgumentException(
        s"not a graft table (no _commits): $base")
    }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var truncateAll = false
      override def truncate() = { truncateAll = true; this }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(
                  data: org.apache.spark.sql.DataFrame,
                  overwriteIgnored: Boolean): Unit = {
                val spark = data.sparkSession
                val t =
                  if (CowTable.existsAt(spark, base))
                    CowTable.open(spark, base)
                  else {
                    def opt(k: String) = Option(options.get(k))
                    val keys = opt("keyCols")
                      .map(_.split(',').map(_.trim).toSeq)
                      .getOrElse(throw new IllegalArgumentException(
                        "creating a graft table needs option(\"keyCols\", ...)"))
                    val parts = opt("partitionCols")
                      .map(_.split(',').map(_.trim).toSeq).getOrElse(Nil)
                    val pre = opt("precombineField").getOrElse("")
                    if (opt("storageType").contains("mor"))
                      new graft.table.MorTable(spark, base, keys, parts, pre)
                    else new CowTable(spark, base, keys, parts, pre)
                  }
                // SQL `INSERT INTO ... VALUES` arrives with positional
                // column names (col1, col2, ...) because ACCEPT_ANY_SCHEMA
                // skips Spark's by-name output resolution. Positional
                // semantics apply ONLY when the batch carries exactly
                // Spark's synthetic colN names — a genuinely misnamed
                // by-name write must keep failing loudly on the missing
                // key columns, not be silently misassigned by position.
                val aligned =
                  if (t.exists) {
                    val cur = t.manifest.schema.fieldNames
                    val synthetic = data.columns.zipWithIndex.forall {
                      case (c, i) => c == s"col${i + 1}"
                    }
                    if (data.columns.length == cur.length && synthetic)
                      data.toDF(cur.toIndexedSeq: _*)
                    else data
                  } else data
                // Bucketed tables cluster the write by the bucket column
                // (one exchange, ≤numBuckets write tasks, exactly one file
                // per bucket per commit). Without it the write inherits the
                // incoming plan's partitioning — locally a single task
                // serializes the whole bucketed write; at scale N upstream
                // tasks × numBuckets dirs spray small files (guide §6:
                // hash-distribute before a clustered write).
                val par = if (t.numBuckets > 0) t.numBuckets else 0
                if (truncateAll) t.overwrite(aligned)
                else if (t.exists) t.upsert(aligned, parallelism = par)
                else t.bulkInsert(aligned, parallelism = par)
              }
            }
        }
    }
}
