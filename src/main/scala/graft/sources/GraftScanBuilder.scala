package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{
  Scan, ScanBuilder, SupportsPushDownAggregates,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.{CowTable, Manifest, ManifestListing}

/** Scan builder that turns PUSHED-DOWN Catalyst filters into FILE-level
  * data skipping against the manifest's recorded per-file [min, max]
  * stats — automatically, with no `rangeColumn` options:
  *
  * {{{
  *   spark.read.format("graft").load(p).filter($"ts" <= x)  // reads only
  *   // files whose recorded ts range intersects (-inf, x]
  * }}}
  *
  * The Delta/Hudi data-skipping analog: Spark's V2 pushdown rule hands the
  * scan builder each WHERE conjunct; bounds on columns with recorded stats
  * (`statsCols`, plus the record key via the file index) shrink the file
  * list BEFORE any parquet footer is opened, and equality predicates on
  * string partition columns prune whole partition listings. The inner
  * builder is Spark's native parquet one rebuilt over the pruned listing
  * (served from the manifest by [[ManifestListing]], never re-listed),
  * so row-group pruning, column pruning, and vectorized reading are
  * unchanged on top. Superset contract throughout ([[CowTable
  * .filesForRange]]): stat-less files stay, non-order-preserving encodings
  * prune nothing, and Spark still evaluates every filter row-level.
  */
private[sources] class GraftScanBuilder(
    spark: SparkSession,
    base: String,
    m: Manifest,
    initialFiles: Seq[String],
    // the table's served listing of initialFiles (the unpruned scan)
    initialListing: ManifestListing.Files,
    schema: StructType,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with SupportsPushDownCatalystFilters
  with SupportsPushDownAggregates
  with SupportsPushDownRequiredColumns {

  // Footer-stats aggregate pushdown counts PHYSICAL rows, so a served
  // listing must never contain a deletion-vectored file: the table
  // refuses to build this scan for one (GraftWritableTable's require),
  // and the invariant is re-asserted here so any future construction
  // site cannot silently serve masked rows through pushed aggregates.
  require(m.dvs.isEmpty || !initialFiles.exists(m.dvs.contains),
    s"GraftScanBuilder built over a DV'd listing at $base")

  private def mkInner(files: Seq[String]): FileScanBuilder =
    ManifestListing.files(spark,
      files.map(f => CowTable.resolveFile(base, f)), schema,
      options.asCaseSensitiveMap.asScala.toMap)
      .scanBuilder(spark, options)

  private var inner: FileScanBuilder =
    initialListing.scanBuilder(spark, options)

  // captured push-down state so the runtime-filter scan can rebuild the
  // inner parquet scan over a SMALLER listing with identical semantics
  private var currentFiles: Seq[String] = initialFiles
  private var savedPushed: Seq[Expression] = Nil
  private var savedRequired: Option[StructType] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val pruned = pruneFiles(filters)
    if (pruned.size < currentFiles.size) {
      currentFiles = pruned
      inner = mkInner(pruned)
    }
    savedPushed = filters
    inner.pushFilters(filters)
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    savedRequired = Some(requiredSchema)
    inner.pruneColumns(requiredSchema)
  }

  // ------------------------------------------- aggregate pushdown (DSv2)

  private var aggPushed = false

  /** MIN/MAX/COUNT/COUNT(*) answered from parquet FOOTER statistics —
    * delegated to Spark's native parquet scan builder (gated by its
    * `spark.sql.parquet.aggregatePushDown` conf; Spark only offers the
    * aggregation when every filter was already pushed, and the parquet
    * builder itself refuses when row-level data filters remain, so a
    * pushed aggregate is always exact). Correctness is per-file: the
    * listing IS the rows this scan would have produced, and footer
    * stats summarize exactly those files — so version-pinned reads
    * (`versionAsOf`) and bucket layouts push cleanly, while ANY user
    * filter (even on a partition-valued column, which is a data column
    * to the inner parquet scan) falls back to the exact row-level path.
    * At 100 TB this turns full-table count/min/max into a
    * metadata-only job: one footer read per file, zero data pages. The
    * manifest-level sibling ([[graft.table.CowTable.fastCount]])
    * answers plain `count(*)` with zero tasks.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    inner match {
      case b: SupportsPushDownAggregates => b.supportCompletePushDown(agg)
      case _ => false
    }

  override def pushAggregation(agg: Aggregation): Boolean = inner match {
    case b: SupportsPushDownAggregates =>
      aggPushed = b.pushAggregation(agg)
      aggPushed
    case _ => false
  }

  /** Serve the bucket-aware scan ([[GraftBucketScan]], storage-partitioned
    * joins) when the table is bucket-only laid out and the session opted
    * into V2 bucketing; otherwise the plain size-split parquet scan.
    * Partitioned-AND-bucketed tables stay on the plain scan: their
    * grouping key would need the partition values too, and the common
    * co-location layout for fact-to-fact joins is bucket-only.
    */
  override def build(): Scan = {
    val scan = inner.build()
    val spjEnabled = spark.sessionState.conf
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false")
      .toBoolean
    val bucketSeg = CowTable.DirColPrefix + CowTable.BucketCol + "="
    m.props.map(_.numBuckets).filter(_ > 0) match {
      // a pushed aggregation changed the scan's row shape to aggregate
      // buckets — the key-grouped SPJ wrap no longer applies
      case Some(n) if !aggPushed && spjEnabled && m.partitionCols.isEmpty &&
          scan.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan] &&
          m.baseFiles.forall(_.contains(bucketSeg)) =>
        GraftBucketScan(
          scan.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan],
          n, m.keyCols,
          clusterCols = m.props.map(_.clusterCols).getOrElse(Nil),
          unorderedFiles = m.unorderedFiles)
      // plain data scan: advertise runtime (DPP-style) file pruning.
      // Skipped when an aggregate was pushed (the scan's row shape is
      // aggregate buckets) and for the key-grouped SPJ scan (runtime
      // pruning may not change a KeyGroupedPartitioning's group set).
      case _ if !aggPushed && scan.isInstanceOf[
          org.apache.spark.sql.execution.datasources.v2.FileScan] =>
        val rebuildScan = (fs: Seq[String]) => {
          val b = mkInner(fs)
          b.pushFilters(savedPushed)
          savedRequired.foreach(b.pruneColumns)
          b.build()
        }
        new GraftRuntimeScan(spark, base, m, currentFiles, rebuildScan,
          scan, rowsExact = savedPushed.isEmpty)
      case _ => scan
    }
  }

  // ------------------------------------------------------- file pruning

  /** Intersect the manifest listing with every extractable bound. */
  private def pruneFiles(filters: Seq[Expression]): Seq[String] = {
    val conjuncts = filters.flatMap(splitAnd)
    val byPartition = partitionPrune(conjuncts)
    val bounds = rangeBounds(conjuncts)
    val ranged = bounds.foldLeft(byPartition) {
      case (files, (column, (lo, hi))) =>
        val keep = CowTable.filesForRange(spark, m, column, lo, hi).toSet
        files.filter(keep)
    }
    valueSets(conjuncts).foldLeft(ranged) { case (files, (column, vals)) =>
      val keep = CowTable.filesForValues(spark, m, column, vals, base).toSet
      files.filter(keep)
    }
  }

  /** IN-list conjuncts on stat columns → value-set skipping
    * ([[CowTable.filesForValues]] — a file survives iff its [min, max]
    * contains at least one listed value). Lists above the cap skip
    * pruning (the literal-encode job grows with the list; at that size
    * stripes cover the table anyway).
    */
  private def valueSets(conjuncts: Seq[Expression])
      : Seq[(String, Seq[Any])] = {
    val statCols = m.fileStats.valuesIterator
      .flatMap(_.colStats.keysIterator).toSet
    val cap = 1000
    conjuncts.flatMap {
      case In(a: AttributeReference, list)
        if statCols(a.name) && list.nonEmpty && list.size <= cap &&
          list.forall(_.isInstanceOf[Literal]) =>
        val conv =
          CatalystTypeConverters.createToScalaConverter(a.dataType)
        Seq(a.name -> list.map(l =>
          conv(l.asInstanceOf[Literal].value)))
      case InSet(a: AttributeReference, hset)
        if statCols(a.name) && hset.nonEmpty && hset.size <= cap =>
        val conv =
          CatalystTypeConverters.createToScalaConverter(a.dataType)
        Seq(a.name -> hset.toSeq.map(conv))
      // plain equality = a 1-value set: the range phase already narrows
      // to [x, x], but routing it through the value path ALSO probes the
      // column's sidecar bloom (bloomCols) — on a non-clustered column
      // that is the difference between reading every file and reading
      // the files that contain x
      case EqualTo(a: AttributeReference, l: Literal)
        if statCols(a.name) && l.value != null =>
        Seq(a.name -> Seq(CatalystTypeConverters
          .createToScalaConverter(a.dataType)(l.value)))
      case EqualTo(l: Literal, a: AttributeReference)
        if statCols(a.name) && l.value != null =>
        Seq(a.name -> Seq(CatalystTypeConverters
          .createToScalaConverter(a.dataType)(l.value)))
      case _ => Nil
    }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Column -> tightest (lo, hi) across all conjuncts. Bounds stay
    * INCLUSIVE supersets (strict comparisons keep their literal as the
    * bound — never wrong, at most one extra file).
    */
  private def rangeBounds(conjuncts: Seq[Expression])
      : Map[String, (Option[Any], Option[Any])] = {
    val statCols = m.fileStats.valuesIterator
      .flatMap(_.colStats.keysIterator).toSet
    def ext(lit: Literal): Any =
      CatalystTypeConverters.createToScalaConverter(lit.dataType)(lit.value)
    val perCol = conjuncts.flatMap {
      case GreaterThan(a: AttributeReference, l: Literal)
        if statCols(a.name) => Seq((a.name, Some(ext(l)), None))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal)
        if statCols(a.name) => Seq((a.name, Some(ext(l)), None))
      case LessThan(a: AttributeReference, l: Literal)
        if statCols(a.name) => Seq((a.name, None, Some(ext(l))))
      case LessThanOrEqual(a: AttributeReference, l: Literal)
        if statCols(a.name) => Seq((a.name, None, Some(ext(l))))
      case EqualTo(a: AttributeReference, l: Literal)
        if statCols(a.name) => Seq((a.name, Some(ext(l)), Some(ext(l))))
      // literal-first spellings
      case GreaterThan(l: Literal, a: AttributeReference)
        if statCols(a.name) => Seq((a.name, None, Some(ext(l))))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference)
        if statCols(a.name) => Seq((a.name, None, Some(ext(l))))
      case LessThan(l: Literal, a: AttributeReference)
        if statCols(a.name) => Seq((a.name, Some(ext(l)), None))
      case LessThanOrEqual(l: Literal, a: AttributeReference)
        if statCols(a.name) => Seq((a.name, Some(ext(l)), None))
      case EqualTo(l: Literal, a: AttributeReference)
        if statCols(a.name) => Seq((a.name, Some(ext(l)), Some(ext(l))))
      case _ => Nil
    }
    perCol.groupBy(_._1).map { case (c, bs) =>
      // tightest window: filesForRange keeps files overlapping [lo, hi],
      // so max(lo) / min(hi) narrows correctly for ANDed conjuncts.
      // Values share the column's type; compare through their encoded
      // form is unnecessary here — multiple bounds on one column are
      // rare, so just fold pairwise keeping the later one when unsure.
      val los = bs.flatMap(_._2)
      val his = bs.flatMap(_._3)
      c -> (los.lastOption, his.lastOption)
    }
  }

  /** Equality on a STRING partition column prunes whole partition
    * listings (exact rendered-value match against the `col=value` key
    * segments; other types render ambiguously, so they are left to the
    * row-group stats).
    */
  private def partitionPrune(conjuncts: Seq[Expression]): Seq[String] = {
    val stringParts = m.partitionCols.filter(c =>
      m.schema.fields.exists(f => f.name == c && f.dataType == StringType))
      .toSet
    val eqs: Map[String, String] = conjuncts.collect {
      case EqualTo(a: AttributeReference, Literal(v, StringType))
        if stringParts(a.name) && v != null =>
        a.name -> v.toString
      case EqualTo(Literal(v, StringType), a: AttributeReference)
        if stringParts(a.name) && v != null =>
        a.name -> v.toString
    }.toMap
    if (eqs.isEmpty) return initialFiles
    val keep = m.partitions.filter { case (key, _) =>
      val segs = key.split('/').map { s =>
        val i = s.indexOf('=')
        s.substring(0, i) -> s.substring(i + 1)
      }.toMap
      eqs.forall { case (c, v) => segs.get(c).forall(_ == v) }
    }.values.flatten.toSet
    initialFiles.filter(keep)
  }
}
