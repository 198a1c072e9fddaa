package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{
  DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable,
  Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{broadcast, col}

import graft.table.{CowTable, ManifestListing}

/** Read-path rewrite for tables with DELETION VECTORS (install via
  * [[graft.functions.GraftExtensions]]): a graft relation whose served
  * listing contains DV'd files is split into
  *
  *   [graft scan over the files WITHOUT a vector]        (dvMode=clean)
  *     UNION ALL
  *   [parquet scan of the DV'd files
  *      LEFT ANTI JOIN positions on (_metadata.file_path, row_index)]
  *
  * so SQL text and `spark.read.format("graft")` stay EXACT while only
  * the vector-carrying files pay the positional anti-join — the clean
  * branch keeps the full manifest-driven file-skipping machinery
  * (version pinned, so the two branches read one snapshot). Catalyst
  * pushes filters and column pruning into both branches through the
  * union. Without the rule installed, [[GraftWritableTable]] refuses to
  * build a scan over a DV'd listing (loud beats silently wrong).
  *
  * DML statements keep their target relation untouched (the mutation
  * rule [[GraftSqlRule]] owns it — mutations read current state through
  * the table API, which applies vectors itself); their read-side
  * subtrees (INSERT source, MERGE source) are rewritten like any query.
  */
class GraftDvReadRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    // DML: never touch the mutation target; rewrite the read sides
    case i: InsertIntoStatement => i.copy(query = rewrite(i.query))
    case m: MergeIntoTable => m.copy(sourceTable = rewrite(m.sourceTable))
    case _: UpdateTable | _: DeleteFromTable => plan
    case r: DataSourceV2Relation
        if r.table.isInstanceOf[GraftWritableTable] &&
          r.table.asInstanceOf[GraftWritableTable].graftDvFiles.nonEmpty =>
      dvApply(r, r.table.asInstanceOf[GraftWritableTable])
    case other => other.mapChildren(rewrite)
  }

  private def dvApply(
      r: DataSourceV2Relation, t: GraftWritableTable): LogicalPlan = {
    val m = t.graftScanManifest.get
    val base = t.graftBasePath
    val dvd = t.graftDvFiles
    // clean branch: the SAME graft relation minus the DV'd files, version
    // pinned to this relation's snapshot (manifest file skipping intact)
    val opts = t.graftOptions.asScala.toMap ++
      Map("dvMode" -> "clean", "versionAsOf" -> m.version.toString) -
      "path"
    val clean = session.read.format("graft").options(opts).load(base)
    // DV'd branch: positional anti-join against the sidecars
    val names = r.output.map(_.name)
    val fileC = CowTable.DvFileCol
    val posC = CowTable.DvPosCol
    // both sides join in CowTable.dvScanId/readDvPositions' absolute
    // path space so a relocated or cloned table keeps matching its
    // sidecars
    val withMeta = ManifestListing.read(session, m.schema,
        dvd.map(f => CowTable.resolveFile(base, f)))
      .select(names.map(col) :+
        CowTable.dvScanId(col("_metadata.file_path")).as(fileC) :+
        col("_metadata.row_index").as(posC): _*)
    val refs = dvd.flatMap(f => m.dvs(f).files).distinct
    val dv0 = CowTable.readDvPositions(session, base, refs)
    val dv = if (CowTable.dvBroadcastable(m, dvd)) broadcast(dv0) else dv0
    val applied = withMeta.join(dv,
      withMeta(fileC) === dv(fileC) && withMeta(posC) === dv(posC),
      "left_anti").select(names.map(col): _*)
    val union = clean.select(names.map(col): _*).unionByName(applied)
      .queryExecution.analyzed
    // re-key the union's output to the original relation's attribute ids
    // so everything above the relation resolves unchanged
    Project(r.output.zip(union.output).map { case (to, from) =>
      Alias(from, to.name)(exprId = to.exprId, qualifier = to.qualifier)
    }, union)
  }
}
