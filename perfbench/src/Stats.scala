package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase

import graft.table.CowTable

/** Files and bytes an executed query scanned, read off its physical plan
  * (both v1 file scans and the graft DSv2 scans).
  */
object Scans extends AdaptiveSparkPlanHelper {
  def files(df: DataFrame): (Long, Long) = {
    val per = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec =>
        val m = s.metrics
        (m.get("numFiles").map(_.value).getOrElse(0L),
          m.get("filesSize").map(_.value).getOrElse(0L))
      case s: DataSourceV2ScanExecBase =>
        val fs: Seq[PartitionedFile] = s.partitions.flatten.flatMap {
          case p: FilePartition => p.files.toSeq
          case p: graft.sources.GraftBucketPartition => p.files.toSeq
          case _ => Nil
        }
        (fs.size.toLong, fs.map(_.length).sum)
    }
    (per.map(_._1).sum, per.map(_._2).sum)
  }

  /** Count one SQL read and what it scanned into the current round. */
  def record(c: Ctx, df: DataFrame): Unit = {
    val (nf, nb) = files(df)
    c.rec.add("sources.reads", 1)
    c.rec.add("sources.files_scanned", nf.toDouble)
    c.rec.add("sources.bytes_scanned", nb.toDouble)
  }
}

/** Multiset equality of two frames: one aggregate per side (row count and
  * two sums of row hashes); only a mismatch pays for the row-level diff.
  */
object Diff {
  import org.apache.spark.sql.functions._

  private def digest(df: DataFrame): (Long, Long, Long) = {
    val cols = df.columns.toSeq.map(col)
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(cols: _*), lit(1000000007L))),
      sum(hash(cols: _*).cast("long"))).head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def check(name: String, got0: DataFrame, want: DataFrame)
      : (String, Boolean, String) = {
    // align column order and types on the expected side
    val got = got0.select(want.schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val (gd, wd) = (digest(got), digest(want))
    if (gd == wd) (name, true, s"rows=${gd._1}")
    else {
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      (name, false, s"rows=${gd._1} want=${wd._1} extra=$extra missing=$missing")
    }
  }
}

/** Table-layer counters read from outside the engine: commit metrics via
  * `history()`, live layout from the head manifest, manifest sizes from
  * the file system.
  */
object Stats {
  private val Summed = Seq("files_candidate", "files_kept", "files_added",
    "units_rewritten", "rebased_over")

  /** Head version of each table (0 when it does not exist yet). */
  def heads(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): Seq[Long] = paths.map { p =>
    if (CowTable.existsAt(spark, p))
      CowTable.open(spark, p).latestVersion.getOrElse(0L)
    else 0L
  }

  /** Commit metrics and live layout of every table after a round. */
  def round(c: Ctx, paths: Seq[String], heads: Seq[Long]): Unit =
    paths.zip(heads).foreach { case (p, v0) =>
      if (CowTable.existsAt(c.spark, p)) {
        val t = CowTable.open(c.spark, p)
        commits(c, t, v0)
        layout(c, t)
      }
    }

  /** Add the metrics of every commit after version `v0` to the round. */
  def commits(c: Ctx, t: CowTable, v0: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val rows = t.history().filter(col("version") > v0)
      .select("version", "operation", "metrics").collect()
    rows.foreach { r =>
      val m = r.getMap[String, Long](2)
      c.rec.add("table.commits", 1)
      c.rec.add(s"commits:${new java.io.File(t.basePath).getName}", 1)
      if (r.getString(1).contains("compact"))
        c.rec.add("table.compactions", 1)
      Summed.foreach(k => m.get(k).foreach(v => c.rec.add(s"table.$k", v.toDouble)))
      val mf = new java.io.File(s"${t.basePath}/_commits/v${r.getLong(0)}.json")
      if (mf.exists) c.rec.add("table.manifest_bytes", mf.length.toDouble)
    }
  }

  /** Live files, log files and directory bytes at the head. */
  def layout(c: Ctx, t: CowTable): Unit = {
    val m = t.manifest
    c.rec.add("table.live_files", m.files.size.toDouble)
    c.rec.add("table.log_files_live", (m.files.size - m.baseFiles.size).toDouble)
    c.rec.add("table.dir_bytes", Fs.dirBytes(t.basePath).toDouble)
  }
}
