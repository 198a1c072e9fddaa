package graft.util

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}

import graft.table.ManifestListing

/** Scan-parallelism floor for compute-heavy operators (optimization guide
  * §2.6 stragglers / §6 input split size).
  *
  * Spark assigns a parquet ROW GROUP to exactly one scan task, so a scan
  * whose input is a handful of single-row-group files cannot exceed a
  * handful of tasks no matter what `spark.sql.files.maxPartitionBytes` /
  * `minPartitionNum` say — and any heavy per-row compute chained onto that
  * scan (codec decode, levenshtein verification, regex canonicalization,
  * shingling) serializes onto those few cores while the rest of the
  * executor idles. The local test corpus is exactly this shape (every base
  * table is one single-row-group file); a production 100 TB table is the
  * opposite shape (thousands of row groups arrive pre-parallelized).
  *
  * [[ScanPar.apply]] therefore redistributes by a caller-chosen key to
  * `defaultParallelism` ONLY when the plan's file inputs provably cannot
  * split to the session's core count: fewer input files than cores AND
  * fewer potential byte-range splits (Σ ceil(len/maxPartitionBytes)) than
  * cores. At production input sizes the check short-circuits on the file
  * count alone and the operator plan is unchanged — the added exchange
  * exists precisely when the scan cannot parallelize itself. Callers keep
  * the shuffle payload minimal by applying this to the narrowest
  * projection available (ids before payload synthesis, text before
  * explode), per guide §8: move the lightweight proxy, not the payload.
  *
  * Results are unchanged: hash redistribution is deterministic in the key
  * (safe under task retry) and every caller is row-wise or key-grouped
  * downstream.
  */
object ScanPar {
  /** A silently-disabled floor is undiagnosable (r13 ADVICE): when the
    * gate skips on an exception, say so once per site at debug level.
    */
  private def skipped(where: String, e: Throwable): Unit =
    if (sys.env.contains("GRAFT_TRACE_MERGE"))
      System.err.println(
        s"[scanpar] gate skipped ($where): ${e.getClass.getSimpleName}")

  def apply(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    if (cores <= 1) return df
    val files =
      try df.inputFiles
      catch { case NonFatal(e) => skipped("inputFiles", e); return df }
    if (files.isEmpty || files.length >= cores) return df
    val maxSplit =
      try spark.sessionState.conf.filesMaxPartitionBytes
      catch { case NonFatal(_) => 128L * 1024 * 1024 }
    // The gate runs at query CONSTRUCTION time, so repeated construction
    // of the same operator (bench reps, shared operator helpers) would
    // otherwise stat every input file each time: lengths come from the
    // table layer's status cache, and a miss is stat-ed once and cached.
    val splits =
      try {
        val conf = spark.sparkContext.hadoopConfiguration
        files.iterator.map { f =>
          val p = new Path(f)
          val len =
            ManifestListing.StatusCache.length(p.getFileSystem(conf), p)
          math.max(1L, (len + maxSplit - 1) / maxSplit)
        }.sum
      } catch { case NonFatal(e) => skipped("fileStatus", e); return df }
    if (splits >= cores) df
    else if (keys.nonEmpty) df.repartition(cores, keys: _*)
    else df.repartition(cores)
  }
}
