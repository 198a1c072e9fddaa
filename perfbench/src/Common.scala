package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Minimal JSON rendering for the raw result file (maps, seqs, numbers,
  * strings, booleans, null).
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** What one timed round handed to the engine and how long each step took.
  * `counts` holds the round's deterministic counters (commit metrics read
  * back through `history()`, rows, bytes) for the repeat check.
  */
final class RoundRec(val id: Int, val traced: Boolean) {
  var wallS = 0.0
  val commitS = mutable.ArrayBuffer.empty[Double]
  val freshS = mutable.ArrayBuffer.empty[Double]
  val readS = mutable.ArrayBuffer.empty[Double]
  var rowsIn = 0L
  var inputBytes = 0L
  var bytesWritten = 0L
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v

  def toJson: Map[String, Any] = Map(
    "id" -> id, "traced" -> traced, "wall_s" -> wallS,
    "commit_s" -> commitS.toSeq, "fresh_s" -> freshS.toSeq,
    "read_s" -> readS.toSeq, "rows_in" -> rowsIn,
    "input_bytes" -> inputBytes, "bytes_written" -> bytesWritten,
    "attempted" -> attempted, "failed" -> failed,
    "errors" -> errors.toSeq, "counts" -> counts)
}

/** Helpers shared by the workloads. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val seed: Long, val workDir: Path, val cores: Int) {

  /** Current round record; set by Main's round loop. */
  var rec: RoundRec = new RoundRec(-1, false)

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run one engine operation: counted as attempted, a throw counts as a
    * failure (the round goes on; the final checks will see the damage).
    */
  def op[T](name: String)(body: => T): Option[T] = {
    rec.attempted += 1
    try Some(tracer.span(name)(body))
    catch {
      case e: Throwable =>
        rec.failed += 1
        rec.errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        None
    }
  }

  /** Timed read: latency sample in `readS`. */
  def read[T](name: String)(body: => T): Option[T] = {
    val t0 = now()
    val r = op(name)(body)
    rec.readS += secs(t0)
    r
  }

  val draw = new Draw(seed)

  def dir(parts: String*): String =
    parts.foldLeft(workDir)((p, s) => p.resolve(s)).toString

  /** Write generated rows once as parquet, so the engine receives
    * parquet-backed input and no generator work runs inside a timed call.
    * With `partitionBy`, rows arrive grouped by it (generation order), so
    * each value lands in one or two files.
    */
  def writeRows(rows: Seq[Row], schema: StructType, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = spark.createDataFrame(rows.asJava, schema).write.mode("overwrite")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(path)
  }
}

/** Seeded, stateless draws: the same seed, salt and keys always give the
  * same value (SplitMix64 finalizer over the inputs).
  */
final class Draw(seed: Long) {
  private def fmix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  def mix(salt: Int, xs: Long*): Long =
    xs.foldLeft(fmix(seed * 0x9e3779b97f4a7c15L + salt))((h, x) =>
      fmix(h ^ (x + 0x9e3779b97f4a7c15L)))
  /** Uniform integer in [0, m). */
  def u(salt: Int, m: Long, xs: Long*): Long = java.lang.Math.floorMod(mix(salt, xs: _*), m)
  /** Uniform double in [0, 1). */
  def d(salt: Int, xs: Long*): Double = (mix(salt, xs: _*) >>> 11) / 9007199254740992.0
}

object Fs {
  private def files(root: String): Iterator[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Iterator.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList.iterator
      finally s.close()
    }
  }

  /** Bytes under a directory tree. */
  def dirBytes(root: String): Long = files(root).map(Files.size).sum

  /** (path -> size) for every file under the trees; a file is identified
    * by path and size, so a rewritten file counts again.
    */
  def listing(roots: Seq[String]): Map[String, Long] =
    roots.iterator.flatMap(r => files(r).map(f => f.toString -> Files.size(f)))
      .toMap

  /** Bytes of files present in `after` but not in `before`. */
  def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.collect {
      case (f, n) if !before.get(f).contains(n) => n
    }.sum

  /** Bytes of the parquet files of a materialized input. */
  def parquetBytes(root: String): Long =
    files(root).filter(_.toString.endsWith(".parquet")).map(Files.size).sum

  def rm(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(x => Files.delete(x))
      finally s.close()
    }
  }
}

/** One benchmark workload. Main calls `generate`, `setUp`, `round` for
  * the warm-up and then until the timed phase ends, then `finalBuild`,
  * `checks` and `space`.
  */
trait Workload {
  /** Build every input from the seed; returns generated input bytes. */
  def generate(): Unit
  /** Create the lake (tables, views, indexes) under `lakeDir`. */
  def setUp(lakeDir: String): Unit
  /** Rounds (warm-up included) the generated inputs allow. */
  def maxRounds: Int
  /** One closed-loop round: send the next batch, wait for it, run the
    * reads. `i` counts timed rounds from 0; warm-up rounds are negative.
    */
  def round(i: Int): Unit
  /** Directories the engine writes into (for bytes written). */
  def lakeRoots: Seq[String]
  /** Base paths of the workload's tables (for per-round table counters). */
  def tablePaths: Seq[String]
  /** The one lake-wide build after the timed phase. */
  def finalBuild(): Unit
  /** Correctness checks, each yielding (name, ok, detail); Main runs
    * them concurrently.
    */
  def checks(): Seq[() => (String, Boolean, String)]
  /** (table dir bytes, bytes of the live rows written once as plain
    * parquet) for space amplification.
    */
  def space(scratch: String): (Long, Long)
  /** Workload-specific figures for the report. */
  def extra: Map[String, Any] = Map.empty
}
