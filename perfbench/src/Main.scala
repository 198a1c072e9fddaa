package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Closed-loop lake benchmark, one client: the main thread sends a batch,
  * waits for its commit, runs the round's reads, then sends the next.
  *
  * Usage (run.py passes these):
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --out <file> --cores <n>
  *
  * Writes one raw JSON file; run.py turns it into the reported metrics.
  */
object Main {
  /** Untimed rounds after set-up: the first round of a JVM runs 1.5-2x
    * slower than the next (class loading, JIT, codegen).
    */
  val WarmUpRounds = 1
  /** Timed rounds even when one round outlasts --seconds. */
  val MinRounds = 1
  /** Final builds per run; the median is reported (the first is cold). */
  val FinalBuildReps = 5

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a("cores").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse",
        work.resolve("lake").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, seed, work, cores)
    val wl: Workload = workload match {
      case "cdc_ingest" => new CdcIngest(ctx)
      case "train_data" => new TrainData(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    var t0 = System.nanoTime()
    wl.generate()
    val genS = ctx.secs(t0)

    // the lake sits at the graft catalog's warehouse path
    t0 = System.nanoTime()
    wl.setUp(work.resolve("lake").toString)
    val lakeS = ctx.secs(t0)
    t0 = System.nanoTime()
    (1 to WarmUpRounds).foreach(k => wl.round(-k))
    val warmS = ctx.secs(t0)

    val rounds = scala.collection.mutable.ArrayBuffer.empty[RoundRec]
    var listing = Fs.listing(wl.lakeRoots)
    val timedStart = System.nanoTime()
    var i = 0
    while (i + WarmUpRounds < wl.maxRounds &&
        (i < MinRounds || ctx.secs(timedStart) < seconds)) {
      val rec = new RoundRec(i, traced)
      ctx.rec = rec
      tracer.round = i
      tracer.enabled = traced
      val heads = if (traced) Stats.heads(spark, wl.tablePaths) else Nil
      val r0 = System.nanoTime()
      tracer.span("round") { wl.round(i) }
      rec.wallS = ctx.secs(r0)
      tracer.enabled = false
      // outside the round's wall time: table counters of every round of a
      // traced run, and the bytes the round left under the lake
      if (traced) Stats.round(ctx, wl.tablePaths, heads)
      val after = Fs.listing(wl.lakeRoots)
      rec.bytesWritten = Fs.newBytes(listing, after)
      listing = after
      rounds += rec
      i += 1
    }
    val timedWallS = ctx.secs(timedStart)

    val finalS = (1 to FinalBuildReps).map { _ =>
      t0 = System.nanoTime()
      wl.finalBuild()
      ctx.secs(t0)
    }
    // checks and the space measurement are independent reads: run them
    // concurrently; a check that throws counts as failed
    t0 = System.nanoTime()
    val spaceF = Future(wl.space(work.resolve("space").toString))
    val checks = Await.result(Future.traverse(wl.checks()) { chk =>
      Future(Try(chk()).recover { case e =>
        ("check_threw", false, s"${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400))
      }.get)
    }, Duration.Inf)
    val (dirBytes, liveBytes) = Await.result(spaceF, Duration.Inf)
    val postS = ctx.secs(t0)
    tracer.drain()

    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    val hwmMb = status.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)

    val out = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cores" -> cores, "master" -> s"local[$cores]",
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS,
        "lake_s" -> lakeS, "warmup_s" -> warmS),
      "timed_wall_s" -> timedWallS,
      "rounds" -> rounds.map(_.toJson),
      "final_build_s" -> finalS,
      "post_s" -> postS,
      "checks" -> checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "space" -> Map("dir_bytes" -> dirBytes, "live_bytes" -> liveBytes),
      "jvm" -> Map("gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb,
        "vm_hwm_mb" -> hwmMb),
      "extra" -> wl.extra,
      "spans" -> tracer.spansJson,
      "jobs" -> tracer.jobsJson)
    Files.write(Paths.get(a("out")),
      Json.render(out).getBytes(StandardCharsets.UTF_8))
    // Spark's shutdown hook stops the context
    sys.exit(0)
  }
}
