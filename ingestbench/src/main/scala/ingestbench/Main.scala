package ingestbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession

/** Ingest-path benchmark: seeded micro-batches through the public engine
  * and sink APIs, checked against an independent oracle. See README.md.
  *
  * {{{
  *   ingestbench.Main --workload upsert_small --seed 1 --seconds 12 --trace 0
  *     [--cores N] [--work DIR] [--details FILE]
  *   ingestbench.Main --selfcheck [--work DIR]
  * }}}
  *
  * The last stdout line is the result JSON; everything before it is the
  * human-readable report. Any oracle mismatch, guard failure or program
  * error exits 1 without a result line; a set `Guarded` variable exits 3. */
object Main {

  /** Environment variables that silently change the measured program. */
  val Guarded: Seq[String] =
    Seq("GRAFT_STREAM_RATE", "GRAFT_PLAN_DIR", "GRAFT_STATE_STORE", "GRAFT_EXTRA_JAVA_OPTS")

  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 12.0,
      trace: Boolean = false,
      cores: Int = Runtime.getRuntime.availableProcessors(),
      work: String = ".bench_build/ingestbench/work",
      details: Option[String] = None,
      selfcheck: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, a.copy(cores = v.toInt))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--details" :: v :: t => parse(t, a.copy(details = Some(v)))
    case "--selfcheck" :: t => parse(t, a.copy(selfcheck = true))
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder("ingestbench", cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv.toList))
      catch {
        case e: Throwable =>
          Console.err.println(s"[ingestbench] FAILED: $e")
          e.printStackTrace()
          1
      }
    Console.out.flush()
    System.exit(code)
  }

  def run(a: Args): Int = {
    val set = Guarded.filter(sys.env.contains)
    if (set.nonEmpty) {
      Console.err.println(s"[ingestbench] refusing to run: ${set.mkString(", ")} set " +
        "(each changes the measured program); unset and retry")
      return 3
    }
    val work = new File(a.work, s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    Workloads.deleteTree(work)
    work.mkdirs()
    val spark = session(a.cores, work.getPath)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    try {
      if (a.selfcheck) SelfCheck.run(spark, work.getPath)
      else {
        val spec = Spec.byName(a.workload)
        val rec = new Recorder(spark.sparkContext, a.trace)
        val listener = if (a.trace) Some(new JobListener) else None
        listener.foreach(spark.sparkContext.addSparkListener)
        val ctx = new Ctx(spark, a.cores, work.getPath, a.seed, rec, listener, spec, a.seconds)
        val (setups, seg) = Workloads.run(ctx)
        Report.emit(ctx, a, setups, seg, sessionS)
      }
      0
    } finally {
      spark.stop()
      Workloads.deleteTree(work)
    }
  }
}

/** End-to-end metrics, the traced per-layer breakdown and the output. */
object Report {
  /** Gated by BENCHMARK.json: defined on every workload and never 0. */
  val Gated: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "batch_p50_ms" -> "ms",
    "upsert_p50_ms" -> "ms", "stored_bytes_per_row" -> "B/row", "heap_peak_mb" -> "MB")

  def env(spark: SparkSession, a: Main.Args): Map[String, Any] = Map(
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "cores" -> a.cores,
    "master" -> spark.sparkContext.master,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576L,
    "seed" -> a.seed,
    "seconds" -> a.seconds,
    "trace" -> a.trace)

  def endToEnd(setups: Seq[Double], seg: Segment): (Map[String, Double], Seq[(String, String, String)]) = {
    val batch = seg.batchMs
    val ups = seg.upsertMs
    val ops = seg.opMs
    val m = Map(
      "setup_s" -> Stats.p50(setups),
      "rows_per_s" -> seg.rows / seg.windowS,
      "batch_p50_ms" -> Stats.p50(batch),
      "upsert_p50_ms" -> Stats.p50(ups),
      "stored_bytes_per_row" -> seg.storedBytes.toDouble / math.max(1L, seg.liveRows),
      "heap_peak_mb" -> seg.heapPeakMb)
    val attempted = seg.ops
    def tail(xs: Seq[Double]) = Stats.tail(xs) match {
      case Some((q, v)) => (f"$v%.3f", f"ms (p$q%.0f of ${xs.size})")
      case None => ("n/a", s"ms (${xs.size} samples: none with 10 beyond above p50)")
    }
    def p50(name: String) = ops.get(name).filter(_.nonEmpty) match {
      case Some(xs) => (f"${Stats.p50(xs)}%.3f", s"ms (p50 of ${xs.size})")
      case None => ("n/a", "ms (not on this workload)")
    }
    val info = Seq(
      ("setup_s", f"${m("setup_s")}%.3f", s"s (median of ${setups.size} set-ups)"),
      ("rows_per_s", f"${m("rows_per_s")}%.1f", f"rows/s (${seg.rows} rows in ${seg.windowS}%.2f s)"),
      ("batch_p50_ms", f"${m("batch_p50_ms")}%.3f", s"ms (p50 of ${batch.size})"),
      { val (v, u) = tail(batch); ("batch_tail_ms", v, u) },
      ("upsert_p50_ms", f"${m("upsert_p50_ms")}%.3f", s"ms (p50 of ${ups.size} mergeUpsert calls)"),
      { val (v, u) = p50("soft_delete"); ("soft_delete_p50_ms", v, u) },
      { val (v, u) = p50("dv_delete"); ("dv_delete_p50_ms", v, u) },
      { val (v, u) = p50("lookup"); ("lookup_p50_ms", v, u) },
      { val (v, u) = ops.get("lookup").map(tail).getOrElse(("n/a", "ms (not on this workload)")); ("lookup_tail_ms", v, u) },
      { val (v, u) = p50("changes"); ("changes_p50_ms", v, u) },
      ("stored_bytes_per_row", f"${m("stored_bytes_per_row")}%.1f", "B/row (at the end of the window)"),
      ("heap_peak_mb", f"${m("heap_peak_mb")}%.1f",
        s"MB (highest heap in use after a collection; ${seg.heapGcs} collections in the window)"),
      ("heap_retained_mb", f"${seg.heapRetainedMb}%.1f", "MB (after a full GC at the end of the window)"),
      ("failed_ratio", f"${0.0 / attempted}%.3f", s"ratio (0 failed of $attempted attempted; any failure aborts the run)"))
    (m, info)
  }

  def emit(ctx: Ctx, a: Main.Args, setups: Seq[Double], seg: Segment,
      sessionS: Double): Unit = {
    val (e2e, info) = endToEnd(setups, seg)
    val spec = ctx.spec
    val envm = env(ctx.spark, a)
    println(s"ingestbench ${spec.name}: seed ${a.seed}, ${a.cores} cores, " +
      s"spark ${ctx.spark.version}, heap max ${envm("heap_max_mb")} MB, " +
      s"closed loop, one writer, ${setups.size} set-ups, ${a.seconds} s measured" +
      (if (a.trace) ", TRACED" else ""))
    info.foreach { case (n, v, u) => println(f"  $n%-22s $v%14s $u") }
    println(f"  ${"session_start_s"}%-22s ${sessionS}%14.3f s (informational)")
    val attempted = seg.ops
    val (metrics, extra) =
      if (!a.trace) (Report.Gated.map { case (n, u) => n -> Map("value" -> e2e(n), "unit" -> u) }.toMap,
        Map.empty[String, Any])
      else {
        val t = Analysis.perLayer(ctx, seg)
        println("  per-layer (traced):")
        t.metrics.foreach { case (n, (v, u)) => println(f"    $n%-48s $v%14.4f $u") }
        (ListMap(t.metrics.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }: _*),
          Map("shares" -> t.shares, "callsites" -> t.callsites, "spans" -> t.spans,
            "attribution" -> t.attribution))
      }
    a.details.foreach { path =>
      val f = new File(path)
      Option(f.getParentFile).foreach(_.mkdirs())
      val doc = Map(
        "workload" -> spec.name,
        "spec" -> spec.toString,
        "env" -> envm,
        "session_start_s" -> sessionS,
        "end_to_end" -> e2e,
        "end_to_end_report" -> info.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
        "setups_s" -> setups,
        "window" -> Map("window_s" -> seg.windowS, "rows" -> seg.rows, "ops" -> seg.ops,
          "exhausted" -> seg.exhausted, "heap_gcs" -> seg.heapGcs, "batch_ms" -> seg.batchMs, "upsert_ms" -> seg.upsertMs,
          "op_ms" -> seg.opMs),
        "metrics" -> metrics) ++ extra
      java.nio.file.Files.writeString(f.toPath, Json.write(doc))
    }
    println("IB_RESULT " + Json.write(Map(
      "correct" -> true, "attempted" -> attempted, "failed" -> 0, "metrics" -> metrics)))
  }
}
