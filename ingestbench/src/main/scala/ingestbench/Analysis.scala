package ingestbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from spans and counts recorded at
  * the layer boundaries: StreamingQueryProgress for `engine`, the
  * MergeSink timing decorator for the sink call, the span-scoped
  * SparkListener for jobs, tasks and bytes, and directory listings for
  * files and buckets. `ops.Dedup` and `sink.Merge` are planned into the
  * same jobs as the ParquetTarget write, so from outside they show only as
  * the sink call's task CPU and shuffle bytes. */
object Analysis {

  final case class Traced(
      metrics: Seq[(String, (Double, String))],
      shares: Map[String, Double],
      callsites: Seq[Map[String, Any]],
      spans: Seq[Map[String, Any]],
      attribution: Map[String, Any])

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0.0)
  }

  def perLayer(ctx: Ctx, seg: Segment): Traced = {
    val listener = ctx.listener.get
    listener.drain(ctx.spark.sparkContext)
    val (jobs, stages, executions) = listener.snapshot()
    require(listener.jobStarts == jobs.size && listener.jobEnds == jobs.size,
      s"listener saw ${listener.jobStarts} job starts, ${listener.jobEnds} ends, ${jobs.size} jobs")
    val jobsBySpan = jobs.groupBy(_.span.getOrElse(""))
    val spec = ctx.spec

    final case class CallStats(c: SinkCall, jobs: Seq[JobRec], stages: Seq[StageAgg],
        driverMs: Double)
    def statsOf(c: SinkCall): CallStats = {
      val js = jobsBySpan.getOrElse(c.span, Nil)
      val st = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
      val busy = unionMs(js.map(j => (math.max(j.submitMs.toDouble, c.startMs),
        math.min(j.endMs.toDouble, c.endMs))).filter { case (s, e) => e > s })
      CallStats(c, js, st, math.max(0.0, c.ms - busy))
    }
    val calls = seg.calls.map(statsOf)
    val nCalls = math.max(1, calls.size).toDouble
    def perCall(f: CallStats => Double) = calls.map(f).sum / nCalls
    val inputRows = seg.rows.toDouble

    // engine: StreamingQueryProgress of the timed batches
    val batches = seg.progress.map { p =>
      (p, seg.calls.filter(_.batchId == p.batchId).map(_.ms).sum)
    }
    def eng(k: String) = Stats.median(batches.map(b => Workloads.dur(b._1, k)))
    val triggerTotal = batches.map(b => Workloads.dur(b._1, "triggerExecution")).sum
    val cycleTotal = seg.opSpans.filter(_.name == "cycle").map(_.ms).sum
    val selfTotal = batches.map(b => Workloads.dur(b._1, "triggerExecution") - b._2).sum

    // ParquetTarget: output metrics of the sink calls and delta listings
    val parquet = spec.kind != "jdbc"
    val pCalls = if (parquet) calls else Nil
    val commits = ctx.commits.toMap
    val deltas = pCalls.flatMap(c => commits.get(c.c.span))
    val rowsWritten = pCalls.map(_.stages.map(_.outRecords).sum).sum.toDouble
    val changed = seg.changedKeys.toDouble
    def opSpansNamed(n: String) = seg.opSpans.filter(_.name == s"op.$n")
    def rowsReadIn(n: String) = opSpansNamed(n).map(s =>
      jobsBySpan.getOrElse(s.id, Nil).flatMap(_.stageIds).distinct.flatMap(stages.get)
        .map(_.inRecords).sum).sum.toDouble
    def opRows(n: String) = seg.opRows.getOrElse(n, 0L).toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def opMs(n: String) = Stats.median(seg.opMs.getOrElse(n, Nil))

    // JdbcSink: the foreachPartition stage of each call
    val jCalls = if (parquet) Nil else calls
    val jStages = jCalls.flatMap { cs =>
      cs.jobs.filter(_.callSite.startsWith("foreachPartition"))
        .flatMap(j => j.stageIds.filter(stages.contains).maxOption.map(stages))
    }
    val jTaskMs = jStages.flatMap(_.taskMs).map(_.toDouble)

    val metrics = Seq(
      "engine.trigger_ms" -> (eng("triggerExecution"), "ms"),
      "engine.self_ms" -> (Stats.median(batches.map(b => Workloads.dur(b._1, "triggerExecution") - b._2)), "ms"),
      "engine.wal_commit_ms" -> (eng("walCommit"), "ms"),
      "engine.latest_offset_ms" -> (eng("latestOffset"), "ms"),
      "engine.query_planning_ms" -> (eng("queryPlanning"), "ms"),
      "engine.fanout_ms" -> (Stats.median(batches.map(b => Workloads.dur(b._1, "addBatch") - b._2)), "ms"),
      "engine.batches" -> (batches.size.toDouble, "count"),
      "engine.input_rows" -> (batches.map(_._1.numInputRows).sum.toDouble, "rows"),
      "engine.self_share" -> (ratio(selfTotal, triggerTotal), "ratio"),
      "sink.call_ms" -> (Stats.median(calls.map(_.c.ms)), "ms"),
      "sink.jobs" -> (perCall(_.jobs.size), "count"),
      "sink.stages" -> (perCall(_.stages.size), "count"),
      "sink.tasks" -> (perCall(_.stages.map(_.tasks).sum), "count"),
      "sink.driver_ms" -> (Stats.median(calls.map(_.driverMs)), "ms"),
      "sink.driver_share" -> (ratio(calls.map(_.driverMs).sum, calls.map(_.c.ms).sum), "ratio"),
      "sink.task_cpu_ms" -> (perCall(_.stages.map(_.cpuNs).sum / 1e6), "ms"),
      "sink.shuffle_bytes" -> (perCall(_.stages.map(_.shuffleWrite).sum.toDouble), "B"),
      "ParquetTarget.rows_written_per_input_row" -> (ratio(rowsWritten, inputRows), "ratio"),
      "ParquetTarget.bytes_written" -> (ratio(pCalls.map(_.stages.map(_.outBytes).sum).sum.toDouble, pCalls.size), "B"),
      "ParquetTarget.buckets_rewritten" -> (ratio(deltas.map(_.buckets).sum, deltas.size), "count"),
      "ParquetTarget.buckets_rewritten_share" -> (ratio(deltas.map(_.buckets).sum, deltas.size.toDouble * spec.buckets), "ratio"),
      "ParquetTarget.files_per_commit" -> (ratio(deltas.map(_.files).sum, deltas.size), "count"),
      "ParquetTarget.useful_write_ratio" -> (ratio(changed, rowsWritten), "ratio"),
      "ParquetTarget.soft_delete_ms" -> (opMs("soft_delete"), "ms"),
      "ParquetTarget.dv_delete_ms" -> (opMs("dv_delete"), "ms"),
      "ParquetTarget.lookup_ms" -> (opMs("lookup"), "ms"),
      "ParquetTarget.lookup_rows_read_per_row_returned" -> (ratio(rowsReadIn("lookup"), opRows("lookup")), "ratio"),
      "ParquetTarget.changes_ms" -> (opMs("changes"), "ms"),
      "ParquetTarget.changes_rows_read_per_row_returned" -> (ratio(rowsReadIn("changes"), opRows("changes")), "ratio"),
      "ParquetTarget.table_bytes" -> (if (parquet) seg.storedBytes.toDouble else 0.0, "B"),
      "ParquetTarget.files_live" -> (seg.files.toDouble, "count"),
      "JdbcSink.call_ms" -> (Stats.median(jCalls.map(_.c.ms)), "ms"),
      "JdbcSink.connections" -> (connections(jStages), "count"),
      "JdbcSink.task_ms_max" -> (Stats.median(jStages.filter(_.taskMs.nonEmpty).map(_.taskMs.max.toDouble)), "ms"),
      "JdbcSink.task_ms_median" -> (Stats.median(jTaskMs), "ms"),
      "ops.dedup_ratio" -> (ratio(seg.distinctKeys.toDouble, inputRows), "ratio"),
      "jvm.gc_ms" -> (seg.gcMs.toDouble, "ms"))

    // every layer's share of the blocking path (trigger or cdc cycle)
    val pathMs = if (batches.nonEmpty) triggerTotal else cycleTotal
    val shares = mutable.LinkedHashMap.empty[String, Double]
    if (batches.nonEmpty) {
      shares("engine (trigger - sink calls)") = ratio(selfTotal, pathMs)
      shares("engine.wal_commit") = ratio(batches.map(b => Workloads.dur(b._1, "walCommit")).sum, pathMs)
      shares("engine.latest_offset") = ratio(batches.map(b => Workloads.dur(b._1, "latestOffset")).sum, pathMs)
      shares("engine.query_planning") = ratio(batches.map(b => Workloads.dur(b._1, "queryPlanning")).sum, pathMs)
    }
    shares("sink call: Spark jobs running") = ratio(calls.map(c => c.c.ms - c.driverMs).sum, pathMs)
    shares("sink call: driver only, no job running") = ratio(calls.map(_.driverMs).sum, pathMs)
    seg.opSpans.filter(_.name.startsWith("op.")).groupBy(_.name).foreach {
      case (n, ss) => shares(n) = ratio(ss.map(_.ms).sum, pathMs)
    }

    // job breakdown by call site, per sink call or op (jobs inside a sink
    // call carry the call's span, so no job is counted under two units)
    val units: Seq[(String, Seq[JobRec])] =
      calls.map(c => (s"sink.${c.c.op}", c.jobs)) ++
        seg.opSpans.filter(_.name.startsWith("op."))
          .map(o => (o.name, jobsBySpan.getOrElse(o.id, Nil)))
    // AQE submits query-stage jobs from a pool thread with no program frame
    // on its stack, so a job takes the call site of its SQL execution
    // (a micro-batch's own source scan keeps the stream's batch label)
    def siteOf(j: JobRec) = j.execution.flatMap(executions.get)
      .filter(d => d.contains(" at ") && !d.contains("\n")).getOrElse(j.callSite)
    val callsites = units.groupBy(_._1).toSeq.flatMap { case (unit, us) =>
      us.flatMap(_._2).groupBy(siteOf).toSeq.map { case (s, js) =>
        Map("unit" -> unit, "callsite" -> s,
          "jobs_per_call" -> js.size.toDouble / us.size,
          "ms_per_call" -> js.map(j => (j.endMs - j.submitMs).toDouble).sum / us.size)
      }
    }.sortBy(m => (m("unit").toString, -m("ms_per_call").asInstanceOf[Double]))

    // spans: trigger → sink call → job; cycle → op → sink call → job
    val spans = mutable.ArrayBuffer.empty[Span]
    val pre = seg.prefix
    seg.progress.foreach { p =>
      val st = Workloads.startMs(p)
      spans += Span(s"$pre.b${p.batchId}", "", "engine.trigger", st,
        st + Workloads.dur(p, "triggerExecution"),
        Map("batchId" -> p.batchId, "numInputRows" -> p.numInputRows,
          "durationMs" -> p.durationMs.toString))
    }
    spans ++= seg.opSpans
    seg.calls.foreach { c =>
      val parent =
        if (c.batchId >= 0) s"$pre.b${c.batchId}"
        else seg.opSpans.find(o => o.name.startsWith("op.") && o.startMs <= c.startMs &&
          c.startMs <= o.endMs).map(_.id).getOrElse("")
      spans += Span(c.span, parent, s"sink.${c.op}", c.startMs, c.endMs, Map("table" -> c.table))
    }
    val known = spans.map(s => s.id -> s).toMap
    var byProperty = 0
    val misplaced = mutable.ArrayBuffer.empty[String]
    jobs.foreach { j =>
      j.span.filter(known.contains).foreach { p =>
        byProperty += 1
        val sp = known(p)
        if (j.submitMs < sp.startMs - 1 || j.submitMs > sp.endMs + 1)
          misplaced += s"job ${j.id} (${j.callSite}) at ${j.submitMs} outside $p " +
            s"[${sp.startMs}, ${sp.endMs}]"
        spans += Span(s"job${j.id}", p, "spark.job", j.submitMs.toDouble, j.endMs.toDouble,
          Map("callsite" -> j.callSite, "stages" -> j.stageIds.size))
      }
    }
    // every sink call of the run (all set-ups) and every timed cdc op
    val timedSpans =
      ctx.rec.calls.asScala.toSeq.map(c => Span(c.span, "", "sink", c.startMs, c.endMs)) ++
        seg.opSpans.filter(_.name.startsWith("op."))
    val (checked, lost) = unattributed(jobs, timedSpans)
    require(lost.isEmpty, s"${lost.size} of $checked Spark jobs submitted inside a timed " +
      s"sink call or op lack its span: ${lost.take(5).mkString("; ")}")
    require(misplaced.isEmpty, s"${misplaced.size} jobs tagged with a span started " +
      s"outside it: ${misplaced.take(5).mkString("; ")}")
    val attribution = Map("jobs" -> jobs.size, "in_timed_spans" -> byProperty,
      "outside_timed_spans" -> (jobs.size - byProperty),
      "submitted_inside_a_timed_span" -> checked, "misplaced" -> misplaced.size)

    Traced(metrics :+ ("trace.jobs" -> (byProperty.toDouble, "count")), shares.toMap, callsites,
      spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs), attribution)
  }

  /** Jobs submitted while a timed span was open that do not carry its id.
    * Each job whose submit time falls strictly inside a span is checked
    * against the innermost such span (a sink call inside a cdc op wins;
    * on equal bounds the earlier-listed span does). Returns how many jobs
    * were checked and a line for each one whose span property is missing
    * or names another span, as a job the timed call started but that lost
    * the property (say, one submitted from a pool thread) would. */
  def unattributed(jobs: Seq[JobRec], timed: Seq[Span]): (Int, Seq[String]) = {
    val inside = jobs.flatMap { j =>
      val t = j.submitMs.toDouble
      timed.filter(s => s.startMs < t && t < s.endMs)
        .sortBy(s => (-s.startMs, s.endMs)).headOption.map(j -> _)
    }
    (inside.size, inside.collect { case (j, s) if !j.span.contains(s.id) =>
      s"job ${j.id} (${j.callSite}) at ${j.submitMs} inside ${s.id} carries " +
        j.span.getOrElse("no span")
    })
  }

  /** Writer connections per call: tasks of the foreachPartition stage that
    * read rows (an empty partition opens none). */
  private def connections(st: Seq[StageAgg]): Double =
    if (st.isEmpty) 0.0 else st.map(_.tasksWithRows).sum.toDouble / st.size
}
