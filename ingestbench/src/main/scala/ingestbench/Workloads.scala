package ingestbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.engine.{MultiTableUpsertStream, Sources, UpsertStream}
import graft.model.{IngestConfig, TargetTable}
import graft.sink.{JdbcSink, JdbcTarget, MergeSink, ParquetTarget}

/** A workload: the input shape and the path it drives.
  *
  * @param kind     `stream` (UpsertStream → ParquetTarget), `cdc` (direct
  *                 ParquetTarget calls) or `jdbc` (MultiTableUpsertStream →
  *                 JdbcSink on in-memory Derby)
  * @param rows     rows per trigger, or per upsert op on `cdc`
  * @param warmup   batches each stream set-up runs (part of set-up), or
  *                 untimed cycles before the `cdc` window
  * @param settle   further untimed batches before a stream's window: the
  *                 JVM is still compiling hot paths after the set-ups
  * @param staged   batch files staged per segment; a run that consumes them
  *                 all ends its window at the last commit
  * @param setups   set-ups per run, each with a fresh table, checkpoint
  *                 and database; the last one is measured for `seconds`
  * @param bucketsPerBatch  when > 0, each batch draws its keys uniformly
  *                 from this many of the table's buckets (chosen per batch
  *                 from the seed), so the merge prunes the rest; 0 draws
  *                 from the whole key space
  *
  * `dupShare`, `staleShare`, `zipfS`, `ties` and `deletes` are assumed
  * traffic, not measured: nothing the repository or the paper holds gives
  * a share for them. README.md gives the reason for each value.
  */
final case class Spec(
    name: String,
    kind: String,
    keys: Int,
    buckets: Int,
    rows: Int,
    zipfS: Double,
    dupShare: Double,
    staleShare: Double,
    warmup: Int,
    settle: Int,
    staged: Int,
    setups: Int,
    tables: Seq[String] = Nil,
    retain: Int = 1,
    deletes: Int = 0,
    lookups: Int = 0,
    lookupKeys: Int = 0,
    ties: Int = 0,
    bucketsPerBatch: Int = 0)

object Spec {
  private val upsertSmall =
    // fixed per-merge cost: 100-row triggers whose keys fall in 1 of 16
    // buckets of a 4k-key table, so the merge prunes 15 of them and jobs,
    // planning, listing and sidecars dominate, not data volume
    Spec("upsert_small", "stream", keys = 4000, buckets = 16, rows = 100,
      zipfS = 0, dupShare = 0.1, staleShare = 0.1, warmup = 1, settle = 10,
      staged = 40, setups = 3, bucketsPerBatch = 1)

  /** The four workloads; `--selfcheck` runs each of them. */
  val workloads: Seq[Spec] = Seq(
    upsertSmall,
    // data-bound: Zipf keys, ~0.4 distinct/row, every bucket rewritten
    Spec("upsert_bulk_skew", "stream", keys = 200000, buckets = 64, rows = 50000,
      zipfS = 1.0, dupShare = 0, staleShare = 0.2, warmup = 1, settle = 1,
      staged = 14, setups = 2),
    // writes beside reads on one table, no stream
    Spec("cdc_read_write", "cdc", keys = 10000, buckets = 16, rows = 2000,
      zipfS = 1.0, dupShare = 0, staleShare = 0.1, warmup = 1, settle = 0,
      staged = 0, setups = 3, retain = 4, deletes = 200, lookups = 2, lookupKeys = 100,
      ties = 20),
    // multi-table fan-out into two Derby tables through JdbcSink
    Spec("multi_table_jdbc", "jdbc", keys = 40000, buckets = 1, rows = 5000,
      zipfS = 0, dupShare = 0.05, staleShare = 0.1, warmup = 1, settle = 10,
      staged = 64, setups = 3, tables = Seq("t_a", "t_b")))

  /** Shapes kept for the committed records in results/, not gated. */
  val variants: Seq[Spec] = Seq(
    // ROADMAP's scratch setting: 1,500 keys in 16 buckets, keys drawn from
    // all of them, at 100 and 2,500 rows per trigger
    upsertSmall.copy(name = "roadmap_16b_100rows", keys = 1500, bucketsPerBatch = 0),
    upsertSmall.copy(name = "roadmap_16b_2500rows", keys = 1500, rows = 2500,
      bucketsPerBatch = 0),
    // the shape first planned for upsert_small: 100k keys in 1,024 buckets
    upsertSmall.copy(name = "upsert_small_1024b", keys = 100000, buckets = 1024,
      setups = 1, bucketsPerBatch = 0))

  val all: Seq[Spec] = workloads ++ variants

  def byName(n: String): Spec =
    all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

/** What one segment measured. */
final case class Segment(
    prefix: String,
    setupS: Double,
    windowS: Double,
    rows: Long,
    ops: Int,
    batchMs: Seq[Double],
    upsertMs: Seq[Double],
    opMs: Map[String, Seq[Double]],
    storedBytes: Long,
    liveRows: Long,
    heapPeakMb: Double,
    heapRetainedMb: Double,
    heapGcs: Int,
    gcMs: Long,
    distinctKeys: Long,
    changedKeys: Long,
    progress: Seq[StreamingQueryProgress],
    calls: Seq[SinkCall],
    opSpans: Seq[Span],
    opRows: Map[String, Long],
    files: Long,
    exhausted: Boolean)

final class Ctx(val spark: SparkSession, val cores: Int, val work: String,
    val seed: Long, val rec: Recorder, val listener: Option[JobListener],
    val spec: Spec, val seconds: Double) {
  val commits = mutable.ArrayBuffer.empty[(String, Layout.Delta)]
  // a traced run lists the newest delta of the call's target after each commit
  if (rec.traced && spec.kind != "jdbc") rec.afterCall = c =>
    Layout.lastDelta(s"$work/${c.span.takeWhile(_ != '.')}/target")
      .foreach(d => commits.synchronized(commits += (c.span -> d)))
  def log(s: String): Unit = Console.err.println(s"[ingestbench] $s")
}

object Schemas {
  val event: StructType = StructType(Seq(
    StructField("pkey", LongType), StructField("modified_date", LongType),
    StructField("event_id", LongType), StructField("payload", StringType)))
  val routed: StructType = event.add(StructField("table", StringType))
  val flagged: StructType = event.add(StructField("row_active", BooleanType))
  val key: StructType = StructType(Seq(StructField("pkey", LongType)))
  val tombstone: StructType = StructType(event.fields.take(3))

  def row(e: Ev, schema: StructType): Row = schema.fieldNames.length match {
    case 1 => Row(e.pkey)
    case 3 => Row(e.pkey, e.version, e.eventId)
    case _ if schema.fieldNames.last == "table" =>
      Row(e.pkey, e.version, e.eventId, e.payload, e.table)
    case _ if schema.fieldNames.last == "row_active" =>
      Row(e.pkey, e.version, e.eventId, e.payload, true)
    case _ => Row(e.pkey, e.version, e.eventId, e.payload)
  }

  def local(spark: SparkSession, rows: Seq[Ev], schema: StructType): DataFrame =
    spark.createDataFrame(rows.map(row(_, schema)).asJava, schema)
}

/** Directory listings of a ParquetTarget root, from outside the program. */
object Layout {
  final case class Delta(buckets: Int, files: Int)

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  def bytes(root: String): Long = walk(new File(root)).map(_.length).sum
  def parquetFiles(root: String): Long =
    walk(new File(root)).count(_.getName.endsWith(".parquet")).toLong

  /** The newest delta dir: bucket dirs and parquet files it holds. */
  def lastDelta(root: String): Option[Delta] =
    Option(new File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("d\\d{10}"))
      .sortBy(_.getName).lastOption.map { d =>
        val bs = Option(d.listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("__graft_bucket="))
        Delta(bs.size, bs.flatMap(walk).count(_.getName.endsWith(".parquet")))
      }
}

object Workloads {

  def config(ctx: Ctx, name: String, ckpt: String): IngestConfig =
    IngestConfig(
      name = name,
      maxWriterPartitions = ctx.cores,
      maxRecordsPerTrigger = ctx.spec.rows.toLong,
      lagCycles = 1,
      lagMillis = 10L,
      checkpointDir = Some(ckpt),
      printConfig = false,
      leaseSettleMillis = 0L)

  def table(ctx: Ctx, root: String): TargetTable =
    TargetTable(
      name = "ingestbench",
      path = root,
      keyCols = Seq("pkey"),
      versionCol = "modified_date",
      tieBreakCols = Seq("event_id"),
      softDeleteCol = "row_active",
      buckets = ctx.spec.buckets,
      retainVersions = ctx.spec.retain,
      bucketCols = Nil)

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Write each batch as one parquet file, in batch order by modification
    * time, so the file source admits them one per trigger in that order. */
  def stage(ctx: Ctx, batches: Seq[Seq[Ev]], dir: String, schema: StructType): Unit = {
    val tmp = dir + "_tmp"
    val rdd = ctx.spark.sparkContext.parallelize(batches, batches.size)
      .flatMap(b => b.map(Schemas.row(_, schema)))
    ctx.spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(tmp)
    val parts = new File(tmp).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == batches.size,
      s"staging wrote ${parts.length} files for ${batches.size} batches")
    Files.createDirectories(Paths.get(dir))
    val base = System.currentTimeMillis() - 1000L * (batches.size + 10)
    parts.zipWithIndex.foreach { case (f, i) =>
      val to = new File(dir, f"b$i%05d.parquet")
      Files.move(f.toPath, to.toPath)
      require(to.setLastModified(base + 1000L * i), s"cannot set mtime of $to")
    }
    deleteTree(new File(tmp))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }

  private def isStop(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[StopAfterDeadline])

  private def committed(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)

  def startMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  // ---------------------------------------------------------------- streams

  /** Set up `setups` times; only the last set-up is measured, after the
    * earlier ones have warmed the JVM. Returns every set-up time and the
    * measured segment. */
  def run(ctx: Ctx): (Seq[Double], Segment) = {
    val n = ctx.spec.setups
    val segs = (0 until n).map { i =>
      val s =
        if (ctx.spec.kind == "cdc") cdcSegment(ctx, i, i == n - 1)
        else streamSegment(ctx, i, i == n - 1)
      ctx.log(f"${ctx.spec.name} set-up $i: ${s.setupS}%.2f s" + (if (i < n - 1) "" else
        f", ${s.ops} timed ops, ${s.rows} rows in ${s.windowS}%.2f s" +
          (if (s.exhausted) " (inputs exhausted)" else "")))
      s
    }
    (segs.map(_.setupS), segs.last)
  }

  private def setupOnly(setupS: Double): Segment =
    Segment("", setupS, 0, 0, 0, Nil, Nil, Map.empty, 0, 0, 0, 0, 0, 0, 0, 0, Nil, Nil, Nil,
      Map.empty, 0, exhausted = false)

  /** One stream set-up (UpsertStream → ParquetTarget, or
    * MultiTableUpsertStream → JdbcSink), measured for `ctx.seconds` when
    * `measured`. */
  def streamSegment(ctx: Ctx, seg: Int, measured: Boolean): Segment = {
    val spec = ctx.spec
    require(spec.settle >= 1 && spec.staged > spec.warmup + spec.settle,
      s"${spec.name}: settle at least one batch and stage more than the " +
        s"${spec.warmup + spec.settle} run before the window")
    val dir = s"${ctx.work}/s$seg"
    val src = s"$dir/src"
    val ckpt = s"$dir/ckpt"
    val root = s"$dir/target"
    val jdbc = spec.kind == "jdbc"
    val schema = if (jdbc) Schemas.routed else Schemas.event
    val t0 = System.nanoTime()

    val gen = new Gen(spec, ctx.seed, seg)
    val preload = gen.preload()
    val batches = (0 until spec.staged).map(b => gen.batch(b, spec.rows))
    stage(ctx, batches, src, schema)
    val cfg = config(ctx, s"ib_${spec.name}_$seg", ckpt)

    val gate = new Gate
    if (!measured) gate.lastBatch = spec.warmup - 1L
    val settled = spec.warmup + spec.settle
    // a full collection in the last untimed batch, so the window's heap
    // peak starts from what the stream holds, not from set-up garbage
    gate.beforeBatch = settled - 1L
    gate.before = () => HeapAfterGc.collect()
    val dbUrl = s"jdbc:derby:memory:ib_${ProcessHandle.current().pid()}_$seg"
    val prefix = s"s$seg"
    val (query, readBack, storedBytes, cleanup) = ctx.rec.scoped(s"$prefix.setup") {
      if (!jdbc) {
        val pt = new ParquetTarget(ctx.spark, table(ctx, root), cfg.leaseSettleMillis)
        pt.mergeUpsert(Schemas.local(ctx.spark, preload, schema), cfg)
        val sink = new TimedSink(pt, ctx.rec, prefix, "target", Some(gate))
        val q = new UpsertStream(cfg, sink, ckpt)
          .run(Sources.parquet(ctx.spark, cfg, schema, src, spec.rows.toLong))
        (q, () => parquetState(pt), () => Layout.bytes(root), () => ())
      } else {
        createDerby(dbUrl, spec.tables)
        val targets = spec.tables.map(t => t -> JdbcTarget(
          url = dbUrl, table = t, keyCols = Seq("pkey"), versionCol = "modified_date",
          tieBreakCols = Seq("event_id"), softDeleteCol = "row_active",
          hasSoftDelete = false, properties = Map.empty, batchSize = 100))
        targets.foreach { case (t, jt) =>
          new JdbcSink(jt).mergeUpsert(
            Schemas.local(ctx.spark, preload.filter(_.table == t), Schemas.event), cfg)
        }
        val sinks: Map[String, MergeSink] = targets.zipWithIndex.map { case ((t, jt), i) =>
          t -> (new TimedSink(new JdbcSink(jt), ctx.rec, prefix, t,
            if (i == 0) Some(gate) else None): MergeSink)
        }.toMap
        val q = new MultiTableUpsertStream(cfg, sinks, ckpt, "table")
          .run(Sources.parquet(ctx.spark, cfg, schema, src, spec.rows.toLong))
        (q, () => derbyState(dbUrl, spec.tables), () => derbyBytes(dbUrl, spec.tables),
          () => dropDerby(dbUrl))
      }
    }

    def failIfDead(): Unit = query.exception.foreach(e => if (!isStop(e)) throw e)
    while (query.isActive && committed(query).size < spec.warmup) Thread.sleep(2)
    failIfDead()
    require(committed(query).size >= spec.warmup, "stream stopped during warm-up")
    val setupS = (System.nanoTime() - t0) / 1e9
    if (!measured) {
      while (query.isActive) Thread.sleep(2)
      failIfDead()
      cleanup()
      return setupOnly(setupS)
    }
    while (query.isActive && committed(query).size < settled) Thread.sleep(2)
    failIfDead()
    val gc0 = gcMs()
    gate.deadlineNs = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var exhausted = false
    while (query.isActive) {
      if (committed(query).size >= spec.staged) { exhausted = true; query.stop() }
      else Thread.sleep(2)
    }
    failIfDead()
    val gcDelta = gcMs() - gc0
    val all = committed(query)
    val retained = HeapAfterGc.collect()

    // no-op-resume guard: batches and input rows equal what was generated
    val k = all.size
    val callBatches = ctx.rec.calls.asScala.filter(_.span.startsWith(prefix + "."))
      .map(_.batchId).toSet
    require(all.map(_.batchId) == (0L until k.toLong),
      s"committed batch ids ${all.map(_.batchId)} are not 0..${k - 1}")
    require(callBatches == all.map(_.batchId).toSet,
      s"sink calls saw batches $callBatches, progress reports ${all.map(_.batchId)}")
    val genRows = batches.take(k).map(_.size.toLong).sum
    require(all.map(_.numInputRows).sum == genRows,
      s"engine admitted ${all.map(_.numInputRows).sum} rows, generator staged $genRows in $k batches")

    val oracle = new Oracle
    oracle.upsert(preload)
    val changed = batches.take(k).map(oracle.upsert)
    Verify.state(readBack(), oracle.snapshot, spec.name, seg)
    val bytes = storedBytes()
    val files = if (jdbc) 0L else Layout.parquetFiles(root)
    cleanup()

    val timed = all.drop(settled)
    require(timed.nonEmpty, s"segment $seg committed no batch after warm-up")
    val timedIds = timed.map(_.batchId).toSet
    val calls = ctx.rec.calls.asScala.toSeq
      .filter(c => c.span.startsWith(prefix + ".") && timedIds(c.batchId))
    val windowEndMs = timed.map(p => startMs(p) + dur(p, "triggerExecution")).max
    val (peak, gcs) = HeapAfterGc.peak(startMs(timed.head), windowEndMs)
    val timedBatches = batches.slice(settled, k)
    Segment(
      prefix = prefix,
      setupS = setupS,
      windowS = (windowEndMs - startMs(timed.head)) / 1000.0,
      rows = timed.map(_.numInputRows).sum,
      ops = timed.size,
      batchMs = timed.map(dur(_, "triggerExecution")),
      upsertMs = calls.map(_.ms),
      opMs = Map.empty,
      storedBytes = bytes,
      liveRows = oracle.state.size.toLong,
      heapPeakMb = math.max(peak, retained),
      heapRetainedMb = retained,
      heapGcs = gcs,
      gcMs = gcDelta,
      distinctKeys = timedBatches.map(_.map(_.pkey).distinct.size.toLong).sum,
      changedKeys = changed.drop(settled).map(_.toLong).sum,
      progress = timed,
      calls = calls,
      opSpans = Nil,
      opRows = Map.empty,
      files = files,
      exhausted = exhausted)
  }

  def parquetState(pt: ParquetTarget): Seq[Row] =
    pt.read().map(_.collect().toSeq).getOrElse(Nil)

  // ------------------------------------------------------------------ Derby

  private def withConn[A](url: String)(f: java.sql.Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def createDerby(url: String, tables: Seq[String]): Unit = {
    // Derby's background index-statistics refresh recompiles statements
    // while other connections run them; mid-batch that has thrown an NPE
    // inside Derby's INSERT (TemporaryRowHolderImpl). The refresh is a
    // property of the test database, not of the measured program.
    System.setProperty("derby.storage.indexStats.auto", "false")
    withConn(url + ";create=true") { c =>
      val st = c.createStatement()
      tables.foreach(t => st.execute(
        s"CREATE TABLE $t (pkey BIGINT NOT NULL PRIMARY KEY, modified_date BIGINT, " +
          "event_id BIGINT, payload VARCHAR(200))"))
      st.close()
    }
  }

  def derbyState(url: String, tables: Seq[String]): Seq[Row] =
    withConn(url) { c =>
      tables.flatMap { t =>
        val rs = c.createStatement().executeQuery(
          s"SELECT pkey, modified_date, event_id, payload FROM $t")
        val out = mutable.ArrayBuffer.empty[Row]
        while (rs.next()) out += Row(rs.getLong(1), rs.getLong(2), rs.getLong(3), rs.getString(4))
        rs.close()
        out
      }
    }

  /** Allocated pages of the tables and their indexes, after compressing
    * them so the figure depends on the live rows, not the update history. */
  def derbyBytes(url: String, tables: Seq[String]): Long =
    withConn(url) { c =>
      tables.map { t =>
        val cs = c.prepareCall("CALL SYSCS_UTIL.SYSCS_COMPRESS_TABLE('APP', ?, 1)")
        cs.setString(1, t.toUpperCase)
        cs.execute()
        cs.close()
        val rs = c.createStatement().executeQuery(
          "SELECT SUM(CAST(NUMALLOCATEDPAGES AS BIGINT) * PAGESIZE) FROM " +
            s"TABLE(SYSCS_DIAG.SPACE_TABLE('APP', '${t.toUpperCase}')) S")
        rs.next()
        val b = rs.getLong(1)
        rs.close()
        b
      }.sum
    }

  def dropDerby(url: String): Unit =
    try DriverManager.getConnection(url + ";drop=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }

  // -------------------------------------------------------------------- cdc

  /** One cdc_read_write segment: cycles of mergeUpsert, mergeSoftDelete,
    * deleteVectoredKeys, `lookups` point lookups and one readChanges over
    * the cycle, all on one ParquetTarget. */
  def cdcSegment(ctx: Ctx, seg: Int, measured: Boolean): Segment = {
    val spec = ctx.spec
    val spark = ctx.spark
    val dir = s"${ctx.work}/s$seg"
    val root = s"$dir/target"
    val t0 = System.nanoTime()
    val gen = new Gen(spec, ctx.seed, seg)
    val cfg = config(ctx, s"ib_${spec.name}_$seg", s"$dir/ckpt")
    val pt = new ParquetTarget(spark, table(ctx, root), cfg.leaseSettleMillis)
    val prefix = s"s$seg"
    val sink = new TimedSink(pt, ctx.rec, prefix, "target", None)
    val oracle = new Oracle
    val preload = gen.preload()
    ctx.rec.scoped(s"$prefix.setup")(
      pt.mergeUpsert(Schemas.local(spark, preload, Schemas.flagged), cfg))
    oracle.upsert(preload)
    // set-up is the fresh table and its preload; the warm-up cycles that
    // follow run the timed ops themselves, so they are not set-up work
    val setupS = (System.nanoTime() - t0) / 1e9
    if (!measured) return setupOnly(setupS)

    val opMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val opRows = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val spans = mutable.ArrayBuffer.empty[Span]
    val cycleMs = mutable.ArrayBuffer.empty[Double]
    var opTotal = 0.0
    var rows = 0L
    var ops = 0
    var changed = 0L
    var distinct = 0L
    var windowStartMs = 0.0
    var gc0 = 0L
    var cycle = 0
    var deadline = Long.MaxValue

    var opSeq = 0
    def timedOp[A](cyc: String, name: String, timed: Boolean)(f: => A): A = {
      opSeq += 1
      val id = s"$cyc.$name$opSeq"
      val ms0 = ctx.rec.nowMs
      val n0 = System.nanoTime()
      val out = ctx.rec.scoped(id)(f)
      val ms = (System.nanoTime() - n0) / 1e6
      if (timed) {
        opTotal += ms
        opMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
        spans += Span(id, cyc, s"op.$name", ms0, ms0 + ms)
        ops += 1
      }
      out
    }

    while (cycle < spec.warmup || System.nanoTime() < deadline) {
      val timed = cycle >= spec.warmup
      val cyc = s"$prefix.c$cycle"
      // inputs of this cycle, generated from the seed and the oracle state
      val ups0 = gen.batch(cycle, spec.rows)
      val ups = ups0 ++ gen.ties(oracle, spec.ties, ups0.map(_.pkey).toSet)
      val upDf = Schemas.local(spark, ups, Schemas.event)
      val soft = gen.tombstones(gen.keys(oracle, spec.deletes, 0.9), cycle)
      val softDf = Schemas.local(spark, soft, Schemas.tombstone)
      val before = oracle.snapshot
      val vBefore = pt.versions().max
      val n0 = opTotal

      val cms0 = ctx.rec.nowMs
      timedOp(cyc, "upsert", timed)(sink.mergeUpsert(upDf, cfg))
      val ch1 = oracle.upsert(ups)
      timedOp(cyc, "soft_delete", timed)(sink.mergeSoftDelete(softDf, cfg))
      val ch2 = oracle.softDelete(soft)
      val dvKeys = gen.keys(oracle, spec.deletes, 0.9)
      val dvDf = Schemas.local(spark, dvKeys.map(k => Ev(k, 0, 0, 0)), Schemas.key)
      timedOp(cyc, "dv_delete", timed)(pt.deleteVectoredKeys(dvDf, cfg))
      val ch3 = oracle.vectoredDelete(dvKeys)
      var lookupRows = 0L
      (0 until spec.lookups).foreach { _ =>
        val keys = gen.keys(oracle, spec.lookupKeys, 0.9)
        val kDf = Schemas.local(spark, keys.map(k => Ev(k, 0, 0, 0)), Schemas.key)
        val got = timedOp(cyc, "lookup", timed)(pt.lookup(kDf).get.collect().toSeq)
        lookupRows += got.size
        Verify.lookup(got, keys, oracle, spec.name, seg)
      }
      val vAfter = pt.versions().max
      val feed = timedOp(cyc, "changes", timed)(
        pt.readChanges(vBefore, vAfter).get.collect().toSeq)
      Verify.changes(feed, before, oracle.snapshot, spec.name, seg)

      if (timed) {
        // a cycle's latency is the time spent inside the program's calls;
        // input generation and verification between them are excluded
        val ms = opTotal - n0
        cycleMs += ms
        spans += Span(cyc, "", "cycle", cms0, cms0 + ms)
        rows += ups.size + soft.size + dvKeys.size
        changed += ch1 + ch2 + ch3
        distinct += ups.map(_.pkey).distinct.size + soft.map(_.pkey).distinct.size + dvKeys.size
        opRows("lookup") += lookupRows
        opRows("changes") += feed.size
      }
      cycle += 1
      if (cycle == spec.warmup) {
        HeapAfterGc.collect()
        gc0 = gcMs()
        windowStartMs = ctx.rec.nowMs
        deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
      }
    }
    val gcDelta = gcMs() - gc0
    val windowEndMs = ctx.rec.nowMs
    val retained = HeapAfterGc.collect()
    val (peak, gcs) = HeapAfterGc.peak(windowStartMs, windowEndMs)
    Verify.state(parquetState(pt), oracle.snapshot, spec.name, seg)
    val calls = ctx.rec.calls.asScala.toSeq
      .filter(c => c.span.startsWith(prefix + ".") && c.startMs >= windowStartMs)
    Segment(
      prefix = prefix,
      setupS = setupS,
      windowS = cycleMs.sum / 1000.0,
      rows = rows,
      ops = ops,
      // a cdc "batch" is one committed mutation: upsert, soft or vectored delete
      batchMs = spans.filter(s => Set("op.upsert", "op.soft_delete", "op.dv_delete")(s.name))
        .map(_.ms).toSeq,
      upsertMs = opMs.getOrElse("upsert", Nil).toSeq,
      opMs = opMs.map { case (k, v) => k -> v.toSeq }.toMap,
      storedBytes = Layout.bytes(root),
      liveRows = oracle.state.size.toLong,
      heapPeakMb = math.max(peak, retained),
      heapRetainedMb = retained,
      heapGcs = gcs,
      gcMs = gcDelta,
      distinctKeys = distinct,
      changedKeys = changed,
      progress = Nil,
      calls = calls,
      opSpans = spans.toSeq,
      opRows = opRows.toMap,
      files = Layout.parquetFiles(root),
      exhausted = false)
  }
}

/** Order-independent comparison of program output with the oracle. Any
  * mismatch throws: the run fails and prints no metrics. */
object Verify {
  private def fail(what: String, wl: String, seg: Int, diffs: Seq[String]): Nothing =
    throw new IllegalStateException(
      s"ORACLE MISMATCH in $wl segment $seg ($what):\n  " + diffs.take(10).mkString("\n  "))

  private def check(r: Row, s: Stored): Option[String] = {
    val k = r.getLong(0)
    val payload = Gen.payload(s.eventId, s.salt)
    val active = if (r.length > 4 && !r.isNullAt(4)) r.getBoolean(4) else true
    if (r.getLong(1) != s.version || r.getLong(2) != s.eventId ||
        r.getString(3) != payload || active != s.active)
      Some(s"key $k: got (${r.getLong(1)}, ${r.getLong(2)}, active=$active, " +
        s"payload ok=${r.getString(3) == payload}), want (${s.version}, ${s.eventId}, active=${s.active})")
    else None
  }

  def state(rows: Seq[Row], want: Map[Long, Stored], wl: String, seg: Int): Unit = {
    val byKey = rows.groupBy(_.getLong(0))
    val diffs = mutable.ArrayBuffer.empty[String]
    byKey.foreach { case (k, rs) =>
      if (rs.size > 1) diffs += s"key $k stored ${rs.size} times"
      want.get(k) match {
        case None => diffs += s"key $k present, oracle has none"
        case Some(s) => check(rs.head, s).foreach(diffs += _)
      }
    }
    want.keys.filterNot(byKey.contains).take(10).foreach(k => diffs += s"key $k missing")
    if (diffs.nonEmpty) fail(s"final state, ${rows.size} rows vs ${want.size} keys", wl, seg, diffs.toSeq)
  }

  def lookup(got: Seq[Row], keys: Seq[Long], o: Oracle, wl: String, seg: Int): Unit = {
    val want = keys.distinct.flatMap(k => o.state.get(k).map(k -> _)).toMap
    state(got, want, wl, seg)
  }

  /** The change feed between two states: insert, update or delete per key
    * whose row (payload and flag included) differs. */
  def changes(feed: Seq[Row], before: Map[Long, Stored], after: Map[Long, Stored],
      wl: String, seg: Int): Unit = {
    val want = (before.keySet ++ after.keySet).toSeq.flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(_)) => Some(k -> "insert")
        case (Some(_), None) => Some(k -> "delete")
        case (Some(a), Some(b)) if a != b => Some(k -> "update")
        case _ => None
      }
    }.toMap
    val typeIdx = feed.headOption.map(_.schema.fieldIndex("_change_type")).getOrElse(0)
    val got = feed.map(r => r.getLong(0) -> r.getString(typeIdx))
    val diffs = mutable.ArrayBuffer.empty[String]
    if (got.map(_._1).distinct.size != got.size) diffs += "a key appears twice in the feed"
    val gotMap = got.toMap
    want.foreach { case (k, t) =>
      if (!gotMap.get(k).contains(t)) diffs += s"key $k: feed ${gotMap.get(k)}, want $t"
    }
    gotMap.keys.filterNot(want.contains).take(10).foreach(k => diffs += s"key $k: unexpected change")
    feed.foreach { r =>
      val k = r.getLong(0)
      if (r.getString(typeIdx) != "delete")
        after.get(k).flatMap(check(r, _)).foreach(d => diffs += s"post-image $d")
    }
    if (diffs.nonEmpty) fail(s"readChanges, ${feed.size} rows vs ${want.size} changes", wl, seg, diffs.toSeq)
  }
}
