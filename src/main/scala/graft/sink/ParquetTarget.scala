package graft.sink

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, GraftSql, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{coalesce, col, count, hash, lit, pmod, regexp_extract, udaf}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}

import graft.model.{IngestConfig, TargetTable}

/** A parquet-backed mutable table, hash-bucketed by merge key — the
  * engine's stand-in for the reference's Postgres target tables, designed
  * so a micro-batch merge costs O(batch ∪ affected buckets), NOT a rewrite
  * of the whole table (at 100 TB the difference between a sink that works
  * and one that doesn't).
  *
  * Layout — immutable per-version delta dirs + a manifest that maps each
  * key-hash bucket to the version dir that last rewrote it:
  *
  * {{{
  *   table.path/
  *     _LATEST                     <- name of the current manifest file
  *     m0000000002                 <- manifest: "<bucket>\t<dir>" lines
  *     d0000000001/                <- delta of version 1 (_SUCCESS marker)
  *       __graft_bucket=0/...parquet
  *       __graft_bucket=3/...parquet
  *     d0000000002/
  *       __graft_bucket=3/...parquet   <- v2 rewrote only bucket 3
  * }}}
  *
  * A merge computes the batch's bucket set from its keys, reads ONLY
  * those buckets' dirs, merges, writes them under the next delta, and the
  * next manifest carries every untouched bucket over by reference. Bucket
  * count is `TargetTable.buckets`; Spark `hash` (Murmur3) over the key
  * columns assigns buckets on both the read and write side, so a merge
  * exchanges only the batch and the touched buckets' rows, never the
  * table — in one shuffle that is also the writer's placement
  * (`Merge.keyed`).
  *
  * Crash safety (no window loses committed state):
  *  - crash while writing a delta: no manifest references it; the next
  *    commit of that version number overwrites the orphan.
  *  - crash between manifest creation and `_LATEST` repoint: recovery
  *    scans for the highest manifest whose referenced dirs all exist —
  *    the one just written — so the merge survives. Combined with the
  *    checkpointed source and deterministic latest-wins merge, replayed
  *    micro-batches re-merge idempotently (exactly-once state).
  *
  * Schema migrations (e.g. soft delete adding its flag column) rewrite all
  * buckets once, keeping every referenced file on one uniform schema so
  * multi-dir reads never depend on parquet schema merging.
  *
  * Concurrency contract: SINGLE WRITER per target. Commits take a
  * create-exclusive `_LOCK` lease, so a second concurrent stream fails
  * loud instead of silently clobbering a committed merge (see
  * `withCommitLock`); route upserts and deletes for one target through
  * one stream. Readers need no lock (manifests are immutable once
  * published).
  *
  * On object stores a transactional table format (v2 `MERGE INTO` target)
  * is the production path; the bucket-pruned merge planning here carries
  * over unchanged. Writer parallelism is bounded by
  * `IngestConfig.maxWriterPartitions`, the analog of the reference's
  * DB-connection cap (`max_con_count`, quick_stream `src/builder.rs:14-33`).
  */
final class ParquetTarget(spark: SparkSession, val table: TargetTable,
    leaseSettleMillis: Long = 0L) extends MergeSink {

  private val root = new Path(table.path)
  private val pointer = new Path(root, "_LATEST")
  private val pointerTmp = new Path(root, "_LATEST.tmp")
  private val lockPath = new Path(root, "_LOCK")
  private val BucketCol = "__graft_bucket"
  private val DvFileCol = "__graft_dv_file"
  private val DvPosCol = "__graft_dv_pos"
  private val DvBucketCol = "__graft_dv_bucket"

  private def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionOf(prefix: Char, name: String): Long =
    if (name.length == 11 && name.head == prefix && name.drop(1).forall(_.isDigit))
      name.drop(1).toLong
    else -1L

  private def manifestName(v: Long): String = f"m$v%010d"
  private def deltaName(v: Long): String = f"d$v%010d"
  private def zoneName(v: Long): String = f"z$v%010d"
  private def dvName(v: Long): String = f"x$v%010d"

  private def bucketOf(df: DataFrame): Column =
    pmod(hash(table.hashCols.map(df.col): _*), lit(table.buckets))

  /** Parse a manifest into bucket -> relative dir; None unless every
    * referenced dir exists (an older manifest may reference GC'd dirs).
    * The `#buckets=` header pins the table's bucket count: opening an
    * existing table with a different `TargetTable.buckets` fails loud —
    * silently hashing mod a different count would prune the wrong buckets
    * and corrupt latest-wins state. */
  private def readManifest(v: Long): Option[Map[Int, String]] = {
    val p = new Path(root, manifestName(v))
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        StandardCharsets.UTF_8)
      finally in.close()
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    lines.find(_.startsWith("#buckets=")).foreach { h =>
      val stored = h.stripPrefix("#buckets=").toInt
      if (stored != table.buckets)
        throw new IllegalStateException(
          s"target ${table.name} was created with $stored buckets but " +
            s"TargetTable.buckets is ${table.buckets} — bucket count is " +
            "immutable once written (rebuild the table to change it)")
    }
    val entries = lines.filterNot(_.startsWith("#")).map { line =>
      val Array(b, dir) = line.split("\t", 2)
      b.toInt -> dir
    }.toMap
    if (entries.values.forall(d => fs.exists(new Path(root, d)))) Some(entries)
    else None
  }

  /** The committed version: what `_LATEST` names if that manifest is
    * intact, else (crash recovery) the highest intact manifest on disk. */
  private def currentVersion(): Option[Long] = {
    if (!fs.exists(root)) return None
    val pointed =
      if (fs.exists(pointer)) {
        val in = fs.open(pointer)
        val name =
          try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            StandardCharsets.UTF_8).trim
          finally in.close()
        Some(versionOf('m', name)).filter(_ >= 0).filter(readManifest(_).isDefined)
      } else None
    pointed.orElse {
      val vs = fs.listStatus(root).toSeq
        .map(s => versionOf('m', s.getPath.getName))
        .filter(v => v >= 0 && readManifest(v).isDefined)
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  def exists: Boolean = currentVersion().isDefined

  private def current(): Option[Map[Int, String]] =
    currentVersion().flatMap(readManifest)

  /** Snapshot schema per committed version (schemas are uniform across a
    * version's files by the migration invariant, and a committed
    * version's files are immutable) — caching it lets every read pass an
    * explicit schema and skip the per-read footer-inference Spark job,
    * which at micro-batch cadence costs more driver time than the merge
    * planning itself. Metadata only; no data or results are cached. */
  private val schemaByVersion =
    scala.collection.mutable.HashMap.empty[Long, StructType]

  /** Cache bound (r13 advice): only retained versions stay readable, so
    * a long-lived micro-batch target must not accumulate one StructType
    * per commit for the life of the JVM. Generously above any
    * `retainVersions` in use; eviction drops the OLDEST versions, which
    * are the ones GC retires. */
  private val schemaCacheMax = 64

  private def schemaAt(v: Long, anyDir: String): StructType = synchronized {
    val s = schemaByVersion.getOrElseUpdate(v, readDirs(Seq(anyDir)).schema)
    evictSchemas()
    s
  }

  /** Record version `v`'s schema without reading a footer: a commit
    * knows what it wrote. */
  private def seedSchema(v: Long, s: StructType): Unit = synchronized {
    schemaByVersion(v) = s
    evictSchemas()
  }

  private def evictSchemas(): Unit =
    if (schemaByVersion.size > schemaCacheMax)
      schemaByVersion --= schemaByVersion.keys.toSeq.sorted
        .dropRight(schemaCacheMax)

  private def cachedSchema(v: Long): Option[StructType] =
    synchronized { schemaByVersion.get(v) }

  private def readDirs(dirs: Seq[String],
      schema: Option[StructType] = None): DataFrame = {
    val reader = schema.fold(spark.read)(s => spark.read.schema(s))
    reader.parquet(dirs.map(d => new Path(root, d).toString): _*)
  }

  /** The deletion-vector sidecar applicable when reading version `v`:
    * the newest `x…` sidecar committed at or before `v`. A DV written at
    * version w stays authoritative for every later version until its
    * rows are physically materialized away (rewritten buckets get fresh
    * file paths, so stale DV entries simply stop matching — they can
    * never delete a row they didn't mark). Versions BEFORE w read the
    * previous sidecar (or none): time travel sees pre-delete rows. */
  private def dvVersionFor(v: Long): Option[Long] = {
    if (!fs.exists(root)) return None
    fs.listStatus(root).toSeq
      .map(s => versionOf('x', s.getPath.getName))
      .filter(x => x >= 0 && x <= v)
      .maxOption
  }

  /** Snapshot read at version `v` with merge-on-read deletion vectors:
    * the raw multi-dir scan, anti-joined against the applicable DV
    * sidecar on (file path, in-file row position) — the parquet reader's
    * `_metadata` columns, stable because committed files are immutable.
    * No sidecar ⇒ exactly the raw scan (no metadata projection, no
    * join). The DV is usually tiny relative to the table, so AQE picks a
    * broadcast anti-join; schema is unchanged either way. */
  private def readDirsDv(dirs: Seq[String], v: Long): DataFrame =
    dvVersionFor(v) match {
      case None => readDirs(dirs, Some(schemaAt(v, dirs.head)))
      case Some(_) => readDirsWithMeta(dirs, v).drop(DvFileCol, DvPosCol)
    }

  /** Read a DV sidecar down to its (file path, row position) contract,
    * optionally PRUNING to the named buckets: the sidecar is written
    * partitioned by the bucket parsed from each marked file's path, so
    * a bucket-scoped read scans only the matching sidecar shards
    * (partition pruning on [[DvBucketCol]]) — a reader of one bucket
    * never pays for a corpus-wide delete's full position set. */
  private def readDv(x: Long, buckets: Option[Seq[Int]] = None): DataFrame = {
    val dv = spark.read.parquet(new Path(root, dvName(x)).toString)
    val pruned = buckets match {
      case Some(bs) if dv.columns.contains(DvBucketCol) =>
        dv.filter(col(DvBucketCol).isin(bs: _*))
      case _ => dv
    }
    pruned.select(col(DvFileCol), col(DvPosCol))
  }

  /** Bucket ids named by a set of manifest dir entries
    * (`<delta>/__graft_bucket=N`) — the DV-pruning key. */
  private def bucketIdsOfDirs(dirs: Seq[String]): Seq[Int] =
    dirs.flatMap(_.split('/').lastOption
      .filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt)).distinct

  /** Like [[readDirsDv]] but KEEPING the (file path, row position)
    * metadata columns — for callers that need provenance past the DV
    * anti-join (`input_file_name()` cannot cross a multi-source plan). */
  private def readDirsWithMeta(dirs: Seq[String], v: Long): DataFrame = {
    val base = readDirs(dirs, Some(schemaAt(v, dirs.head)))
      .select(col("*"), col("_metadata.file_path").as(DvFileCol),
        col("_metadata.row_index").as(DvPosCol))
    dvVersionFor(v) match {
      case None => base
      case Some(x) =>
        val ids = bucketIdsOfDirs(dirs)
        val dv = readDv(x, if (ids.nonEmpty) Some(ids) else None)
        base.join(dv, Seq(DvFileCol, DvPosCol), "left_anti")
    }
  }

  /** Current (version, manifest) pair — the read sites that apply
    * deletion vectors need both. */
  private def currentVm(): Option[(Long, Map[Int, String])] =
    currentVersion().flatMap(v => readManifest(v).map(v -> _))

  def read(): Option[DataFrame] =
    currentVm().filter(_._2.nonEmpty).map { case (v, m) =>
      readDirsDv(m.values.toSeq.distinct, v)
    }

  /** Time travel: the snapshot a specific committed version published;
    * None once GC'd past `TargetTable.retainVersions` (or never existed). */
  def readVersion(v: Long): Option[DataFrame] =
    readManifest(v).filter(_.nonEmpty)
      .map(m => readDirsDv(m.values.toSeq.distinct, v))

  /** Change data feed between two committed versions (CDC): the keyed
    * diff from → to, one row per inserted, updated, or deleted key with
    * `_change_type` ∈ insert | update | delete. Insert/update rows carry
    * the post-image, delete rows the pre-image (all table columns).
    *
    * Scale: each manifest records which bucket dirs its commit rewrote,
    * so only buckets whose dir CHANGED between the two manifests are
    * read and diffed — carried-over buckets reference the same immutable
    * files and cannot contain changes. Cost is O(changed buckets), the
    * same pruning merges enjoy (a 1-bucket commit on a 10k-bucket table
    * diffs 1 bucket, not the table); the diff itself is one full-outer
    * join on the merge keys within those buckets, and the key→bucket
    * mapping is version-independent, so no change can hide outside them.
    *
    * With `updatePreimages = true`, an updated key emits TWO rows —
    * `update_preimage` (the old row) and `update_postimage` (the new) —
    * the shape incremental consumers need: downstream aggregates are
    * maintained by subtracting pre-images and adding post-images
    * (see `ops/Incremental`), O(changes) instead of an O(table) rescan.
    *
    * Both versions must still be retained (`TargetTable.retainVersions`)
    * and share one schema — a schema migration rewrites every bucket, so
    * a cross-migration feed would degenerate to "every row changed" and
    * is rejected loud instead. None when either version is gone. */
  def readChanges(
      fromVersion: Long, toVersion: Long,
      updatePreimages: Boolean = false): Option[DataFrame] = {
    require(fromVersion < toVersion,
      s"readChanges needs fromVersion < toVersion, got $fromVersion >= $toVersion")
    for { mo <- readManifest(fromVersion); mn <- readManifest(toVersion) }
    yield {
      val changed = (mo.keySet ++ mn.keySet).toSeq.sorted
        .filter(b => mo.get(b) != mn.get(b))
      // A vectored delete changes NO bucket dirs — its changes hide in
      // the deletion-vector delta. Map the delta's file paths back to
      // their bucket dirs and diff those too (still O(changes), the DV
      // names exactly the touched files).
      val dvHitDirs: Seq[String] = {
        val dvFrom = dvVersionFor(fromVersion)
        val dvTo = dvVersionFor(toVersion)
        if (dvFrom == dvTo) Nil
        else {
          val newDv = readDv(dvTo.get)
          val delta = dvFrom match {
            case Some(x) => newDv.join(readDv(x),
              Seq(DvFileCol, DvPosCol), "left_anti")
            case None => newDv
          }
          val dirByQualified = (mo.values ++ mn.values).toSeq.distinct
            .map(d => fs.makeQualified(new Path(root, d)).toString -> d)
            .toMap
          delta.select(col(DvFileCol)).distinct()
            .collect().map(_.getString(0))
            .flatMap(f => dirByQualified.get(
              fs.makeQualified(new Path(f).getParent).toString))
            .distinct.toSeq
        }
      }
      val oldDirs =
        (changed.flatMap(mo.get) ++ dvHitDirs.filter(mo.values.toSet)).distinct
      val newDirs =
        (changed.flatMap(mn.get) ++ dvHitDirs.filter(mn.values.toSet)).distinct
      val anyDirs = (mn ++ mo).values.toSeq.distinct
      if (anyDirs.isEmpty)
        // table empty at both versions: empty feed, marker column only
        emptyWithSchema(StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "_change_type", org.apache.spark.sql.types.StringType))))
      else {
        // each side's frame is built ONCE (driver-side file listing +
        // parquet footer reads happen per readDirs call); each side
        // applies ITS version's deletion vector, so a vectored delete
        // between the two versions surfaces as `delete` change rows
        val oldFrame =
          if (oldDirs.nonEmpty) Some(readDirsDv(oldDirs, fromVersion)) else None
        val newFrame =
          if (newDirs.nonEmpty) Some(readDirsDv(newDirs, toVersion)) else None
        // No changed buckets: empty feed. The schema must come from the
        // FEED's own versions (prefer toVersion; fall back to fromVersion
        // when the table was empty at toVersion) — routing through the
        // CURRENT version here either poisoned the schema cache across a
        // migration or stamped the feed with a later schema (r13 advice).
        val schema = newFrame.orElse(oldFrame).map(_.schema)
          .getOrElse(
            if (mn.nonEmpty) schemaAt(toVersion, mn.values.toSeq.distinct.head)
            else schemaAt(fromVersion, mo.values.toSeq.distinct.head))
        for { of <- oldFrame; _ <- newFrame } require(of.schema == schema,
          s"readChanges across a schema migration is unsupported: version " +
            s"$fromVersion schema ${of.schema} != version $toVersion schema $schema")
        val o = oldFrame.getOrElse(emptyWithSchema(schema))
        val n = newFrame.getOrElse(emptyWithSchema(schema))
        val cols = schema.fieldNames.toSeq
        val pre = o.select(table.keyCols.map(o.col) :+
          org.apache.spark.sql.functions.struct(cols.map(o.col): _*).as("__pre"): _*)
        val post = n.select(table.keyCols.map(n.col) :+
          org.apache.spark.sql.functions.struct(cols.map(n.col): _*).as("__post"): _*)
        import org.apache.spark.sql.functions.{array, explode, struct, when}
        def tagged(img: Column, ct: String) =
          struct(img.as("img"), lit(ct).as("ct"))
        val updateRows =
          if (updatePreimages)
            array(tagged(col("__pre"), "update_preimage"),
              tagged(col("__post"), "update_postimage"))
          else array(tagged(col("__post"), "update"))
        pre.join(post, table.keyCols, "full_outer")
          .where(!(col("__pre") <=> col("__post")))
          .select(explode(
            when(col("__pre").isNull, array(tagged(col("__post"), "insert")))
              .when(col("__post").isNull, array(tagged(col("__pre"), "delete")))
              .otherwise(updateRows)).as("__r"))
          .select(cols.map(c => col(s"__r.img.$c").as(c)) :+
            col("__r.ct").as("_change_type"): _*)
      }
    }
  }

  /** Point lookup: current rows whose key appears in `keys` (a frame
    * carrying the key columns; extras ignored, duplicates collapsed).
    * Reads ONLY the buckets those keys hash into — the read-side twin of
    * the bucket-pruned merge: a lookup of b distinct keys scans at most
    * min(b, touched-bucket) dirs of the table, not the table. The key
    * set is broadcast and matched with a left-semi join, so the scan
    * side never shuffles. None when the target does not exist. */
  def lookup(keys: DataFrame): Option[DataFrame] =
    currentVm().filter(_._2.nonEmpty).map { case (v, m) =>
      val schema = currentSchema(v, m)
      val bk = conformKeys(
        keys.select(table.keyCols.map(keys.col): _*).distinct(), schema)
      val dirs = bucketsOf(bk).flatMap(m.get).distinct
      if (dirs.isEmpty) emptyWithSchema(schema)
      else readDirsDv(dirs, v).join(
        org.apache.spark.sql.functions.broadcast(bk),
        table.keyCols, "left_semi")
    }

  /** Current rows of an explicit set of buckets — the read primitive a
    * data-skipping sidecar (zone map, Bloom index) resolves its pruning
    * decision into: scan cost is O(selected bucket dirs), never the
    * table. Unknown bucket ids simply select nothing. None when the
    * target does not exist. */
  def readBuckets(bucketIds: Seq[Int]): Option[DataFrame] =
    currentVm().filter(_._2.nonEmpty).map { case (v, m) =>
      val schema = currentSchema(v, m)
      val dirs = bucketIds.distinct.flatMap(m.get).distinct
      if (dirs.isEmpty) emptyWithSchema(schema) else readDirsDv(dirs, v)
    }

  /** Equality lookup by the BUCKET columns alone
    * ([[graft.model.TargetTable.bucketCols]], a declared subset of the
    * key): reads exactly the buckets those values hash into and
    * left-semi filters rows. The read path of a value-bucketed
    * secondary index — an equality probe on the indexed value opens
    * ONE bucket dir however large the index. Falls back to the full
    * key set when no bucketCols were declared (then it equals
    * [[lookup]] semantics on the key prefix). */
  def lookupByBucketCols(vals: DataFrame): Option[DataFrame] =
    currentVm().filter(_._2.nonEmpty).map { case (v, m) =>
      val schema = currentSchema(v, m)
      val bk = conformKeys(
        vals.select(table.hashCols.map(vals.col): _*).distinct(), schema)
      val dirs = bucketsOf(bk).flatMap(m.get).distinct
      if (dirs.isEmpty) emptyWithSchema(schema)
      else readDirsDv(dirs, v).join(
        org.apache.spark.sql.functions.broadcast(bk),
        table.hashCols, "left_semi")
    }

  /** Intact (readable) committed versions, ascending — at most
    * `retainVersions` of them after any commit's GC. */
  def versions(): Seq[Long] = {
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .map(s => versionOf('m', s.getPath.getName))
      .filter(v => v >= 0 && readManifest(v).isDefined)
      .sorted
  }

  /** Per-bucket zone maps (min/max of the version column) of a committed
    * version — the data-skipping sidecar `commit` maintains for integral
    * version columns. A bucket ABSENT from the map has unknown bounds
    * (legacy table, non-integral version column) and must always be
    * read; presence is therefore purely an optimization, never a
    * correctness input. Empty map when no sidecar exists. */
  def zoneMaps(): Map[Int, (Long, Long)] =
    currentVersion().map(readZones).getOrElse(Map.empty)

  private def readZones(v: Long): Map[Int, (Long, Long)] = {
    val p = new Path(root, zoneName(v))
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val text =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        StandardCharsets.UTF_8)
      finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      val Array(b, mn, mx) = line.split("\t", 3)
      b.toInt -> (mn.toLong, mx.toLong)
    }.toMap
  }

  /** Zone-map-pruned range scan: rows of the current snapshot whose
    * version column lies in [lo, hi], reading ONLY the buckets whose
    * recorded [min, max] intersects the range — the classic data-
    * skipping contract (Delta/Iceberg file stats, here at bucket-dir
    * grain on top of parquet's own row-group stats). Buckets without
    * recorded bounds are read (conservative); the row filter is always
    * applied, so pruning can only skip work, never change the answer.
    *
    * Scale: the decision runs on the driver over O(buckets) metadata —
    * no file is opened for a skipped bucket. On a hash-bucketed merge
    * target the high-value query is the INCREMENTAL-SYNC read,
    * "rows with version ≥ last_sync": a bucket not rewritten since
    * last_sync carries its old sidecar bounds (max < last_sync) and is
    * skipped, so the scan cost tracks how many buckets recent commits
    * actually touched — on a 10k-bucket table fed narrow micro-batches,
    * a handful — not the table. A full-history window degrades
    * gracefully to reading everything (hash bucketing spreads keys, so
    * per-bucket version bands of long-lived rows are wide; that is the
    * honest limit of version zone maps under hash layout). */
  def readWhereVersionBetween(lo: Long, hi: Long): Option[DataFrame] =
    currentVm().filter(_._2.nonEmpty).map { case (v, m) =>
      val zones = zoneMaps()
      val chosen = m.filter { case (b, _) =>
        zones.get(b).forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
      val vc = col(table.versionCol).cast("long")
      if (chosen.isEmpty)
        emptyWithSchema(currentSchema(v, m))
      else
        readDirsDv(chosen.values.toSeq.distinct, v)
          .filter(vc >= lo && vc <= hi)
    }

  /** Pruning audit for [[readWhereVersionBetween]]: (buckets_total,
    * buckets_read, buckets_skipped) at the current version. */
  def pruneAudit(lo: Long, hi: Long): Option[(Int, Int, Int)] =
    current().filter(_.nonEmpty).map { m =>
      val zones = zoneMaps()
      val read = m.count { case (b, _) =>
        zones.get(b).forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
      (m.size, read, m.size - read)
    }

  /** Per-bucket row counts + owning delta dir of the current snapshot —
    * the operational stats view (bucket skew, file placement). ONE scan
    * of the snapshot (bucket recovered from the file path), not a job
    * per bucket — thousands of buckets is the intended regime. */
  def stats(): Option[DataFrame] =
    currentVm().filter(_._2.nonEmpty).map { case (v, m) =>
      import spark.implicits._
      val counts = readDirsWithMeta(m.values.toSeq.distinct, v)
        .groupBy(regexp_extract(col(DvFileCol), s"$BucketCol=(\\d+)", 1)
          .cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_rows"))
      m.toSeq.toDF("bucket", "delta_dir")
        .join(counts, Seq("bucket"), "left_outer")
        .na.fill(0L, Seq("n_rows"))
    }

  /** Compaction: rewrite the current snapshot with exactly one file per
    * bucket (a long-lived target accumulates up to maxWriterPartitions
    * files per bucket per rewrite). One commit, data unchanged. */
  def compact(config: IngestConfig): Unit =
    compactClustered(config, _ => Nil)

  /** Compaction with DATA LAYOUT: one file per bucket, rows inside each
    * file sorted by `clusterBy(snapshot)` — pass a Z-order (Morton) key
    * over the hot filter dimensions ([[graft.ops.Layout.mortonKey]])
    * and parquet's per-row-group min/max statistics become tight
    * multi-dimensional zone maps: a range predicate on EITHER clustered
    * dimension skips most row groups of every file it opens, on top of
    * the bucket pruning the manifest already gives. Same commit
    * semantics as [[compact]]: one version, data unchanged, only the
    * physical order moves. */
  def compactClustered(config: IngestConfig,
      clusterBy: DataFrame => Seq[Column]): Unit = withCommitLock {
    // reads through the deletion vector, so compaction MATERIALIZES
    // vectored deletes — the rewritten files carry no deleted rows and
    // the old DV entries dangle harmlessly against the retired paths
    currentVm().filter(_._2.nonEmpty).foreach { case (v, m) =>
      val cur = readDirsDv(m.values.toSeq.distinct, v)
      val bucketed = cur.withColumn(BucketCol, bucketOf(cur))
        .repartition(table.buckets, col(BucketCol))
      val sortWithin = clusterBy(cur)
      commit(Some(
        if (sortWithin.isEmpty) bucketed
        else bucketed.sortWithinPartitions(col(BucketCol) +: sortWithin: _*)),
        Map.empty)
    }
  }

  /** Bucket-count EVOLUTION: rewrite the current snapshot into a fresh
    * target with a different bucket count — the migration path when a
    * table outgrows its layout (the manifest's `#buckets=` header pins
    * the count per root precisely so this can never happen silently
    * in place; Iceberg likewise requires a rewrite for a bucket-spec
    * change). Reads through the deletion vector (vectored deletes
    * materialize), lands as ONE commit at the destination, and leaves
    * the source untouched — cut over readers, then expire the old
    * root. Merge-contract columns must match; the destination root
    * must be empty. Cost: one full-table read + write, the honest
    * price of a partitioning change at any scale. */
  def rebucketTo(destTable: TargetTable, config: IngestConfig)
      : ParquetTarget = {
    require(destTable.path != table.path,
      "rebucket rewrites into a FRESH root; in-place bucket change is " +
        "exactly what the #buckets manifest pin forbids")
    require(destTable.keyCols == table.keyCols &&
      destTable.versionCol == table.versionCol &&
      destTable.tieBreakCols == table.tieBreakCols,
      "rebucket must keep the merge contract (key/version/tie columns)")
    val dest = new ParquetTarget(spark, destTable)
    require(!dest.exists, s"destination ${destTable.path} already exists")
    read().foreach(snap => dest.mergeUpsert(snap, config))
    dest
  }

  /** Zero-copy snapshot clone (branch): publish a manifest at `destRoot`
    * whose bucket entries reference THIS target's committed dirs by
    * ABSOLUTE path — no data bytes move, the clone commits in O(buckets)
    * metadata regardless of table size (the Delta SHALLOW CLONE /
    * Iceberg branch semantic). The clone is a full first-class target:
    * reads serve the shared files; subsequent merges COPY-ON-WRITE —
    * rewritten buckets land under the clone's own root while untouched
    * buckets keep their absolute refs into the source.
    *
    * Caveat (inherent to shallow clones): the source's GC does not know
    * about clone references, so compaction/retention on the SOURCE can
    * delete dirs a clone still points at — clone from sources whose
    * retention outlives the branch, or compact only the clone.
    * `readManifest`'s existence validation turns a violated clone into
    * "no intact version" (loud), never silently partial data. */
  def cloneTo(destRoot: String): Unit = {
    val m = current().getOrElse(throw new IllegalStateException(
      s"cannot clone ${table.name}: no committed version"))
    val dest = new Path(destRoot)
    val dfs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (dfs.exists(new Path(dest, "_LATEST")))
      throw new IllegalStateException(
        s"clone destination $destRoot already has a committed table")
    dfs.mkdirs(dest)
    val entries = m.map { case (b, d) =>
      b -> new Path(root, d).toString
    }
    val mName = f"m${1L}%010d"
    val mPath = new Path(dest, mName)
    val out = dfs.create(mPath, true)
    try out.write((s"#buckets=${table.buckets}" +:
      entries.toSeq.sortBy(_._1).map { case (b, d) => s"$b\t$d" })
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // Carry the zone-map sidecar: the clone references the same files,
    // so the source's per-bucket version bounds stay valid for it.
    val zones = zoneMaps()
    if (zones.nonEmpty) {
      val zOut = dfs.create(new Path(dest, f"z${1L}%010d"), true)
      try zOut.write(zones.toSeq.sortBy(_._1)
        .map { case (b, (mn, mx)) => s"$b\t$mn\t$mx" }
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
      finally zOut.close()
    }
    // Carry the applicable deletion-vector sidecar: the clone references
    // the same immutable files, so the source's (file, position) marks
    // stay valid. Copied (tiny), not referenced — the source may GC its
    // sidecar on its own schedule.
    currentVersion().flatMap(dvVersionFor).foreach { x =>
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new Path(root, dvName(x)), dfs, new Path(dest, f"x${1L}%010d"),
        false, spark.sparkContext.hadoopConfiguration)
    }
    val p = dfs.create(new Path(dest, "_LATEST"), true)
    try p.write(mName.getBytes(StandardCharsets.UTF_8))
    finally p.close()
  }

  /** Row-level retention delete (TTL / compliance erasure): drop every
    * current row matching `pred` in ONE commit, rewriting ONLY the
    * buckets that contain matching rows — untouched buckets carry their
    * existing dirs into the next manifest unread and unwritten, the
    * same partial-rewrite discipline as a merge. A NULL predicate
    * result KEEPS the row (deletion is the action that must be
    * explicit). No-op (no matching rows) publishes nothing.
    *
    * Scale: one pruned scan to find hit buckets (≤ `table.buckets` ids
    * of driver traffic — the merge path's bound), one scan of ONLY the
    * hit buckets to rewrite survivors; time travel still serves the
    * pre-delete version while `retainVersions` keeps it. */
  def deleteWhere(config: IngestConfig, pred: Column): Unit =
    withCommitLock {
      currentVm().filter(_._2.nonEmpty).foreach { case (v, m) =>
        val cur = readDirsDv(m.values.toSeq.distinct, v)
        val hitB = bucketsOf(cur.filter(coalesce(pred, lit(false)))).toSet
        if (hitB.nonEmpty) {
          val hitDirs = m.filter { case (b, _) => hitB(b) }
          val keep = readDirsDv(hitDirs.values.toSeq.distinct, v)
            .filter(!coalesce(pred, lit(false)))
          commit(Some(placeByKey(keep, config)),
            m.view.filterKeys(b => !hitB(b)).toMap)
        }
      }
    }

  /** Merge-on-read delete (DELETION VECTORS): mark every current row
    * matching `pred` deleted by POSITION — (immutable file path, in-file
    * row index) pairs in a parquet sidecar — and commit a new version
    * whose manifest carries every bucket dir unchanged. NOTHING is
    * rewritten: the commit cost is the predicate scan plus a sidecar of
    * the matched positions, however many terabytes the matched buckets
    * hold — the Delta/Iceberg deletion-vector contract, and the right
    * half of the write-amplification trade against [[deleteWhere]]
    * (copy-on-write: pay the rewrite now, reads stay raw scans).
    * Every read path applies the sidecar as an anti-join (merge-on-read,
    * see [[readDirsDv]]); [[compact]] materializes it away. Repeated
    * vectored deletes fold into one cumulative sidecar. Time travel to a
    * pre-delete version still serves the deleted rows (its applicable
    * sidecar predates this one). A NULL predicate result KEEPS the row,
    * exactly like [[deleteWhere]]; no matches ⇒ no commit. */
  def deleteVectored(config: IngestConfig, pred: Column): Unit =
    withCommitLock {
      currentVm().filter(_._2.nonEmpty).foreach { case (v, m) =>
        val prior = dvVersionFor(v).map(x =>
          readDv(x))
        val matched = readDirsWithMeta(m.values.toSeq.distinct, v)
          .filter(coalesce(pred, lit(false)))
          .select(col(DvFileCol), col(DvPosCol)).persist()
        try {
          if (matched.limit(1).count() > 0) {
            val merged = prior
              .map(_.unionByName(matched)).getOrElse(matched).distinct()
            commit(None, m, dvOverride = Some(merged))
          }
        } finally { matched.unpersist(); () }
      }
    }

  /** Key-addressed deletion vectors — [[deleteVectored]]'s merge-shaped
    * twin, and the natural sink for a DELETE stream: mark the positions
    * of every current row whose key appears in `keys`. Bucket-pruned
    * like a merge (only the dirs the key set hashes into are scanned)
    * and broadcast-semi-joined, so a micro-batch of b keys costs
    * O(touched buckets) read and ZERO rewrite. No matches ⇒ no commit
    * (idempotent replay-safe). */
  def deleteVectoredKeys(keys: DataFrame, config: IngestConfig): Unit =
    withCommitLock {
      currentVm().filter(_._2.nonEmpty).foreach { case (v, m) =>
        val schema = currentSchema(v, m)
        val bk = conformKeys(
          keys.select(table.keyCols.map(keys.col): _*).distinct(), schema)
        val dirs = bucketsOf(bk).flatMap(m.get).distinct
        if (dirs.nonEmpty) {
          val prior = dvVersionFor(v).map(x =>
            readDv(x))
          val matched = readDirsWithMeta(dirs, v)
            .join(org.apache.spark.sql.functions.broadcast(bk),
              table.keyCols, "left_semi")
            .select(col(DvFileCol), col(DvPosCol)).persist()
          try {
            if (matched.limit(1).count() > 0) {
              val merged = prior
                .map(_.unionByName(matched)).getOrElse(matched).distinct()
              commit(None, m, dvOverride = Some(merged))
            }
          } finally { matched.unpersist(); () }
        }
      }
    }

  /** Uniform schema of version `v`'s snapshot (invariant: every file a
    * version references shares it — migrations rewrite all buckets).
    * `m` must be `v`'s OWN manifest: the schema cache is keyed by the
    * version whose dirs are read, so threading a mismatched (v, m) pair
    * would poison the cache across a schema migration (the r13 advice
    * defect — the old form keyed every lookup by currentVersion() while
    * reading whatever manifest the caller held). Every caller already
    * holds the pair from [[currentVm]] or [[readManifest]]. */
  private def currentSchema(v: Long, m: Map[Int, String]): StructType =
    schemaAt(v, m.values.toSeq.distinct.head)

  private def emptyWithSchema(s: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)

  /** Bucket ids the rows of `frame` hash into: ONE job and no shuffle —
    * each task sets bits in a bucket bitset, the driver ORs them. On a
    * persisted batch this job is also the one that fills the cache. */
  private def bucketsOf(frame: DataFrame): Seq[Int] = {
    val n = table.buckets
    frame.select(bucketOf(frame)).queryExecution.toRdd
      .aggregate(new java.util.BitSet(n))(
        (seen, row) => { seen.set(row.getInt(0)); seen },
        (a, b) => { a.or(b); a })
      .stream().toArray.toSeq
  }

  /** The writer placement every keyed rewrite uses: rows of one key land
    * in one task, each task writes its share of each bucket. */
  private def placement(config: IngestConfig): Merge.Placement =
    Merge.Placement(BucketCol, bucketOf, config.maxWriterPartitions)

  private def placeByKey(df: DataFrame, config: IngestConfig): DataFrame =
    placement(config)(df, table.keyCols)

  /** Resolve `batch` against `stored` with the one-exchange kernel, placed
    * for [[commit]]. */
  private def keyed(stored: DataFrame, batch: DataFrame, op: Merge.Op,
      config: IngestConfig): DataFrame =
    Merge.keyed(stored, batch, table.keyCols, table.versionCol,
      table.tieBreakCols, op, Some(placement(config)))

  /** Current rows of `buckets` at version `v`, or an empty frame of
    * `schema` when the table holds none of them. DV-aware: a rewritten
    * bucket must not resurrect rows a vectored delete already marked. */
  private def slice(v: Long, m: Map[Int, String], buckets: Seq[Int],
      schema: StructType): DataFrame = {
    val dirs = buckets.flatMap(m.get).distinct
    if (dirs.nonEmpty) readDirsDv(dirs, v) else emptyWithSchema(schema)
  }

  /** Cast every batch column that exists in the snapshot to its STORED
    * type. Two reasons this must cover ALL columns, not just keys:
    * Murmur3 hashes differ across integer widths, so a differently-typed
    * batch key would prune the wrong buckets (and the union-coerced merge
    * output would hash into buckets the merge never read); and any wider
    * batch column would union-coerce the rewritten buckets onto a
    * different parquet type than the carried-over buckets, breaking the
    * uniform-snapshot-schema invariant multi-dir reads rely on. */
  private def conformKeys(batch: DataFrame, stored: StructType): DataFrame = {
    val types = stored.map(f => f.name -> f.dataType).toMap
    batch.columns.foldLeft(batch) { (df, c) =>
      types.get(c) match {
        case Some(t) if df.schema(c).dataType != t =>
          df.withColumn(c, df.col(c).cast(t))
        case _ => df
      }
    }
  }

  /** Latest-wins merge of one micro-batch — the analog of the sender task
    * executing `INSERT … ON CONFLICT DO UPDATE` (quick_stream
    * `src/upsert.rs:283-295`), bucket-pruned: only buckets containing
    * batch keys are read and rewritten. */
  def mergeUpsert(batch: DataFrame, config: IngestConfig): Unit =
    withCommitLock { withCached(batch) { b =>
      // A hard delete can legitimately empty the table: its manifest has
      // zero entries and no schema to derive, so the next upsert
      // re-initializes exactly like a fresh table instead of crashing on
      // a zero-path schema read.
      currentVm().filter(_._2.nonEmpty) match {
        case None =>
          commit(Some(keyed(emptyWithSchema(b.schema), b, Merge.Op.Upsert(),
            config)), Map.empty)
        case Some((v, m)) =>
          val schema = currentSchema(v, m)
          val bk = conformKeys(b, schema)
          val affected = bucketsOf(bk)
          commit(Some(keyed(slice(v, m, affected, schema), bk,
            Merge.Op.Upsert(Map(table.softDeleteCol -> lit(true))), config)),
            m -- affected)
      }
    }}

  /** Soft delete (sets `table.softDeleteCol` false). First use migrates
    * the flag column in by rewriting every bucket once, so the snapshot
    * schema stays uniform. */
  def mergeSoftDelete(batch: DataFrame, config: IngestConfig): Unit =
    withCommitLock { withCached(batch) { b =>
      currentVm().filter(_._2.nonEmpty).foreach { case (v, m) =>
        val schema = currentSchema(v, m)
        val migrating = !schema.fieldNames.contains(table.softDeleteCol)
        mergeDelete(v, m, conformKeys(b, schema), migrating,
          Merge.Op.SoftDelete(table.softDeleteCol), config)
      }
    }}

  /** Hard delete (drops the rows). */
  def mergeHardDelete(batch: DataFrame, config: IngestConfig): Unit =
    withCommitLock { withCached(batch) { b =>
      currentVm().filter(_._2.nonEmpty).foreach { case (v, m) =>
        mergeDelete(v, m, conformKeys(b, currentSchema(v, m)),
          allBuckets = false, Merge.Op.HardDelete, config)
      }
    }}

  /** Tombstone merge over the buckets the tombstones hash into (every
    * bucket when `allBuckets`); no stored bucket touched ⇒ no commit. */
  private def mergeDelete(v: Long, m: Map[Int, String], tombstones: DataFrame,
      allBuckets: Boolean, op: Merge.Op, config: IngestConfig): Unit = {
    val affected = if (allBuckets) m.keys.toSeq else bucketsOf(tombstones)
    val sliceDirs = affected.flatMap(m.get).distinct
    if (sliceDirs.nonEmpty)
      commit(Some(keyed(readDirsDv(sliceDirs, v), tombstones, op, config)),
        m -- affected)
  }

  /** The batch is scanned twice per merge (the bucket set, then the
    * merge's exchange) — cache it for the duration so the source
    * micro-batch is read once, not once per use. */
  private def withCached(batch: DataFrame)(f: DataFrame => Unit): Unit = {
    val cached = batch.persist()
    try f(cached) finally { cached.unpersist(); () }
  }

  /** Single-writer lease: the manifest protocol assumes one writer per
    * target (two concurrent streams could both read version N and publish
    * competing N+1 manifests, silently losing one committed merge — the
    * Postgres reference gets this from DB transactions). A create-exclusive
    * `_LOCK` file makes contention fail LOUD instead. The lease wraps the
    * WHOLE merge (manifest read → merge → commit), not just the commit —
    * a commit-only lease would still let a writer that read version N
    * before another's commit publish a manifest carrying stale bucket
    * references, silently clobbering the other's merge without the leases
    * ever overlapping. A crash inside the lease leaves it stale; recovery
    * is explicit via [[breakLock]] after confirming no writer is alive —
    * never automatic, because auto-expiry would re-open the silent-clobber
    * window.
    *
    * Atomicity caveat: `create(path, overwrite=false)` is atomic on HDFS
    * (and kin) but check-then-create on RawLocalFileSystem and
    * object-store connectors (S3A), where two racing writers can both
    * "succeed". On atomic filesystems the lease alone is mutual
    * exclusion and the commit pays nothing extra. Elsewhere the lease
    * writes a unique token and reads it back — the overwrite race
    * resolves last-writer-wins, the loser sees a foreign token and
    * aborts, so at most one writer proceeds. `leaseSettleMillis`
    * (default 0: single-writer deployments should not tax every
    * micro-batch) optionally pauses before the read-back so a racing
    * overwrite lands first on stores with delayed visibility. This
    * shrinks the race window rather than closing it — for genuinely
    * concurrent multi-writer deployments on object stores, front the
    * target with external coordination (the reference gets this from
    * Postgres transactions; see src/upsert.rs:209-269). */
  private def withCommitLock[A](f: => A): A = {
    val token =
      s"${java.util.UUID.randomUUID()}:${System.nanoTime()}".getBytes("UTF-8")
    val out =
      try fs.create(lockPath, false)
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"cannot acquire writer lease $lockPath for target ${table.name}: " +
            "ParquetTarget is single-writer (route upserts and deletes " +
            "through one stream); if the previous writer crashed mid-commit, " +
            "call breakLock() after confirming it is dead", e)
      }
    // A failed token write must not orphan the just-created lease file —
    // that would wedge every later writer until a manual breakLock().
    try { try { out.write(token); out.hsync() } finally out.close() }
    catch { case e: Throwable => fs.delete(lockPath, false); throw e }
    if (!atomicCreateExclusive) {
      if (leaseSettleMillis == 0) warnSettleDisabledOnce()
      onLeaseSettle()
      val readBack = {
        val in = fs.open(lockPath)
        try { // read to EOF: a single read() may legally return short
          val buf = new java.io.ByteArrayOutputStream(token.length + 16)
          val b = new Array[Byte](256)
          var n = in.read(b)
          while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
          buf.toByteArray
        } finally in.close()
      }
      if (!java.util.Arrays.equals(readBack, token))
        throw new IllegalStateException(
          s"writer lease $lockPath for target ${table.name} was overwritten " +
            "by a concurrent writer (non-atomic create-exclusive on this " +
            "filesystem); aborting without committing")
    }
    try f finally { fs.delete(lockPath, false); () }
  }

  /** Whether this target's filesystem guarantees an atomic
    * create-exclusive, making the lease's post-write token verification
    * redundant. HDFS-family namenode creates are atomic; RawLocalFileSystem
    * and object-store connectors are check-then-create. */
  private def atomicCreateExclusive: Boolean =
    Set("hdfs", "viewfs", "webhdfs", "swebhdfs").contains(fs.getUri.getScheme)

  /** One warning per target instance: with settle=0 on a non-atomic store,
    * two racers that both pass create() will each likely read back their own
    * token before the other's overwrite lands — the verification is then
    * mostly ineffective, fine for the supported single-writer contract but
    * worth a trace if a second writer does exist
    * (`IngestConfig.leaseSettleMillis` is the knob). */
  private lazy val warnSettleDisabledOnce: () => Unit = {
    org.slf4j.LoggerFactory.getLogger(classOf[ParquetTarget]).warn(
      "target {}: filesystem scheme '{}' has non-atomic create-exclusive and " +
        "leaseSettleMillis=0 — the writer-lease token verification cannot " +
        "catch a concurrent writer reliably; this is fine for single-writer " +
        "deployments, otherwise set IngestConfig.leaseSettleMillis (~50ms)",
      table.name, fs.getUri.getScheme)
    () => ()
  }

  /** Test seam: runs at the settle point of the non-atomic lease path —
    * after the token write closes, before the read-back. Default is the
    * `leaseSettleMillis` pause; specs replace it to sequence a racing
    * overwrite deterministically instead of timing a racer thread against
    * a wall-clock sleep. */
  private[graft] var onLeaseSettle: () => Unit =
    () => if (leaseSettleMillis > 0) Thread.sleep(leaseSettleMillis)

  /** Remove a stale writer lease left by a crash (see [[withCommitLock]]). */
  def breakLock(): Unit = { fs.delete(lockPath, false); () }

  /** Explicit schema migration: applies `transform` to the full current
    * snapshot and rewrites EVERY bucket in one commit, keeping the
    * uniform-snapshot-schema invariant (all referenced files share one
    * schema). This is the deliberate path for widening/adding/dropping
    * payload columns — implicit widening on merge stays rejected
    * (Merge.conform fails loud) so a misconfigured upstream can't mutate
    * the table by accident. Merge-contract columns (keys + ordering) must
    * survive the transform. No-op on an empty/absent target. */
  def migrate(config: IngestConfig)(transform: DataFrame => DataFrame): Unit =
    withCommitLock {
      currentVm().filter(_._2.nonEmpty).foreach { case (v, m) =>
        val out = transform(readDirsDv(m.values.toSeq.distinct, v))
        val missing =
          (table.keyCols ++ table.orderingCols).diff(out.columns.toSeq)
        require(missing.isEmpty,
          s"migration dropped merge-contract columns: ${missing.mkString(", ")}")
        commit(Some(placeByKey(out, config)), Map.empty)
      }
    }

  /** Write `placed`'s buckets under the next delta dir, publish a
    * manifest of (carried-over ++ rewritten) buckets, repoint `_LATEST`,
    * GC. `placed` already carries [[BucketCol]] and its writer placement
    * (it is written as is, no re-partitioning); None writes no data (a
    * deletion-vector commit). The data fully materializes before any
    * existing state is referenced or touched (we may be reading dirs we're
    * superseding). Callers hold the `_LOCK` lease (every public mutator
    * wraps itself in withCommitLock). */
  private def commit(
      placed: Option[DataFrame], carryOver: Map[Int, String],
      dvOverride: Option[DataFrame] = None): Unit = {
    val cur = currentVersion().getOrElse(0L)
    // Purge orphan deletion-vector sidecars from a crashed deleteVectored
    // (sidecar written, manifest never published): left in place they
    // would silently activate for THIS commit's version.
    if (fs.exists(root)) fs.listStatus(root).toSeq.map(_.getPath).foreach {
      p => if (versionOf('x', p.getName) > cur) fs.delete(p, true)
    }
    val next = cur + 1L
    val delta = deltaName(next)
    val deltaPath = new Path(root, delta)
    // The next version's schema is what this commit writes, as a footer
    // read would infer it (parquet files hold every field nullable);
    // carried-over buckets share it by the uniform-schema invariant.
    val schema = placed match {
      case Some(df) => Some(GraftSql.asNullable(
        StructType(df.schema.filterNot(_.name == BucketCol))))
      case None => cachedSchema(cur)
    }
    val zonable = schema.flatMap(_.find(_.name == table.versionCol))
      .map(_.dataType)
      .exists {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }

    // Zone-map bounds (per-bucket min/max of the version column, for
    // data-skipping range reads) of the buckets this commit writes are
    // OBSERVED during the write — a per-bucket aggregate riding the write
    // job, no re-read. NULL versions are skipped, so a bucket holding only
    // NULLs gets no entry (unknown bounds: always read).
    val observed = if (zonable) Some(Observation()) else None
    // Buckets actually written (empty merge output writes none).
    val written = placed.fold(Map.empty[Int, String]) { df =>
      observed.fold(df)(o => df.observe(o,
        udaf(new ParquetTarget.ZoneBounds(table.buckets),
          Encoders.tuple(Encoders.scalaInt, Encoders.LONG))(
          col(BucketCol), col(table.versionCol).cast("long")).as("z")))
        .write.partitionBy(BucketCol).mode("overwrite")
        .parquet(deltaPath.toString)
      fs.listStatus(deltaPath).toSeq
        .map(_.getPath.getName)
        .filter(_.startsWith(s"$BucketCol="))
        .map(n => n.stripPrefix(s"$BucketCol=").toInt -> s"$delta/$n")
        .toMap
    }
    val entries = carryOver ++ written

    // Zone-map sidecar: observed bounds for written buckets, the previous
    // sidecar's bounds for carried-over ones (their files did not
    // change). Written before the pointer repoint — an orphan sidecar
    // from a crashed commit is unreachable, and a MISSING sidecar (or a
    // missing bucket) only disables pruning, never correctness.
    // Non-integral version columns get no sidecar (no pruning).
    if (zonable) {
      // The observed row arrives through the listener bus; should it never
      // come, the written buckets just get no bounds.
      val writtenZones = observed
        .filter(_ => written.nonEmpty)
        .flatMap(o => scala.util.Try(scala.concurrent.Await.result(
          o.future, scala.concurrent.duration.Duration(10, "s"))).toOption)
        .map(r => ParquetTarget.ZoneBounds.decode(r.getSeq[Long](0)))
        .getOrElse(Map.empty)
      val carriedZones = readZones(cur)
        .filter { case (b, _) => carryOver.contains(b) }
      val zones = carriedZones ++ writtenZones
      val zPath = new Path(root, zoneName(next))
      val zOut = fs.create(zPath, true)
      try zOut.write(zones.toSeq.sortBy(_._1)
        .map { case (b, (mn, mx)) => s"$b\t$mn\t$mx" }
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
      finally zOut.close()
    }

    // Deletion-vector sidecar (only a vectored delete writes one; normal
    // commits leave the previous sidecar authoritative via the
    // latest-at-or-before-version rule). Written before the pointer
    // repoint: an orphan from a crash is purged at the next commit.
    // SHARDED by the bucket each marked file belongs to (parsed from its
    // path) so a corpus-wide predicate delete fans out across writer
    // tasks instead of funnelling one coalesced task, and bucket-scoped
    // readers partition-prune the sidecar to their shards ([[readDv]]).
    dvOverride.foreach { dv =>
      dv.withColumn(DvBucketCol,
          regexp_extract(col(DvFileCol), s"$BucketCol=(\\d+)", 1)
            .cast("int"))
        .repartition(col(DvBucketCol))
        .write.partitionBy(DvBucketCol).mode("overwrite")
        .parquet(new Path(root, dvName(next)).toString)
    }

    // Publish the manifest, then atomically repoint. Crash between the
    // two: the intact pointer still names version next-1, the replayed
    // micro-batch re-merges idempotently onto it, deletes this orphan
    // manifest below and republishes version next. Pointer lost too:
    // recovery scans to the highest intact manifest — this one. Rename
    // results are checked: on HDFS a rename onto an existing destination
    // returns false instead of overwriting (a replayed commit hits this),
    // so the stale destination is deleted first and a false return is an
    // error, never silence.
    val mPath = new Path(root, manifestName(next))
    val mTmp = new Path(root, manifestName(next) + ".tmp")
    val out = fs.create(mTmp, true)
    try out.write((s"#buckets=${table.buckets}" +:
      entries.toSeq.sortBy(_._1).map { case (b, d) => s"$b\t$d" })
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(mPath)) fs.delete(mPath, false)
    if (!fs.rename(mTmp, mPath))
      throw new IllegalStateException(s"failed to publish manifest $mPath")
    val p = fs.create(pointerTmp, true)
    try p.write(manifestName(next).getBytes(StandardCharsets.UTF_8))
    finally p.close()
    if (fs.exists(pointer)) fs.delete(pointer, false)
    if (!fs.rename(pointerTmp, pointer))
      throw new IllegalStateException(s"failed to repoint $pointer")
    schema.foreach(seedSchema(next, _))

    // GC: manifests older than the retention window, and bucket dirs no
    // RETAINED manifest references (readers resolved against any retained
    // version keep their files; retainVersions = 1 keeps only `next`).
    gcRetained(next, entries, table.retainVersions)
  }

  /** Explicit snapshot expiry — the on-demand VACUUM twin of the
    * per-commit GC (Iceberg `expire_snapshots` / Delta `VACUUM`):
    * shrink the LIVE retention window to `keep` versions without
    * writing any data. Same rules as commit-time GC — a bucket dir
    * survives iff some retained manifest still references it, the
    * newest at-or-below-window deletion-vector sidecar stays
    * authoritative for the window floor — so a crash mid-expiry leaves
    * a superset of the retained state (idempotent; rerun to finish).
    * Time travel to an expired version returns None afterwards; every
    * retained version stays byte-identical. No-op (0 removed) when the
    * table already holds ≤ `keep` versions or does not exist. Returns
    * (versions_before, versions_after). */
  def expireSnapshots(keep: Int): (Long, Long) = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val before = versions().size.toLong
    currentVm().foreach { case (v, entries) => gcRetained(v, entries, keep) }
    (before, versions().size.toLong)
  }

  /** Metadata-only ROLLBACK (Iceberg `rollback_to_snapshot`): republish
    * version `v`'s manifest as a NEW commit. No data file is rewritten
    * or deleted — the bad commits stay in history for audit until GC
    * ages them out — and the new current state is bit-identical to
    * `readVersion(v)`. Sidecars are re-pinned alongside the manifest:
    * the zone map is copied from z_v (same entries ⇒ same bounds; a
    * GC'd z_v just disables pruning, never correctness), and the
    * deletion-vector state applicable AT v is copied to the new
    * version — or, when v predates every vector, an explicit EMPTY
    * sidecar is published so vectors from the rolled-back-over commits
    * cannot leak into the restored state (the at-or-before resolution
    * rule would otherwise pick them up). O(metadata) cost: one manifest
    * copy + sidecar copies, zero data IO — the property that makes
    * rollback instant at 100 TB. */
  def rollbackTo(v: Long): Unit = withCommitLock {
    val conf = spark.sparkContext.hadoopConfiguration
    val cur = currentVersion().getOrElse(
      throw new IllegalStateException("rollback on an empty target"))
    require(v >= 1 && v <= cur, s"version $v out of range 1..$cur")
    require(readManifest(v).isDefined,
      s"version $v is expired or references GC'd files — cannot roll back")
    // purge orphan DV sidecars from crashed commits (commit() posture)
    fs.listStatus(root).toSeq.map(_.getPath).foreach { p =>
      if (versionOf('x', p.getName) > cur) fs.delete(p, true)
    }
    val next = cur + 1L
    val zSrc = new Path(root, zoneName(v))
    if (fs.exists(zSrc))
      org.apache.hadoop.fs.FileUtil.copy(
        fs, zSrc, fs, new Path(root, zoneName(next)), false, conf)
    dvVersionFor(v) match {
      case Some(x) =>
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new Path(root, dvName(x)), fs, new Path(root, dvName(next)),
          false, conf)
      case None =>
        val laterDvExists = fs.listStatus(root).exists(s =>
          versionOf('x', s.getPath.getName) >= 0)
        if (laterDvExists) {
          // one empty parquet part WITH a footer (repartition(1) forces
          // a task) so the at-or-before DV resolution lands here and
          // reads an empty vector, masking the rolled-back-over ones
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(DvFileCol,
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField(DvPosCol,
              org.apache.spark.sql.types.LongType)))
          spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              schema)
            .repartition(1)
            .write.mode("overwrite")
            .parquet(new Path(root, dvName(next)).toString)
        }
    }
    // republish v's manifest verbatim as m_next, then repoint
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(root, manifestName(v)), fs,
      new Path(root, manifestName(next)), false, conf)
    val p = fs.create(pointerTmp, true)
    try p.write(manifestName(next).getBytes(StandardCharsets.UTF_8))
    finally p.close()
    if (fs.exists(pointer)) fs.delete(pointer, false)
    if (!fs.rename(pointerTmp, pointer))
      throw new IllegalStateException(s"failed to repoint $pointer")
    cachedSchema(v).foreach(seedSchema(next, _))
    gcRetained(next, readManifest(next).getOrElse(Map.empty),
      table.retainVersions)
  }

  /** Shared GC kernel: retain `retain` versions ending at `newest`
    * (whose manifest entries are `newestEntries`); delete every older
    * manifest/zone sidecar, every bucket dir no retained manifest
    * references, and every deletion-vector sidecar superseded at the
    * window floor. */
  private def gcRetained(
      newest: Long, newestEntries: Map[Int, String], retain: Int): Unit = {
    val oldestKept = newest - retain + 1
    val referenced = newestEntries.values.toSet ++
      (oldestKept until newest).flatMap(readManifest(_)).flatMap(_.values)
    // Deletion-vector sidecars outlive the manifest retention window: a
    // sidecar below the window is still THE applicable vector for every
    // retained version until a newer one supersedes it, so only sidecars
    // strictly older than the newest at-or-below-window one are dead.
    val dvKeepFloor = fs.listStatus(root).toSeq
      .map(s => versionOf('x', s.getPath.getName))
      .filter(x => x >= 0 && x <= oldestKept)
      .maxOption.getOrElse(Long.MinValue)
    fs.listStatus(root).toSeq.map(_.getPath).foreach { path =>
      val n = path.getName
      if (versionOf('m', n) >= 0 && versionOf('m', n) < oldestKept)
        fs.delete(path, false)
      else if (versionOf('z', n) >= 0 && versionOf('z', n) < oldestKept)
        fs.delete(path, false)
      else if (versionOf('x', n) >= 0 && versionOf('x', n) < dvKeepFloor)
        fs.delete(path, true)
      else if (versionOf('d', n) >= 0) {
        fs.listStatus(path).toSeq.map(_.getPath)
          .filter(_.getName.startsWith(s"$BucketCol="))
          .foreach { b =>
            if (!referenced.contains(s"$n/${b.getName}")) fs.delete(b, true)
          }
        if (!fs.listStatus(path).exists(_.getPath.getName.startsWith(s"$BucketCol=")))
          fs.delete(path, true)
      }
    }
  }
}

private object ParquetTarget {

  /** Per-bucket [min, max] of a BIGINT over (bucket, value) rows, NULL
    * values skipped: the buffer holds the minima in `[0, n)` and the maxima
    * in `[n, 2n)`, so a bucket with no non-NULL value keeps min > max. */
  final class ZoneBounds(n: Int)
      extends Aggregator[(Int, java.lang.Long), Array[Long], Array[Long]] {
    def zero: Array[Long] = {
      val a = new Array[Long](2 * n)
      java.util.Arrays.fill(a, 0, n, Long.MaxValue)
      java.util.Arrays.fill(a, n, 2 * n, Long.MinValue)
      a
    }
    def reduce(a: Array[Long], in: (Int, java.lang.Long)): Array[Long] = {
      if (in._2 != null) {
        val v: Long = in._2
        if (v < a(in._1)) a(in._1) = v
        if (v > a(n + in._1)) a(n + in._1) = v
      }
      a
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < n) {
        if (b(i) < a(i)) a(i) = b(i)
        if (b(n + i) > a(n + i)) a(n + i) = b(n + i)
        i += 1
      }
      a
    }
    def finish(a: Array[Long]): Array[Long] = a
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  object ZoneBounds {
    /** bucket -> (min, max) for every bucket that saw a non-NULL value. */
    def decode(a: collection.Seq[Long]): Map[Int, (Long, Long)] = {
      val n = a.length / 2
      (0 until n).filter(b => a(b) <= a(n + b))
        .map(b => b -> ((a(b), a(n + b)))).toMap
    }
  }
}
