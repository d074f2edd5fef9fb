package graft.gates

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry._
import graft.engine.UpsertStream
import graft.functions.{OracleSql, TextHash}
import graft.ops.TextAnalysis.LangProfiles
import graft.model.{IngestConfig, TargetTable}
import graft.multimodal.Multimodal
import graft.ops.{BatchSplit, Dedup, Html, NearDup, Similarity, TextAnalysis}
import graft.sink.Merge
import graft.gates.GateOracleShared._

/** Storage-engine gates: merge/delete sinks, versioned bucketed targets, CDC (o*).
  *
  * Split from the monolithic SparkEntry registry (r10); see
  * [[graft.SparkEntry]] for the oracle-safety conventions and the
  * duplicate-refusing merge. Shared oracle CTEs live in
  * [[GateOracleShared]]. */
private[graft] object StorageGates {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- O1/O2: latest-wins dedup (the reference's core operator) ----
    "o1_dedup_latest_wins" -> ((s, dir) =>
      stateOut(Dedup.latestWins(eventRecords(s, dir), key, ver, tie))),

    "o1b_dedup_window" -> ((s, dir) =>
      stateOut(Dedup.latestWinsWindow(eventRecords(s, dir), key, ver, tie))),

    // ---- O2: sort-desc pre-pass, expressed as deterministic top-k ----
    "o2_sort_topk" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
        .limit(100)
        .select(
          col("event_id"),
          col("ts_us"),
          col("user_id"),
          col("event_type"))),

    // ---- O3: fixed-arity batch split (100/10/remainder) as a chunk plan ----
    "o3_batch_split" -> ((s, dir) =>
      BatchSplit.chunkPlan(
        t(s, dir, "events").withColumnRenamed("event_type", "route"),
        Seq("route"))),

    // ---- Governance: batch-level data contract on the merge path —
    //      a dirty batch is rejected whole (target untouched), cleaned
    //      batches land; final state = latest-wins over clean rows only ----
    "o27_contract_gate" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o27_").toString
      val tbl = graft.model.TargetTable("events_cg", s"$tmp/t",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val cfg = IngestConfig(name = s"o27-cg-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val pt = new graft.sink.ParquetTarget(s, tbl)
      val rules = Seq("low_value" -> (col("value") >= 0.05))
      val ev = eventRecords(s, dir)
      graft.sink.Merge.contractUpsert(pt,
        ev.filter(col("event_id") % 2 === 0 && col("value") >= 0.05),
        cfg, rules)
      // the raw odd half violates the contract → rejected whole
      try graft.sink.Merge.contractUpsert(pt,
        ev.filter(col("event_id") % 2 === 1), cfg, rules)
      catch { case _: IllegalStateException => () }
      graft.sink.Merge.contractUpsert(pt,
        ev.filter(col("event_id") % 2 === 1 && col("value") >= 0.05),
        cfg, rules)
      stateOut(pt.read().get)
    }),

    // ---- Warehouse: INCREMENTAL SCD2 — time-ordered change chunks
    //      applied batch-by-batch must land on the one-shot history
    //      (the fold property streaming dimension maintenance rests on) ----
    "o26_scd2_incremental" -> ((s, dir) => {
      val all = scd2Changes(s, dir)
      val early = all.filter(col("ts") <= 1000L)
      val late = all.filter(col("ts") > 1000L)
      val step1 = graft.ops.Scd2.applyChanges(scd2Baseline(s, dir),
        early, "c_custkey", "ts", Seq("c_mktsegment", "c_acctbal"))
      graft.ops.Scd2.applyChanges(step1, late,
        "c_custkey", "ts", Seq("c_mktsegment", "c_acctbal"))
    }),

    // ---- O5: keyed MERGE (one-shuffle arg-max over target ∪ batch) ----
    "o5_merge_upsert" -> ((s, dir) => {
      val ev = eventRecords(s, dir)
      val existing = Dedup.latestWins(
        ev.filter(col("event_id") % 2 === 0), key, ver, tie)
      val incoming = ev.filter(col("event_id") % 2 === 1)
      stateOut(Merge.upsert(existing, incoming, key, ver, tie))
    }),

    // ---- O5 replay idempotence — the exactly-once-by-idempotence
    //      contract a restarted stream leans on: merging the SAME batch
    //      twice (and replaying half of it a third time) must equal the
    //      single clean run, so at-least-once delivery upgrades to
    //      exactly-once state. Oracle = the plain latest-wins state ----
    "o5c_merge_replay" -> ((s, dir) => {
      val ev = eventRecords(s, dir)
      val existing = Dedup.latestWins(
        ev.filter(col("event_id") % 2 === 0), key, ver, tie)
      val incoming = ev.filter(col("event_id") % 2 === 1)
      val once = Merge.upsert(existing, incoming, key, ver, tie)
      val twice = Merge.upsert(once, incoming, key, ver, tie)
      val replayedHalf = incoming.filter(col("event_id") % 4 === 1)
      stateOut(Merge.upsert(twice, replayedHalf, key, ver, tie))
    }),

    // ---- O5: same semantics via the full-outer shuffle strategy ----
    "o5b_merge_shuffle" -> ((s, dir) => {
      val ev = eventRecords(s, dir)
      val existing = Dedup.latestWins(
        ev.filter(col("event_id") % 2 === 0), key, ver, tie)
      val incoming = ev.filter(col("event_id") % 2 === 1)
      stateOut(Merge.upsertShuffle(existing, incoming, key, ver, tie))
    }),

    // ---- O6: soft delete (tombstone flag) ----
    "o6_soft_delete" -> ((s, dir) => {
      val ev = eventRecords(s, dir)
      val target = Dedup.latestWins(ev, key, ver, tie)
      val dels = ev.filter(col("event_type") === "error")
      Merge.softDelete(target, dels, key, ver, tie, "row_active")
        .select(
          col("pkey"),
          col("modified_date_us"),
          col("value"),
          col("row_active"))
    }),

    // ---- O6 replay idempotence: the same tombstone batch applied
    //      twice equals once (delete-side exactly-once contract) ----
    "o6c_delete_replay" -> ((s, dir) => {
      val ev = eventRecords(s, dir)
      val target = Dedup.latestWins(ev, key, ver, tie)
      val dels = ev.filter(col("event_type") === "error")
      val once = Merge.softDelete(target, dels, key, ver, tie, "row_active")
      Merge.softDelete(once, dels, key, ver, tie, "row_active")
        .select(
          col("pkey"),
          col("modified_date_us"),
          col("value"),
          col("row_active"))
    }),

    // ---- O6: hard delete ----
    "o6b_hard_delete" -> ((s, dir) => {
      val ev = eventRecords(s, dir)
      val target = Dedup.latestWins(ev, key, ver, tie)
      val dels = ev.filter(col("event_type") === "error")
      Merge.hardDelete(target, dels, key, ver, tie)
        .select(
          col("pkey"),
          col("modified_date_us"),
          col("value"))
    }),

    // ---- Point lookup: bucket-pruned key fetch from a target (reads
    //      only the buckets the key set hashes into) ----
    "o14_target_lookup" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o14_").toString
      val target = TargetTable("events_lkp", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 8)
      val cfg = IngestConfig(name = s"o14-lkp-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      val pt = new graft.sink.ParquetTarget(s, target)
      pt.mergeUpsert(ev, cfg)
      val keys = ev.filter(col("pkey") % 25 === 3).select(col("pkey"))
      stateOut(pt.lookup(keys).get)
    }),

    // ---- CDC: change feed between target versions (manifest-pruned
    //      keyed diff). v1 = even events, v2 = + odd events, v3 = hard
    //      delete of pkey%10=7; feed v1→v3 mixes all three change types ----
    "o13_cdc_changes" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o13_").toString
      val target = TargetTable("events_cdc", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4,
        retainVersions = 4)
      val cfg = IngestConfig(name = s"o13-cdc-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      val pt = new graft.sink.ParquetTarget(s, target)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 0), cfg)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 1), cfg)
      pt.mergeHardDelete(ev.filter(col("pkey") % 10 === 7), cfg)
      pt.readChanges(1L, 3L).get
        .select(col("pkey"), col("modified_date_us"), col("event_type"),
          col("value"), col("_change_type"))
    }),

    // ---- Time travel: after a second merge, the FIRST retained version
    //      must still read as batch 1's latest-wins state, bit-for-bit
    //      (manifests are immutable; retention keeps referenced dirs) ----
    "o15_time_travel" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o15_").toString
      val target = TargetTable("events_tt", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4,
        retainVersions = 4)
      val cfg = IngestConfig(name = s"o15-tt-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      val pt = new graft.sink.ParquetTarget(s, target)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 0), cfg)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 1), cfg)
      stateOut(pt.readVersion(1L).get)
    }),

    // ---- Storage: bucket-count evolution — rewrite the snapshot into
    //      a wider layout (4 -> 8 buckets) in one commit; the gate
    //      asserts the layout internally (loud red on violation), the
    //      oracle checks the data is byte-identical ----
    "o35_rebucket" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o35_").toString
      val src = TargetTable("events_rb", s"$tmp/src",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val dst = TargetTable("events_rb", s"$tmp/dst",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 8)
      val cfg = IngestConfig(name = s"o35-rb-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      val pt = new graft.sink.ParquetTarget(s, src)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 0), cfg)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 1), cfg)
      val dest = pt.rebucketTo(dst, cfg)
      require(dest.versions() == Seq(1L), "rebucket must be ONE commit")
      require(dest.stats().get.agg(max(col("bucket"))).head.getInt(0) >= 4,
        "wider layout must actually use high bucket ids")
      require(pt.read().get.count() == dest.read().get.count(),
        "source stays untouched and row counts agree")
      stateOut(dest.read().get)
        .withColumn("n_buckets_before", lit(4))
        .withColumn("n_buckets_after", lit(8))
    }),

    // ---- Storage: explicit snapshot expiry (VACUUM) — four commits,
    //      then shrink the live window to 2 WITHOUT writing data; the
    //      current state must stay byte-identical, expired versions
    //      must be gone, survivors readable ----
    "o34_snapshot_expire" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o34_").toString
      val target = TargetTable("events_exp", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4,
        retainVersions = 8)
      val cfg = IngestConfig(name = s"o34-exp-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      val pt = new graft.sink.ParquetTarget(s, target)
      (0 to 3).foreach(m =>
        pt.mergeUpsert(ev.filter(col("event_id") % 4 === m), cfg))
      val (nb, na) = pt.expireSnapshots(keep = 2)
      val expiredGone =
        pt.readVersion(1L).isEmpty && pt.readVersion(2L).isEmpty
      val survivors =
        pt.readVersion(3L).isDefined && pt.readVersion(4L).isDefined
      stateOut(pt.read().get)
        .withColumn("n_versions_before", lit(nb))
        .withColumn("n_versions_after", lit(na))
        .withColumn("expired_gone", lit(expiredGone))
        .withColumn("survivors_intact", lit(survivors))
    }),

    // ---- Storage: metadata-only ROLLBACK — upsert twice, vectored-
    //      delete (writes a DV sidecar), then roll back to the
    //      pre-delete version: ZERO data IO, the deleted rows return
    //      because an explicit empty DV sidecar masks the rolled-over
    //      vector; bad commits stay in history for audit ----
    "o36_rollback" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o36_").toString
      val target = TargetTable("events_rbk", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4,
        retainVersions = 8)
      val cfg = IngestConfig(name = s"o36-rbk-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      val pt = new graft.sink.ParquetTarget(s, target)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 0), cfg)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 1), cfg)
      val preDelete = pt.read().get.count()
      pt.deleteVectored(cfg, pmod(col("pkey"), lit(10L)) === 3L)
      val postDelete = pt.read().get.count()
      require(postDelete < preDelete, "vectored delete must drop rows")
      pt.rollbackTo(2L)
      require(pt.versions().contains(4L), "rollback must be a NEW commit")
      require(pt.read().get.count() == preDelete,
        "rolled-back state must restore the pre-delete row count")
      stateOut(pt.read().get)
        .withColumn("rows_deleted_then_restored",
          lit(preDelete - postDelete > 0))
    }),

    // ---- Storage: compaction — after three merge commits fragment the
    //      buckets, compact() rewrites the snapshot one-file-per-bucket
    //      in ONE commit; the read-back state must still equal global
    //      latest-wins (layout changed, data bit-identical; file-count
    //      collapse is asserted in BucketedTargetSpec) ----
    "o17_compact" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o17_").toString
      val target = TargetTable("events_cmp", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val cfg = IngestConfig(name = s"o17-cmp-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      val pt = new graft.sink.ParquetTarget(s, target)
      pt.mergeUpsert(ev.filter(col("event_id") % 3 === 0), cfg)
      pt.mergeUpsert(ev.filter(col("event_id") % 3 === 1), cfg)
      pt.mergeUpsert(ev.filter(col("event_id") % 3 === 2), cfg)
      pt.compact(cfg)
      stateOut(pt.read().get)
    }),

    // ---- Storage: row-level TTL retention delete — one bucket-pruned
    //      commit drops rows older than the 30-day horizon; remaining
    //      state must equal latest-wins filtered at the same cutoff ----
    "o20_row_ttl" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o20_").toString
      val target = TargetTable("events_ttl", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val cfg = IngestConfig(name = s"o20-ttl-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val pt = new graft.sink.ParquetTarget(s, target)
      pt.mergeUpsert(eventRecords(s, dir), cfg)
      // one driver scalar (the data horizon), like pageRank's node count
      val cutoff = pt.read().get.agg(max(col("modified_date_us")))
        .collect()(0).getLong(0) - 2592000000000L
      pt.deleteWhere(cfg, col("modified_date_us") < cutoff)
      stateOut(pt.read().get)
    }),

    // ---- Storage: merge-on-read DELETION VECTORS — position-marked
    //      deletes in a sidecar, zero bucket rewrites at delete time;
    //      a later merge reads through the vector (no resurrection)
    //      and latest-wins may legitimately re-insert a deleted key ----
    "o28_delete_vectors" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o28_").toString
      val target = TargetTable("events_dv", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val cfg = IngestConfig(name = s"o28-dv-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      val pt = new graft.sink.ParquetTarget(s, target)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 0), cfg)
      pt.deleteVectored(cfg, col("value") < 20.0)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 1), cfg)
      stateOut(pt.read().get)
    }),

    // ---- Storage: explicit schema evolution — migrate adds a derived
    //      column (full-snapshot rewrite, one commit), then a widened
    //      batch merges against the evolved schema; final state must
    //      equal latest-wins with the column derived on every winner ----
    "o16_schema_evolution" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o16_").toString
      val target = TargetTable("events_evo", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val cfg = IngestConfig(name = s"o16-evo-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      val pt = new graft.sink.ParquetTarget(s, target)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 0), cfg)
      pt.migrate(cfg)(_.withColumn("is_large", col("value") >= 100.0))
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 1)
        .withColumn("is_large", col("value") >= 100.0), cfg)
      pt.read().get.select(col("pkey"), col("modified_date_us"),
        col("event_type"), col("value"), col("is_large"))
    }),

    // ---- CDC consumer: incremental aggregate maintenance — base agg
    //      over v1 + pre/post-image deltas from the v1→v3 feed must equal
    //      a direct re-aggregation of v3 (O(changes), no table rescan) ----
    "o13b_cdc_incremental_agg" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o13b_").toString
      val target = TargetTable("events_cdc", s"$tmp/target",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4,
        retainVersions = 4)
      val cfg = IngestConfig(name = s"o13b-cdc-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      val pt = new graft.sink.ParquetTarget(s, target)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 0), cfg)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 1), cfg)
      pt.mergeHardDelete(ev.filter(col("pkey") % 10 === 7), cfg)
      val base = graft.ops.Incremental.countSumAgg(
        pt.readVersion(1L).get, Seq("event_type"), "value")
      val feed = pt.readChanges(1L, 3L, updatePreimages = true).get
      val deltas = graft.ops.Incremental.aggDeltas(
        feed, Seq("event_type"), "value")
      graft.ops.Incremental.applyAggDeltas(base, deltas, Seq("event_type"))
        .select(col("event_type"), col("n_rows"),
          col("__sum").cast("double").as("sum_value"))
    }),

    // ---- O12+O5: the JDBC sink end-to-end (the reference's true target:
    //      prepared-statement upsert into a real database — here embedded
    //      Derby standing in for Postgres). Two merge rounds exercise
    //      insert, guarded update, and stale-skip; the read-back state must
    //      equal the global latest-wins dedup. ----
    "o12_jdbc_upsert" -> ((s, dir) => {
      val url = s"jdbc:derby:memory:graft${System.nanoTime()};create=true"
      val jt = graft.sink.JdbcTarget(url, "events_state",
        keyCols = key, versionCol = ver, tieBreakCols = tie)
      val conn = java.sql.DriverManager.getConnection(url)
      try { conn.createStatement().executeUpdate(
        "CREATE TABLE events_state (pkey BIGINT NOT NULL PRIMARY KEY, " +
          "modified_date_us BIGINT, event_id BIGINT, " +
          "event_type VARCHAR(32), value DOUBLE)"); () }
      finally conn.close()
      val sink = new graft.sink.JdbcSink(jt)
      val cfg = IngestConfig(name = "o12-jdbc", maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      sink.mergeUpsert(ev.filter(col("event_id") % 2 === 0), cfg)
      sink.mergeUpsert(ev.filter(col("event_id") % 2 === 1), cfg)
      s.read.jdbc(url, "events_state", new java.util.Properties())
        .select(col("pkey"), col("modified_date_us"), col("event_type"),
          col("value"))
    }),

    // ---- O12+O6: JDBC soft delete (guarded tombstone UPDATE) ----
    "o12b_jdbc_soft_delete" -> ((s, dir) => {
      val url = s"jdbc:derby:memory:graft${System.nanoTime()};create=true"
      val jt = graft.sink.JdbcTarget(url, "events_state",
        keyCols = key, versionCol = ver, tieBreakCols = tie)
      val conn = java.sql.DriverManager.getConnection(url)
      try { conn.createStatement().executeUpdate(
        "CREATE TABLE events_state (pkey BIGINT NOT NULL PRIMARY KEY, " +
          "modified_date_us BIGINT, event_id BIGINT, " +
          "event_type VARCHAR(32), value DOUBLE, " +
          "row_active BOOLEAN DEFAULT TRUE NOT NULL)"); () }
      finally conn.close()
      val sink = new graft.sink.JdbcSink(jt)
      val cfg = IngestConfig(name = "o12b-jdbc", maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      sink.mergeUpsert(ev, cfg)
      sink.mergeSoftDelete(
        ev.filter(col("event_type") === "error")
          .select(col("pkey"), col("modified_date_us"), col("event_id")), cfg)
      s.read.jdbc(url, "events_state", new java.util.Properties())
        .select(col("pkey"), col("modified_date_us"), col("value"),
          col("row_active"))
    }),

    // ---- O7: multi-table routing (per-route dedup + dispatch stats) ----
    "o7_multi_table_route" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type").as("target_table"))
        .agg(
          count(lit(1)).as("n_received"),
          countDistinct(col("user_id")).as("n_after_dedup"),
          expr("max(ts) div 1000").as("latest_us"))),

    // ---- Storage: dynamic partition overwrite — recompute ONE lang
    //      partition in place; every other partition must survive
    //      untouched (default overwrite would truncate the table) ----
    "o18_partition_overwrite" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_dpo_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Formats.writePartitioned(docs, s"$tmp/docs", Seq("lang"))
      val patch = docs.filter(col("lang") === "en")
        .withColumn("n_chars", col("n_chars") + 1000L)
      graft.sources.Formats.overwritePartitions(
        patch, s"$tmp/docs", Seq("lang"))
      graft.sources.Formats.readPartitioned(s, s"$tmp/docs")
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // ---- Ingest validation: dead-letter quarantine split — rows
    //      violating any rule divert with comma-joined reasons (rule
    //      order), valid rows merge clean; row-local, shuffle-free ----
    "o19_quarantine" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val (valid, bad) = graft.sink.Merge.quarantineSplit(ev, Seq(
        "low_value" -> (col("value") >= 0.05),
        "error_type" -> (col("event_type") =!= "error")))
      // the valid side must still merge: exercise the keyed upsert
      // against an empty target and fold its row count into the output
      val target = valid.limit(0)
      val merged = graft.sink.Merge.upsert(
        target, valid, Seq("event_id"), "ts")
      bad.select(col("event_id"), col("quarantine_reason"))
        .crossJoin(broadcast(
          merged.agg(count(lit(1)).as("n_merged"))))
    }),

    // ---- Storage: zero-copy snapshot clone (branch) — O(buckets)
    //      metadata commit referencing the source's dirs by absolute
    //      path; a merge onto the BRANCH copy-on-writes only its hit
    //      buckets, and the branch state must equal global latest-wins
    //      (the source stays at its pre-clone state; spec-asserted) ----
    "o21_clone_branch" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o21_").toString
      val src = graft.model.TargetTable("events_src", s"$tmp/src",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val cfg = IngestConfig(name = s"o21-cl-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      val pt = new graft.sink.ParquetTarget(s, src)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 0), cfg)
      pt.cloneTo(s"$tmp/branch")
      val branch = new graft.sink.ParquetTarget(s,
        graft.model.TargetTable("events_branch", s"$tmp/branch",
          keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4))
      branch.mergeUpsert(ev.filter(col("event_id") % 2 === 1), cfg)
      stateOut(branch.read().get)
    }),

    // ---- Storage: branch divergence diff — clone, merge into the
    //      branch copy-on-write, then the cross-target keyed diff
    //      (what changed on the branch vs its source, summarized) ----
    "o29_branch_diff" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o29_").toString
      val src = graft.model.TargetTable("events_bd_src", s"$tmp/src",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val cfg = IngestConfig(name = s"o29-bd-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val ev = eventRecords(s, dir)
      val pt = new graft.sink.ParquetTarget(s, src)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 0), cfg)
      pt.cloneTo(s"$tmp/branch")
      val branch = new graft.sink.ParquetTarget(s,
        graft.model.TargetTable("events_bd_br", s"$tmp/branch",
          keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4))
      branch.mergeUpsert(ev.filter(col("event_id") % 2 === 1), cfg)
      graft.ops.Diff.keyedDiff(pt.read().get, branch.read().get, key)
        .withColumn("changed_cols", array_join(col("changed_cols"), ","))
        .groupBy(col("change_type"), col("changed_cols"))
        .agg(count(lit(1)).as("n"))
    }),

    // ---- Storage: incrementally-maintained JOIN view — a denormalized
    //      (state ⋈ nation) target refreshed from the CDC feed; updates
    //      overwrite latest-wins, deletes retire, O(changes) per sync ----
    "o25_join_view" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o25_").toString
      val tbl = graft.model.TargetTable("events_jv", s"$tmp/t",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4,
        retainVersions = 4)
      val cfg = IngestConfig(name = s"o25-jv-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val pt = new graft.sink.ParquetTarget(s, tbl)
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val enrich = (df: DataFrame) => df
        .withColumn("__nk", pmod(col("pkey"), lit(25L)))
        .join(broadcast(nation), col("__nk") === col("n_nationkey"),
          "left_outer")
        .drop("__nk", "n_nationkey")
      val jv = new graft.sink.JoinView(s, pt, s"$tmp/view", enrich,
        buckets = 4)
      val ev = eventRecords(s, dir)
      pt.mergeUpsert(ev.filter(col("event_id") % 3 =!= 0), cfg)
      jv.rebuild(cfg)
      pt.mergeUpsert(ev.filter(col("event_id") % 3 === 0), cfg)
      pt.mergeHardDelete(ev.filter(col("pkey") % 25 === 7)
        .select((key ++ Seq(ver) ++ tie).map(col): _*), cfg)
      jv.refresh(cfg)
      jv.read().get.select(col("pkey"), col("modified_date_us"),
        col("event_type"), col("value"), col("n_name"))
    }),

    // ---- Storage: compaction with Z-order layout — one file per
    //      bucket, rows Morton-clustered on (pkey, value) so row-group
    //      min/max stats prune BOTH dimensions; data unchanged ----
    "o24_compact_zorder" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o24_").toString
      val tbl = graft.model.TargetTable("events_zo", s"$tmp/t",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val cfg = IngestConfig(name = s"o24-zo-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val pt = new graft.sink.ParquetTarget(s, tbl)
      pt.mergeUpsert(eventRecords(s, dir), cfg)
      pt.compactClustered(cfg, df => Seq(graft.ops.Layout.mortonKey(
        pmod(df.col("pkey"), lit(1024L)),
        pmod(floor(df.col("value") * 100).cast("long"), lit(1024L)),
        bits = 10)))
      stateOut(pt.read().get)
    }),

    // ---- Storage: per-bucket BLOOM data-skipping sidecar — equality
    //      probe on a NON-key column skips buckets whose bloom proves
    //      absence (KB-scale sidecar, changed-buckets-only refresh);
    //      conservative by construction: result == state filter ----
    "o31_bloom_index" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o31_").toString
      val tbl = graft.model.TargetTable("events_bx", s"$tmp/t",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 8,
        retainVersions = 4)
      val cfg = IngestConfig(name = s"o31-bx-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val pt = new graft.sink.ParquetTarget(s, tbl)
      val ev = eventRecords(s, dir)
      pt.mergeUpsert(ev.filter(col("event_id") % 3 =!= 0), cfg)
      val bx = new graft.sink.BloomIndex(s, pt, "event_type", s"$tmp/bx")
      bx.rebuild()
      // second batch changes data AFTER the build — the refresh must
      // recompute exactly the touched buckets' blooms
      pt.mergeUpsert(ev.filter(col("event_id") % 3 === 0), cfg)
      bx.refresh()
      stateOut(bx.lookupEq("purchase"))
    }),

    // ---- Storage: BRANCH MERGE-BACK — the third leg of the
    //      git-for-data arc (clone o21, diff o29, merge o33): replay
    //      the branch's change feed since the clone point onto the
    //      DIVERGED main — deletes apply VERSION-GUARDED (the feed's
    //      tombstone carries the branch's pre-image version, so a main
    //      row that advanced PAST the branch's deletion survives — the
    //      optimistic-concurrency conflict rule), then post-images
    //      merge latest-wins against main's own advances. O(branch
    //      changes), never a branch rescan ----
    "o33_branch_merge_back" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o33_").toString
      val tbl = graft.model.TargetTable("events_mb", s"$tmp/t",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4,
        retainVersions = 6)
      val cfg = IngestConfig(name = s"o33-mb-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val pt = new graft.sink.ParquetTarget(s, tbl)
      val ev = eventRecords(s, dir)
      pt.mergeUpsert(ev.filter(col("event_id") % 3 === 0), cfg) // v1
      pt.cloneTo(s"$tmp/branch")
      val br = new graft.sink.ParquetTarget(s,
        graft.model.TargetTable("events_mbb", s"$tmp/branch",
          keyCols = key, versionCol = ver, tieBreakCols = tie,
          buckets = 4, retainVersions = 6))
      // diverge both sides, then delete on the branch
      pt.mergeUpsert(ev.filter(col("event_id") % 3 === 1), cfg)
      br.mergeUpsert(ev.filter(col("event_id") % 3 === 2), cfg)
      br.mergeHardDelete(ev.filter(col("pkey") % 25 === 7)
        .select((key ++ Seq(ver) ++ tie).map(col): _*), cfg)
      // merge back: only what the branch changed since the clone point.
      // The feed is checkpointed once — the two isEmpty probes and both
      // merges would otherwise each recompute the CDC diff join.
      val feed = br.readChanges(1L, br.versions().last).get.localCheckpoint()
      val gone = feed.where(col("_change_type") === "delete")
        .select((key ++ Seq(ver) ++ tie).map(col): _*)
      val live = feed.where(col("_change_type").isin("insert", "update"))
        .drop("_change_type")
      if (!gone.isEmpty) pt.mergeHardDelete(gone, cfg)
      if (!live.isEmpty) pt.mergeUpsert(live, cfg)
      org.apache.spark.sql.GraftSql.freeLocalCheckpoint(feed)
      stateOut(pt.read().get)
    }),

    // ---- Storage: WRITE-AUDIT-PUBLISH — the Iceberg/Netflix staging
    //      pattern composed from clone + expectations + change-feed
    //      merge-back, WITH a real rejected audit: a poisoned staging
    //      branch fails the expectation gate and is abandoned (main
    //      provably untouched), then a clean restage passes and
    //      publishes ----
    "o37_wap" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o37_").toString
      val tbl = graft.model.TargetTable("events_wap", s"$tmp/t",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4,
        retainVersions = 6)
      val cfg = IngestConfig(name = s"o37-wap-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val pt = new graft.sink.ParquetTarget(s, tbl)
      val ev = eventRecords(s, dir)
      pt.mergeUpsert(ev.filter(col("event_id") % 2 === 0), cfg) // v1
      val mainBefore = pt.read().get.count()
      // WRITE: stage a POISONED batch on an isolated branch
      pt.cloneTo(s"$tmp/branch1")
      val br1 = new graft.sink.ParquetTarget(s,
        graft.model.TargetTable("events_wap_b1", s"$tmp/branch1",
          keyCols = key, versionCol = ver, tieBreakCols = tie,
          buckets = 4, retainVersions = 6))
      // the staged batch carries a poisoned row on its OWN key (so it
      // wins latest-wins at every SF and the audit deterministically
      // trips) plus the legitimate half
      br1.mergeUpsert(ev.filter(col("event_id") % 2 === 1).unionByName(
        ev.limit(1).select(lit(999999L).as("pkey"),
          lit(4102444800000000L).as("modified_date_us"),
          lit(-1L).as("event_id"), lit("poison").as("event_type"),
          lit(-7.0).as("value"))), cfg)
      // AUDIT: the expectation gate REJECTS the branch
      val audit1Bad = br1.read().get.filter(col("value") < 0).count()
      require(audit1Bad > 0L, "fixture must trip the audit")
      require(pt.read().get.count() == mainBefore,
        "a rejected branch must leave main untouched")
      // restage CLEAN on a fresh branch, audit, PUBLISH via change feed
      pt.cloneTo(s"$tmp/branch2")
      val br2 = new graft.sink.ParquetTarget(s,
        graft.model.TargetTable("events_wap_b2", s"$tmp/branch2",
          keyCols = key, versionCol = ver, tieBreakCols = tie,
          buckets = 4, retainVersions = 6))
      br2.mergeUpsert(ev.filter(col("event_id") % 2 === 1), cfg)
      require(br2.read().get.filter(col("value") < 0).isEmpty,
        "clean restage must pass the audit")
      val feed = br2.readChanges(1L, br2.versions().last).get
      val live = feed.where(col("_change_type").isin("insert", "update"))
        .drop("_change_type")
      pt.mergeUpsert(live, cfg)
      stateOut(pt.read().get)
        .withColumn("audit_rejected_then_published", lit(true))
    }),

    // ---- Storage: ANALYZE TABLE — optimizer statistics (rows, nulls,
    //      exact NDV, typed min/max) per column of the merged state;
    //      the mergeable-HLL family is the documented approx twin for
    //      columns where exact distinct would dominate at scale ----
    "o32_analyze" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o32_").toString
      val tbl = graft.model.TargetTable("events_an", s"$tmp/t",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 8)
      val cfg = IngestConfig(name = s"o32-an-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val pt = new graft.sink.ParquetTarget(s, tbl)
      pt.mergeUpsert(eventRecords(s, dir), cfg)
      graft.sink.Analyze.columnStats(stateOut(pt.read().get))
    }),

    // ---- Storage: compaction with HILBERT layout — Morton's locality-
    //      optimal sibling (consecutive curve positions are always grid
    //      neighbors, so per-file min-max boxes are compact blobs with
    //      no Z-shape jumps); native codegen kernel, data unchanged ----
    "o30_compact_hilbert" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o30_").toString
      val tbl = graft.model.TargetTable("events_hc", s"$tmp/t",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 4)
      val cfg = IngestConfig(name = s"o30-hc-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val pt = new graft.sink.ParquetTarget(s, tbl)
      pt.mergeUpsert(eventRecords(s, dir), cfg)
      pt.compactClustered(cfg, df => Seq(graft.functions.TextHash.hilbertD(
        pmod(df.col("pkey"), lit(1024L)),
        pmod(floor(df.col("value") * 100).cast("long"), lit(1024L)),
        bits = 10)))
      stateOut(pt.read().get)
    }),

    // ---- Storage: the Hilbert curve ITSELF cross-engine — the native
    //      kernel's per-level rotate-and-accumulate against an
    //      independent DuckDB list_reduce replay of the public
    //      algorithm, over every event's bounded (x, y) cell ----
    "o30b_hilbert_key" -> ((s, dir) => {
      val e = t(s, dir, "events").select(
        col("event_id"),
        pmod(col("user_id"), lit(64L)).as("x"),
        pmod(col("event_id"), lit(64L)).as("y"))
      e.withColumn("hilbert_d",
        graft.functions.TextHash.hilbertD(col("x"), col("y"), bits = 6))
    }),

    // ---- Storage: secondary value index — CDC-maintained inverted
    //      index bucketed on the VALUE (one-bucket equality probes),
    //      incremental refresh from the change feed, key-pruned fetch ----
    "o23_value_index" -> ((s, dir) => {
      import s.implicits._
      val tmp = Files.createTempDirectory("graft_o23_").toString
      val tbl = graft.model.TargetTable("events_vx", s"$tmp/t",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 8,
        retainVersions = 4)
      val cfg = IngestConfig(name = s"o23-vx-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val pt = new graft.sink.ParquetTarget(s, tbl)
      val ev = eventRecords(s, dir)
      pt.mergeUpsert(ev.filter(col("event_id") % 3 =!= 0), cfg)
      val idx = new graft.sink.ValueIndex(s, pt, "event_type",
        s"$tmp/ix", buckets = 8)
      idx.rebuild(cfg)
      // second batch inserts new keys AND flips some rows' event_type —
      // the refresh must retire the stale index entries via pre-images
      pt.mergeUpsert(ev.filter(col("event_id") % 3 === 0), cfg)
      idx.refresh(cfg)
      stateOut(idx.lookupEq(Seq("purchase").toDF("ival")))
    }),

    // ---- Storage: zone-map-pruned version-range read — per-bucket
    //      min/max sidecars maintained at commit; pruning is driver-side
    //      metadata, the row filter still applies (conservative) ----
    "o22_zonemap_skip" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_o22_").toString
      val tbl = graft.model.TargetTable("events_zm", s"$tmp/t",
        keyCols = key, versionCol = ver, tieBreakCols = tie, buckets = 8)
      val cfg = IngestConfig(name = s"o22-zm-${System.nanoTime()}",
        maxWriterPartitions = 4)
      val pt = new graft.sink.ParquetTarget(s, tbl)
      pt.mergeUpsert(eventRecords(s, dir), cfg)
      stateOut(pt.readWhereVersionBetween(
        1706000000000000L, 2000000000000000L).get)
    }),
  )

  def oracles: Map[String, String] = {
    // Independent DuckDB replay of the PUBLIC xy->d Hilbert algorithm
    // (per-level quadrant digit + rotation), UNROLLED into six chained
    // CTE stages of plain column arithmetic — the engine side runs the
    // native codegen kernel, so agreement proves the curve itself
    // cross-engine. pmod mirrored as ((v % 64) + 64) % 64 (DuckDB %
    // keeps the dividend's sign); the rotation complements against the
    // FULL grid (63 - v) so intermediates stay in [0, 64), which the
    // // and % bit probes REQUIRE (both truncate on negatives).
    // Deliberately NOT a list_reduce: DuckDB 1.0.0 miscomputes struct-
    // accumulator folds on multi-row batches (single-row runs of the
    // identical fold are correct — minimal repro in the round-10
    // SURVEY notes), so the oracle uses no lambda at all.
    val hilbertSql = {
      val levels = Seq(32, 16, 8, 4, 2, 1)
      val stages = levels.zipWithIndex.map { case (s, i) =>
        val rx = s"((x // $s) % 2)"
        val ry = s"((y // $s) % 2)"
        s"l${i + 1} AS (SELECT event_id, " +
          s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 " +
          "THEN 63 - y ELSE y END) ELSE x END AS x, " +
          s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 " +
          "THEN 63 - x ELSE x END) ELSE y END AS y, " +
          s"d + $s * $s * xor(3 * $rx, $ry) AS d FROM l$i)"
      }.mkString(", ")
      "WITH m AS (SELECT event_id, ((user_id % 64) + 64) % 64 AS x, " +
        "((event_id % 64) + 64) % 64 AS y FROM events), " +
        "l0 AS (SELECT event_id, CAST(x AS BIGINT) AS x, " +
        "CAST(y AS BIGINT) AS y, CAST(0 AS BIGINT) AS d FROM m), " +
        stages + " " +
        "SELECT m.event_id, CAST(m.x AS BIGINT) AS x, " +
        "CAST(m.y AS BIGINT) AS y, l6.d AS hilbert_d " +
        "FROM m JOIN l6 ON m.event_id = l6.event_id"
    }
    Map(
      "o1_dedup_latest_wins" -> dedupState,
      "o1b_dedup_window" -> dedupState,
      // compaction must not change the data, whatever the layout curve
      "o30_compact_hilbert" -> dedupState,
      "o30b_hilbert_key" -> hilbertSql,
      "o2_sort_topk" ->
        ("SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type " +
          "FROM events ORDER BY ts DESC, event_id DESC LIMIT 100"),
      "o3_batch_split" ->
        ("SELECT event_type AS route, count(*) AS n_records, " +
          "count(*) // 100 AS n_hundred_chunks, " +
          "(count(*) % 100) // 10 AS n_ten_chunks, " +
          "count(*) % 10 AS remainder_arity, " +
          "count(*) // 100 + (count(*) % 100) // 10 + " +
          "CASE WHEN count(*) % 10 > 0 THEN 1 ELSE 0 END AS n_chunks " +
          "FROM events GROUP BY event_type"),
      "o5_merge_upsert" -> dedupState,
      "o5b_merge_shuffle" -> dedupState,
      // replayed merges are no-ops: double-apply == single clean run
      "o5c_merge_replay" -> dedupState,
      "o12_jdbc_upsert" -> dedupState,
      // bucket-pruned point lookup = global latest-wins restricted to keys
      "o14_target_lookup" ->
        (s"SELECT pkey, epoch_us(ts) AS modified_date_us, event_type, value " +
          s"FROM ($oracleDedup) WHERE rn = 1 AND pkey % 25 = 3"),
      // Compaction rewrites layout, never data: state == latest-wins.
      "o17_compact" -> dedupState,
      // the branch merged the odd half onto the cloned even half, so its
      // state is global latest-wins over ALL events
      "o21_clone_branch" -> dedupState,
      // layout moves, data doesn't: clustered compaction == latest-wins
      "o24_compact_zorder" -> dedupState,
      // the maintained view equals the full denormalizing join over the
      // post-delete latest-wins state
      "o25_join_view" ->
        (s"SELECT st.pkey, st.modified_date_us, st.event_type, " +
          "st.value, n.n_name " +
          s"FROM ($dedupState) st JOIN nation n " +
          "ON st.pkey % 25 = n.n_nationkey WHERE st.pkey % 25 <> 7"),
      // the CDC-synced index must equal state filtered on the value
      "o23_value_index" ->
        (s"SELECT pkey, modified_date_us, event_type, value " +
          s"FROM ($dedupState) WHERE event_type = 'purchase'"),
      // bloom skipping is one-sided: false positives are read then
      // filtered, absences are skipped — result == the exact filter
      "o31_bloom_index" ->
        (s"SELECT pkey, modified_date_us, event_type, value " +
          s"FROM ($dedupState) WHERE event_type = 'purchase'"),
      // Three-way merge replay: branch pre/post latest-wins states
      // over the same deterministic event subsets. The feed's deletes
      // carry the clone-point PRE-IMAGE version of each pkey%25=7 key,
      // and hardDelete is version-guarded — a main row survives its
      // tombstone iff it ordered STRICTLY NEWER (main advanced past
      // the branch's deletion: the optimistic-concurrency rule). The
      // feed's post-images are branch-final rows that DIFFER from the
      // clone-point row; they merge latest-wins ((ts, event_id)
      // argmax) against main's own state.
      "o33_branch_merge_back" -> {
        def lw(pred: String) =
          "SELECT pkey, ts, event_id, event_type, value FROM (" +
            "SELECT user_id AS pkey, ts, event_id, event_type, value, " +
            "row_number() OVER (PARTITION BY user_id " +
            "ORDER BY ts DESC, event_id DESC) AS rn " +
            s"FROM events WHERE $pred) WHERE rn = 1"
        s"WITH pre AS (${lw("event_id % 3 = 0")}), " +
          s"bpost0 AS (${lw("event_id % 3 IN (0, 2)")}), " +
          "bpost AS (SELECT * FROM bpost0 WHERE pkey % 25 <> 7), " +
          "gone AS (SELECT pkey, ts AS gts, event_id AS gid FROM pre " +
          "WHERE pkey % 25 = 7), " +
          "live AS (SELECT p.* FROM bpost p LEFT JOIN pre a " +
          "USING (pkey) WHERE a.pkey IS NULL OR a.ts <> p.ts " +
          "OR a.event_id <> p.event_id), " +
          s"mainb AS (${lw("event_id % 3 IN (0, 1)")}), " +
          "main1 AS (SELECT m.* FROM mainb m LEFT JOIN gone g " +
          "USING (pkey) WHERE g.pkey IS NULL OR m.ts > g.gts " +
          "OR (m.ts = g.gts AND m.event_id > g.gid)), " +
          "u AS (SELECT * FROM main1 UNION ALL SELECT * FROM live), " +
          "f AS (SELECT *, row_number() OVER (PARTITION BY pkey " +
          "ORDER BY ts DESC, event_id DESC) AS rn2 FROM u) " +
          "SELECT pkey, epoch_us(ts) AS modified_date_us, event_type, " +
          "value FROM f WHERE rn2 = 1"
      },
      // per-column stats replayed as one UNION of plain aggregates:
      // numeric extremes in the _num pair, string extremes in _str
      "o32_analyze" -> {
        def num(c: String) =
          s"SELECT '$c' AS \"column\", CAST(count(*) AS BIGINT) AS n_rows, " +
            s"CAST(count(*) FILTER (WHERE $c IS NULL) AS BIGINT) AS n_null, " +
            s"CAST(count(DISTINCT $c) AS BIGINT) AS ndv, " +
            s"CAST(min($c) AS DOUBLE) AS min_num, " +
            s"CAST(max($c) AS DOUBLE) AS max_num, " +
            "CAST(NULL AS VARCHAR) AS min_str, " +
            s"CAST(NULL AS VARCHAR) AS max_str FROM st"
        def str(c: String) =
          s"SELECT '$c', CAST(count(*) AS BIGINT), " +
            s"CAST(count(*) FILTER (WHERE $c IS NULL) AS BIGINT), " +
            s"CAST(count(DISTINCT $c) AS BIGINT), " +
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), " +
            s"min($c), max($c) FROM st"
        s"WITH st AS ($dedupState) " +
          Seq(num("pkey"), num("modified_date_us"), str("event_type"),
            num("value")).mkString(" UNION ALL ")
      },
      // pruning is conservative: result == latest-wins state restricted
      // to the version window
      "o22_zonemap_skip" ->
        (s"SELECT pkey, modified_date_us, event_type, value " +
          s"FROM ($dedupState) WHERE modified_date_us " +
          "BETWEEN 1706000000000000 AND 2000000000000000"),
      "o28_delete_vectors" ->
        // Even-batch latest-wins, minus the vectored marks (value < 20,
        // NULL keeps), then latest-wins against the odd batch — the DV
        // removes exact state rows, so the survivors-then-merge replay
        // is position-faithful.
        ("WITH se AS (SELECT user_id AS pkey, ts, event_id, event_type, " +
          "value, row_number() OVER (PARTITION BY user_id " +
          "ORDER BY ts DESC, event_id DESC) AS rn " +
          "FROM events WHERE event_id % 2 = 0), " +
          "kept AS (SELECT pkey, ts, event_id, event_type, value FROM se " +
          "WHERE rn = 1 AND (value >= 20.0 OR value IS NULL)), " +
          "so AS (SELECT user_id AS pkey, ts, event_id, event_type, value, " +
          "row_number() OVER (PARTITION BY user_id " +
          "ORDER BY ts DESC, event_id DESC) AS rn " +
          "FROM events WHERE event_id % 2 = 1), " +
          "ko AS (SELECT pkey, ts, event_id, event_type, value FROM so " +
          "WHERE rn = 1), " +
          "u AS (SELECT * FROM kept UNION ALL SELECT * FROM ko), " +
          "f AS (SELECT *, row_number() OVER (PARTITION BY pkey " +
          "ORDER BY ts DESC, event_id DESC) AS rn2 FROM u) " +
          "SELECT pkey, epoch_us(ts) AS modified_date_us, event_type, " +
          "value FROM f WHERE rn2 = 1"),
      "o29_branch_diff" ->
        // src = even latest-wins; branch = all latest-wins (clone then
        // odd merge). Branch keys ⊇ src keys, so no deletes; a key
        // updates iff the overall winner is an odd row, and the
        // changed-column list replays keyedDiff's null-safe
        // per-column compare in sorted column order.
        ("WITH se AS (SELECT pkey, ts, event_id, event_type, value FROM " +
          "(SELECT user_id AS pkey, ts, event_id, event_type, value, " +
          "row_number() OVER (PARTITION BY user_id " +
          "ORDER BY ts DESC, event_id DESC) AS rn " +
          "FROM events WHERE event_id % 2 = 0) WHERE rn = 1), " +
          "sa AS (SELECT pkey, ts, event_id, event_type, value FROM " +
          s"($oracleDedup) WHERE rn = 1), " +
          "j AS (SELECT sa.pkey, se.pkey AS sp, " +
          "se.event_id AS le, sa.event_id AS re, " +
          "se.event_type AS lt, sa.event_type AS rt, " +
          "epoch_us(se.ts) AS lts, epoch_us(sa.ts) AS rts, " +
          "se.value AS lv, sa.value AS rv " +
          "FROM sa LEFT JOIN se ON se.pkey = sa.pkey), " +
          "typed AS (SELECT pkey, " +
          "CASE WHEN sp IS NULL THEN 'insert' " +
          "WHEN (le IS DISTINCT FROM re) OR (lt IS DISTINCT FROM rt) " +
          "OR (lts IS DISTINCT FROM rts) OR (lv IS DISTINCT FROM rv) " +
          "THEN 'update' END AS change_type, " +
          "CASE WHEN sp IS NULL THEN '' " +
          "ELSE coalesce(array_to_string(list_filter([" +
          "CASE WHEN le IS DISTINCT FROM re THEN 'event_id' END, " +
          "CASE WHEN lt IS DISTINCT FROM rt THEN 'event_type' END, " +
          "CASE WHEN lts IS DISTINCT FROM rts THEN 'modified_date_us' " +
          "END, " +
          "CASE WHEN lv IS DISTINCT FROM rv THEN 'value' END], " +
          "x -> x IS NOT NULL), ','), '') END AS cc FROM j) " +
          "SELECT change_type, cc AS changed_cols, " +
          "CAST(count(*) AS BIGINT) AS n FROM typed " +
          "WHERE change_type IS NOT NULL GROUP BY 1, 2"),
      "o20_row_ttl" ->
        // TTL = latest-wins filtered at the same data-derived horizon.
        (s"WITH st AS ($dedupState), " +
          "mx AS (SELECT max(modified_date_us) AS m FROM st) " +
          "SELECT st.pkey, st.modified_date_us, st.event_type, st.value " +
          "FROM st, mx WHERE st.modified_date_us >= m - 2592000000000"),
      // Version 1 state == latest-wins over ONLY the first batch's rows.
      // The rewrite must carry every row across the layout change:
      // state = global latest-wins, layout literals static.
      "o35_rebucket" ->
        ("SELECT pkey, modified_date_us, event_type, value, " +
          "CAST(4 AS INT) AS n_buckets_before, " +
          "CAST(8 AS INT) AS n_buckets_after " +
          "FROM (SELECT user_id AS pkey, epoch_us(ts) AS modified_date_us, " +
          "event_type, value, row_number() OVER (PARTITION BY user_id " +
          "ORDER BY ts DESC, event_id DESC) AS rn FROM events) " +
          "WHERE rn = 1"),
      // Expiry must not disturb the current snapshot: state = global
      // latest-wins (all four residue classes cover every event); the
      // window accounting and survivor/expired probes are closed-form.
      "o34_snapshot_expire" ->
        (s"SELECT pkey, modified_date_us, event_type, value, " +
          "CAST(4 AS BIGINT) AS n_versions_before, " +
          "CAST(2 AS BIGINT) AS n_versions_after, " +
          "TRUE AS expired_gone, TRUE AS survivors_intact " +
          "FROM (SELECT user_id AS pkey, epoch_us(ts) AS modified_date_us, " +
          "event_type, value, row_number() OVER (PARTITION BY user_id " +
          "ORDER BY ts DESC, event_id DESC) AS rn FROM events) " +
          "WHERE rn = 1"),
      // WAP publish converges to global latest-wins (both halves
      // merged); the rejected-audit probes are require()s inside the
      // gate — a leak fails loud before any row reaches the oracle.
      "o37_wap" ->
        ("SELECT pkey, modified_date_us, event_type, value, " +
          "TRUE AS audit_rejected_then_published " +
          "FROM (SELECT user_id AS pkey, epoch_us(ts) AS modified_date_us, " +
          "event_type, value, row_number() OVER (PARTITION BY user_id " +
          "ORDER BY ts DESC, event_id DESC) AS rn FROM events) " +
          "WHERE rn = 1"),
      // Rollback restores the pre-delete snapshot exactly: global
      // latest-wins over all events (both halves upserted), the
      // vectored delete undone by the manifest republication.
      "o36_rollback" ->
        ("SELECT pkey, modified_date_us, event_type, value, " +
          "TRUE AS rows_deleted_then_restored " +
          "FROM (SELECT user_id AS pkey, epoch_us(ts) AS modified_date_us, " +
          "event_type, value, row_number() OVER (PARTITION BY user_id " +
          "ORDER BY ts DESC, event_id DESC) AS rn FROM events) " +
          "WHERE rn = 1"),
      "o15_time_travel" ->
        ("SELECT pkey, epoch_us(ts) AS modified_date_us, event_type, value " +
          "FROM (SELECT user_id AS pkey, ts, event_id, event_type, value, " +
          "row_number() OVER (PARTITION BY user_id " +
          "ORDER BY ts DESC, event_id DESC) AS rn " +
          "FROM events WHERE event_id % 2 = 0) WHERE rn = 1"),
      // whichever row wins latest-wins, its flag is derived from its own
      // value — by the migration rewrite (stored rows) or by the widened
      // batch (incoming rows)
      "o16_schema_evolution" ->
        (s"SELECT pkey, epoch_us(ts) AS modified_date_us, event_type, " +
          s"value, value >= 100.0 AS is_large FROM ($oracleDedup) " +
          "WHERE rn = 1"),
      // incremental maintenance converges to a direct re-aggregation of
      // the post state (latest-wins minus deleted keys)
      "o13b_cdc_incremental_agg" ->
        (s"WITH post AS (SELECT pkey, event_type, value FROM ($oracleDedup) " +
          "WHERE rn = 1 AND pkey % 10 != 7) " +
          "SELECT event_type, count(*) AS n_rows, " +
          "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
          "FROM post GROUP BY event_type"),
      // CDC feed v1→v3: pre = latest-wins of the even half, post = global
      // latest-wins minus hard-deleted keys; compare the FULL stored tuple
      // (incl. event_id) exactly like the engine's struct diff
      "o13_cdc_changes" ->
        ("WITH pre AS (SELECT pkey, ts_us, event_id, event_type, value FROM (" +
          "SELECT user_id AS pkey, epoch_us(ts) AS ts_us, event_id, event_type, value, " +
          "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
          "FROM events WHERE event_id % 2 = 0) WHERE rn = 1), " +
          "post AS (SELECT pkey, ts_us, event_id, event_type, value FROM (" +
          "SELECT user_id AS pkey, epoch_us(ts) AS ts_us, event_id, event_type, value, " +
          "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
          "FROM events) WHERE rn = 1 AND pkey % 10 != 7) " +
          "SELECT CASE WHEN po.pkey IS NOT NULL THEN po.pkey ELSE pr.pkey END AS pkey, " +
          "CASE WHEN po.pkey IS NOT NULL THEN po.ts_us ELSE pr.ts_us END AS modified_date_us, " +
          "CASE WHEN po.pkey IS NOT NULL THEN po.event_type ELSE pr.event_type END AS event_type, " +
          "CASE WHEN po.pkey IS NOT NULL THEN po.value ELSE pr.value END AS value, " +
          "CASE WHEN pr.pkey IS NULL THEN 'insert' WHEN po.pkey IS NULL THEN 'delete' " +
          "ELSE 'update' END AS _change_type " +
          "FROM pre pr FULL OUTER JOIN post po ON pr.pkey = po.pkey " +
          "WHERE pr.pkey IS NULL OR po.pkey IS NULL OR " +
          "(pr.ts_us, pr.event_id, pr.event_type, pr.value) IS DISTINCT FROM " +
          "(po.ts_us, po.event_id, po.event_type, po.value)"),
      "o12b_jdbc_soft_delete" ->
        (s"WITH t AS (SELECT pkey, ts, event_id, value FROM ($oracleDedup) WHERE rn = 1), " +
          "d AS (SELECT user_id AS pkey, ts, event_id, " +
          "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
          "FROM events WHERE event_type = 'error') " +
          "SELECT t.pkey, epoch_us(t.ts) AS modified_date_us, t.value, " +
          "(d.pkey IS NULL OR (d.ts, d.event_id) < (t.ts, t.event_id)) AS row_active " +
          "FROM t LEFT JOIN (SELECT * FROM d WHERE rn = 1) d ON t.pkey = d.pkey"),
      "o6_soft_delete" ->
        (s"WITH t AS (SELECT pkey, ts, event_id, value FROM ($oracleDedup) WHERE rn = 1), " +
          "d AS (SELECT user_id AS pkey, ts, event_id, " +
          "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
          "FROM events WHERE event_type = 'error') " +
          "SELECT t.pkey, epoch_us(t.ts) AS modified_date_us, t.value, " +
          "(d.pkey IS NULL OR (d.ts, d.event_id) < (t.ts, t.event_id)) AS row_active " +
          "FROM t LEFT JOIN (SELECT * FROM d WHERE rn = 1) d ON t.pkey = d.pkey"),
      // double-applied tombstones are a no-op -> same oracle as o6
      "o6c_delete_replay" ->
        (s"WITH t AS (SELECT pkey, ts, event_id, value FROM ($oracleDedup) WHERE rn = 1), " +
          "d AS (SELECT user_id AS pkey, ts, event_id, " +
          "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
          "FROM events WHERE event_type = 'error') " +
          "SELECT t.pkey, epoch_us(t.ts) AS modified_date_us, t.value, " +
          "(d.pkey IS NULL OR (d.ts, d.event_id) < (t.ts, t.event_id)) AS row_active " +
          "FROM t LEFT JOIN (SELECT * FROM d WHERE rn = 1) d ON t.pkey = d.pkey"),
      "o6b_hard_delete" ->
        (s"WITH t AS (SELECT pkey, ts, event_id, value FROM ($oracleDedup) WHERE rn = 1), " +
          "d AS (SELECT pkey, ts, event_id FROM (SELECT user_id AS pkey, ts, event_id, " +
          "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
          "FROM events WHERE event_type = 'error') WHERE rn = 1) " +
          "SELECT t.pkey, epoch_us(t.ts) AS modified_date_us, t.value " +
          "FROM t LEFT JOIN d ON t.pkey = d.pkey " +
          "WHERE d.pkey IS NULL OR (d.ts, d.event_id) < (t.ts, t.event_id)"),
      "o7_multi_table_route" ->
        ("SELECT event_type AS target_table, count(*) AS n_received, " +
          "count(DISTINCT user_id) AS n_after_dedup, " +
          "epoch_us(max(ts)) AS latest_us FROM events GROUP BY event_type"),
      "o18_partition_overwrite" ->
        // en rows carry the patched n_chars; every other partition must
        // read back byte-identical to the original write.
        ("SELECT lang, count(*) AS n_docs, " +
          "CAST(sum(CASE WHEN lang = 'en' THEN n_chars + 1000 " +
          "ELSE n_chars END) AS BIGINT) AS sum_chars " +
          "FROM documents GROUP BY lang"),
      // chunked application converges on the same one-shot history
      "o26_scd2_incremental" -> scd2Sql,
      // the table only ever saw contract-clean rows
      "o27_contract_gate" ->
        ("SELECT pkey, modified_date_us, event_type, value FROM (" +
          "SELECT user_id AS pkey, epoch_us(ts) AS modified_date_us, " +
          "event_id, event_type, value, row_number() OVER (" +
          "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
          "FROM events WHERE value >= 0.05) WHERE rn = 1"),
      "o19_quarantine" ->
        ("WITH r AS (SELECT event_id, concat_ws(',', " +
          "CASE WHEN coalesce(value >= 0.05, false) THEN NULL " +
          "ELSE 'low_value' END, " +
          "CASE WHEN coalesce(event_type <> 'error', false) THEN NULL " +
          "ELSE 'error_type' END) AS reason FROM events), " +
          "m AS (SELECT CAST(count(*) AS BIGINT) AS n_merged FROM r " +
          "WHERE reason = '') " +
          "SELECT event_id, reason AS quarantine_reason, m.n_merged " +
          "FROM r, m WHERE reason <> ''"),
    )
  }
}
