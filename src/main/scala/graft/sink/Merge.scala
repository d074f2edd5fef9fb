package graft.sink

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Keyed MERGE — the Spark-native replacement for the reference's
  * prepared `INSERT … ON CONFLICT (pk) DO UPDATE` statements
  * (quick_stream `src/upsert.rs:24-29`, canonical SQL
  * `src/upsert/multi_table_upsert.rs:651`) and its soft-delete twin
  * (`src/delete.rs:23-28`).
  *
  * Semantics (deterministic, unlike the reference's arrival-order races):
  *  - upsert: for each key, the row with the greatest
  *    `(versionCol, tieBreakCols...)` wins; on an exact ordering tie the
  *    INCOMING row wins, matching `ON CONFLICT DO UPDATE` (the update fires
  *    even when the incoming version equals the stored one).
  *  - delete: a delete tombstone applies iff its ordering tuple is >= the
  *    target row's (an out-of-order stale delete must not kill a newer
  *    update — the reference has no such guard because it relies on
  *    single-writer arrival order, which doesn't exist on a cluster).
  *    Tombstones for keys with no stored row emit nothing.
  *
  * The stored side must be key-unique (every target is: it is a
  * latest-wins state). A NULL key is one key, as in [[Dedup.latestWins]].
  *
  * Scale notes: upsert, soft delete and hard delete are ONE kernel
  * ([[keyed]]) — a keyed arg-max over `union(stored, batch)` with a source
  * tag as the last ordering field, so one aggregate resolves every key.
  * Cost is one exchange of stored ∪ batch rows. A bucketed target hands
  * the kernel only the buckets the batch hashes into, plus a
  * [[Placement]]: the exchange is then the writer's own
  * `repartition(partitions, bucket, keys…)`, which already satisfies the
  * aggregate's grouping, so the merged frame goes to the writer with no
  * second exchange. Shuffle volume is O(pruned slice + batch), never the
  * table. `upsertShuffle` is the classic full-outer join, kept as the
  * independent reference the kernel is checked against.
  */
object Merge {

  private def ordering(df: DataFrame, versionCol: String, tie: Seq[String]): Column =
    struct((versionCol +: tie).map(df.col): _*)

  private def keyCond(left: DataFrame, right: DataFrame, keyCols: Seq[String]): Column =
    keyCols.map(k => left.col(k) === right.col(k)).reduce(_ && _)

  /** Conform `updates` to the target's column set. Target columns absent
    * from the batch are filled from `defaults` (e.g. a soft-delete flag
    * added to the target after the stream started → incoming rows default
    * to active) or typed NULL — EXCEPT the merge-contract columns
    * (`requiredCols`: keys + ordering), which must be present: NULL-filled
    * keys or versions would make the latest-wins comparisons silently
    * drop/keep arbitrary rows. Batch columns absent from the target are a
    * schema-contract violation and fail loud. */
  private def conform(
      target: DataFrame,
      updates: DataFrame,
      defaults: Map[String, Column],
      requiredCols: Seq[String]): DataFrame = {
    val extra = updates.columns.toSeq.diff(target.columns.toSeq)
    require(extra.isEmpty,
      s"update batch has columns absent from the target table: " +
        s"${extra.mkString(", ")} — targets never widen implicitly; " +
        s"migrate the target schema first")
    val missing = requiredCols.diff(updates.columns.toSeq)
    require(missing.isEmpty,
      s"update batch is missing merge-contract columns: " +
        s"${missing.mkString(", ")} — key/version/tie-break columns can " +
        s"never be defaulted")
    val tTypes = target.schema.map(f => f.name -> f.dataType).toMap
    val have = updates.columns.toSet
    target.columns.toSeq.foldLeft(updates) { (df, c) =>
      if (have(c)) df
      else df.withColumn(c,
        defaults.getOrElse(c, lit(null)).cast(tTypes(c)))
    }
  }

  /** What a keyed mutation does with a key's batch rows. */
  private[sink] sealed trait Op
  private[sink] object Op {
    /** Batch rows are whole rows; `defaults` fill target columns the
      * batch lacks (see [[conform]]). */
    final case class Upsert(defaults: Map[String, Column] = Map.empty) extends Op
    /** Batch rows are tombstones; a deleted row keeps its place with
      * `flagCol` false (added, default true, if the target lacks it). */
    final case class SoftDelete(flagCol: String) extends Op
    /** Batch rows are tombstones; a deleted row is dropped. */
    case object HardDelete extends Op
  }

  /** The kernel's exchange when its output goes straight to a bucketed
    * writer: add column `col` = `value(frame)` and
    * `repartition(partitions, col, keys…)`. The aggregate then groups by
    * `(col, keys…)` — satisfied by that placement, so no second exchange —
    * and the output keeps `col` for the writer's `partitionBy`. */
  private[sink] final case class Placement(col: String, value: DataFrame => Column, partitions: Int) {
    def apply(df: DataFrame, keyCols: Seq[String]): DataFrame =
      df.withColumn(col, value(df))
        .repartition(partitions, (col +: keyCols).map(functions.col): _*)
  }

  private val Src = "__src"
  private val RowCol = "__row"
  private val OrdCol = "__ord"
  private val StoredOrd = "__stored_ord"
  private val TombOrd = "__tomb_ord"

  /** The one keyed-mutation kernel. `stored` (tagged `__src = 0`) and
    * `batch` (tagged `__src = 1`) are unioned as (keys, payload struct,
    * ordering struct `(version, tieBreak…, __src)`) and grouped by key:
    *  - upsert: `max_by(payload, ordering)` — the source tag breaks exact
    *    ordering ties toward the incoming row, and in-batch duplicates
    *    resolve in the same aggregate (no separate dedup);
    *  - delete: the stored payload, its ordering, and the max tombstone
    *    ordering; deleted iff tombstone ≥ stored (the tags differ, so the
    *    comparison reduces to the `(version, tieBreak…)` prefix).
    * Output columns are `stored`'s (plus the flag for a soft delete that
    * adds it), then `placement.col` when placed. */
  private[sink] def keyed(
      stored: DataFrame,
      batch: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      tieBreakCols: Seq[String],
      op: Op,
      placement: Option[Placement] = None): DataFrame = {
    val target = op match {
      case Op.SoftDelete(flag) if !stored.columns.contains(flag) =>
        stored.withColumn(flag, lit(true))
      case _ => stored
    }
    val fields = target.schema.fields.toSeq
    val payload = fields.map(_.name).filterNot(keyCols.contains)
    def tag(df: DataFrame, src: Int, row: Column): DataFrame =
      df.select(keyCols.map(df.col) :+ row.as(RowCol) :+
        struct((versionCol +: tieBreakCols).map(df.col) :+
          lit(src).as(Src): _*).as(OrdCol): _*)
    val storedRow = struct(payload.map(target.col): _*)
    val incoming = op match {
      case Op.Upsert(defaults) =>
        val c = conform(target, batch, defaults,
          keyCols ++ (versionCol +: tieBreakCols))
        tag(c, 1, struct(payload.map(c.col): _*))
      case _ =>
        tag(batch, 1, lit(null).cast(target.select(storedRow).schema.head.dataType))
    }
    val tagged = tag(target, 0, storedRow).unionByName(incoming)
    val (placed, groupCols) = placement match {
      case None => (tagged, keyCols)
      case Some(p) => (p(tagged, keyCols), p.col +: keyCols)
    }
    val grouped = placed.groupBy(groupCols.map(col): _*)
    val isStored = col(OrdCol).getField(Src) === 0
    val resolved = op match {
      case Op.Upsert(_) => grouped.agg(max_by(col(RowCol), col(OrdCol)).as(RowCol))
      case _ =>
        grouped.agg(
          max_by(col(RowCol), when(isStored, col(OrdCol))).as(RowCol),
          max(when(isStored, col(OrdCol))).as(StoredOrd),
          max(when(!isStored, col(OrdCol))).as(TombOrd))
          .where(col(StoredOrd).isNotNull)
    }
    val deleted = coalesce(col(TombOrd) >= col(StoredOrd), lit(false))
    val kept = if (op == Op.HardDelete) resolved.where(!deleted) else resolved
    kept.select(fields.map { f =>
      val c =
        if (keyCols.contains(f.name)) col(f.name)
        else op match {
          case Op.SoftDelete(flag) if flag == f.name =>
            col(RowCol).getField(f.name) && !deleted
          case _ => col(RowCol).getField(f.name)
        }
      c.as(f.name, f.metadata)
    } ++ placement.map(p => col(p.col)): _*)
  }

  /** Micro-batch upsert through the [[keyed]] kernel. Preferred inside
    * `foreachBatch`. */
  def upsert(
      target: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      tieBreakCols: Seq[String] = Nil,
      defaults: Map[String, Column] = Map.empty): DataFrame =
    keyed(target, updates, keyCols, versionCol, tieBreakCols, Op.Upsert(defaults))

  /** Batch-scale merge: one full-outer shuffle join on the key; per-column
    * winner selection. An independent formulation of [[upsert]], which
    * the specs check the kernel against. */
  def upsertShuffle(
      target: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      tieBreakCols: Seq[String] = Nil,
      defaults: Map[String, Column] = Map.empty): DataFrame = {
    val outCols = target.columns.toSeq
    val conformed = conform(target, updates, defaults,
      keyCols ++ (versionCol +: tieBreakCols))
    val u = Dedup.latestWins(conformed.select(outCols.map(conformed.col): _*),
      keyCols, versionCol, tieBreakCols)
    val t = target
    val joined = t.join(u, keyCond(t, u, keyCols), "full_outer")
    val uPresent = u.col(keyCols.head).isNotNull
    val tPresent = t.col(keyCols.head).isNotNull
    val uWins = uPresent && (!tPresent ||
      ordering(u, versionCol, tieBreakCols) >= ordering(t, versionCol, tieBreakCols))
    joined.select(outCols.map(c => when(uWins, u.col(c)).otherwise(t.col(c)).as(c)): _*)
  }

  /** Soft delete (reference "data soft deleter", `src/delete.rs:252`):
    * flips `flagCol` to false for keys with a tombstone at least as new as
    * the stored row. Adds `flagCol` (default true) if absent. */
  def softDelete(
      target: DataFrame,
      deletes: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      tieBreakCols: Seq[String] = Nil,
      flagCol: String = "row_active"): DataFrame =
    keyed(target, deletes, keyCols, versionCol, tieBreakCols, Op.SoftDelete(flagCol))

  /** Hard delete: drops rows whose key has a tombstone at least as new. */
  def hardDelete(
      target: DataFrame,
      deletes: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      tieBreakCols: Seq[String] = Nil): DataFrame =
    keyed(target, deletes, keyCols, versionCol, tieBreakCols, Op.HardDelete)

  /** Dead-letter split — the validating front door of every ingest
    * pipeline: rows failing ANY rule are diverted to a quarantine
    * stream carrying the comma-joined names of every rule they violate
    * (in rule order — deterministic), instead of poisoning the target
    * or silently dropping. Valid rows pass through untouched for the
    * merge; the quarantine side keeps the FULL row for replay after the
    * upstream fix.
    *
    * NULL rule results count as violations, never as passes (the
    * [[graft.ops.Profile.expect]] contract — an unevaluable rule is a
    * failed rule). Returns (valid, quarantined + `quarantine_reason`).
    *
    * Scale: one row-local projection per side — no shuffle, no
    * aggregation; rules are ordinary Catalyst predicates, so scan
    * pruning and codegen apply as if the split weren't there. */
  def quarantineSplit(
      updates: DataFrame, rules: Seq[(String, Column)])
      : (DataFrame, DataFrame) = {
    require(rules.nonEmpty, "quarantineSplit needs at least one rule")
    require(!updates.columns.contains("quarantine_reason"),
      "updates already carry a quarantine_reason column")
    val marks = rules.map { case (name, pred) =>
      when(coalesce(pred, lit(false)), lit(null).cast("string"))
        .otherwise(lit(name))
    }
    val tagged = updates.withColumn("__viol",
      concat_ws(",", array(marks: _*)))
    val valid = tagged.filter(col("__viol") === "").drop("__viol")
    val bad = tagged.filter(col("__viol") =!= "")
      .withColumnRenamed("__viol", "quarantine_reason")
    (valid, bad)
  }

  /** BATCH-level data contract on the write path (the Delta
    * CHECK-constraint / expectations-on-write idea): count the batch's
    * rule violations FIRST, and only if they stay within
    * `maxViolations` does the merge run — otherwise the whole batch is
    * rejected loud and the target is untouched (all-or-nothing, unlike
    * [[quarantineSplit]]'s row-level diversion: a contract breach
    * signals an upstream bug where half-ingesting the batch would
    * poison the table AND mask the bug). A NULL rule result counts as
    * a violation (unprovable ≠ valid). One extra aggregate over the
    * batch — the target is never read before the verdict. */
  def contractUpsert(sink: MergeSink, batch: DataFrame,
      config: graft.model.IngestConfig, rules: Seq[(String, Column)],
      maxViolations: Long = 0L): Unit = {
    require(rules.nonEmpty, "contractUpsert needs at least one rule")
    val bad = batch.filter(
      rules.map { case (_, c) => !coalesce(c, lit(false)) }.reduce(_ || _))
      .count()
    if (bad > maxViolations)
      throw new IllegalStateException(
        s"data contract rejected batch: $bad violation(s) of " +
          s"[${rules.map(_._1).mkString(", ")}] exceed " +
          s"maxViolations=$maxViolations")
    sink.mergeUpsert(batch, config)
  }
}
