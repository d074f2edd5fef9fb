package ingestbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** One events-shaped input row: `pkey`, an epoch-µs `modified_date`
  * version, a unique `event_id` tie-break and ~100 B of payload. The
  * payload is a pure function of (`event_id`, `salt`), so the oracle keeps
  * three longs per key instead of the string. `table` routes rows in the
  * multi-table workload. */
final case class Ev(pkey: Long, version: Long, eventId: Long, salt: Int,
    table: String = "") {
  def payload: String = Gen.payload(eventId, salt)
}

/** Oracle state of one key: the winning ordering tuple, its payload salt,
  * and the soft-delete flag. */
final case class Stored(version: Long, eventId: Long, salt: Int, active: Boolean) {
  def geq(v: Long, e: Long): Boolean = version > v || (version == v && eventId >= e)
}

/** Expected final state per key, computed in plain Scala from the
  * generated inputs with the merge rules the program documents: latest
  * wins by (`modified_date`, `event_id`), incoming rows win exact ties,
  * a tombstone flips `row_active` only when it is at least as new as the
  * stored row, and a vectored delete removes the key outright. */
final class Oracle {
  val state = mutable.HashMap.empty[Long, Stored]

  /** Latest row per key within one batch (the generator never emits two
    * rows of one key with the same ordering tuple in one batch). */
  private def latest(rows: Iterable[Ev]): Iterable[Ev] =
    rows.groupBy(_.pkey).values.map(_.maxBy(r => (r.version, r.eventId)))

  /** Apply an upsert batch; returns how many keys changed state. */
  def upsert(rows: Iterable[Ev]): Int = {
    var changed = 0
    latest(rows).foreach { r =>
      val cur = state.get(r.pkey)
      if (cur.forall(s => !s.geq(r.version, r.eventId) ||
          (s.version == r.version && s.eventId == r.eventId))) {
        val next = Stored(r.version, r.eventId, r.salt, active = true)
        if (!cur.contains(next)) changed += 1
        state(r.pkey) = next
      }
    }
    changed
  }

  def softDelete(rows: Iterable[Ev]): Int = {
    var changed = 0
    latest(rows).foreach { r =>
      state.get(r.pkey).foreach { s =>
        if (!s.geq(r.version, r.eventId) || (s.version == r.version && s.eventId == r.eventId)) {
          if (s.active) changed += 1
          state(r.pkey) = s.copy(active = false)
        }
      }
    }
    changed
  }

  def vectoredDelete(keys: Iterable[Long]): Int =
    keys.toSeq.distinct.count(k => state.remove(k).isDefined)

  def snapshot: Map[Long, Stored] = state.toMap
}

/** Seeded input generator. The same (seed, segment) always yields the
  * same rows; nothing here reads the clock or the program's output. */
final class Gen(spec: Spec, seed: Long, segment: Int) {
  private val rng = new SplittableRandom(seed * 1000003L + segment * 7919L + spec.name.hashCode)
  private var nextEventId = 1L
  require(spec.bucketsPerBatch <= spec.buckets,
    s"${spec.name}: ${spec.bucketsPerBatch} buckets per batch of ${spec.buckets}")

  private def eid(): Long = { val e = nextEventId; nextEventId += 1; e }

  /** Zipf(s) over ranks 1..n via an inverted CDF; rank → key through a
    * multiplicative bijection so hot keys spread over buckets. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(spec.keys)(i => 1.0 / math.pow(i + 1.0, spec.zipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val mult: Long = Iterator.iterate(1000003L)(_ + 2)
    .find(a => BigInt(a).gcd(BigInt(spec.keys)) == 1).get

  private def drawKey(): Long =
    if (spec.zipfS <= 0) rng.nextLong(spec.keys)
    else {
      val u = rng.nextDouble()
      var i = java.util.Arrays.binarySearch(zipfCdf, u)
      if (i < 0) i = -i - 1
      (math.min(i, spec.keys - 1).toLong * mult) % spec.keys
    }

  /** Keys of each bucket, for batches confined to a few buckets. */
  private lazy val byBucket: Array[Array[Long]] = {
    val b = Array.fill(spec.buckets)(mutable.ArrayBuffer.empty[Long])
    (0L until spec.keys.toLong).foreach(k => b(Gen.bucketOf(k, spec.buckets)) += k)
    b.map(_.toArray)
  }

  /** Every key once, at a version older than any later batch row. */
  def preload(): Seq[Ev] =
    (0L until spec.keys.toLong).map(k =>
      Ev(k, Gen.T0 + rng.nextLong(Gen.Step), eid(), 0,
        if (spec.tables.isEmpty) "" else spec.tables((k % spec.tables.size).toInt)))

  /** Batch `b` of an upsert stream: `rows` rows; a `dupShare` of them
    * repeat a key already in the batch at another version, a
    * `staleShare` carry a version older than the preload. Zipf draws add
    * their own duplicates. With `bucketsPerBatch` > 0 the keys are drawn
    * uniformly from that many buckets, chosen afresh for each batch. */
  def batch(b: Int, rows: Int): Seq[Ev] = {
    val out = new mutable.ArrayBuffer[Ev](rows)
    val fresh = Gen.T0 + (b + 1L) * Gen.Step
    val pool: Option[Array[Long]] = Option.when(spec.bucketsPerBatch > 0) {
      val chosen = mutable.LinkedHashSet.empty[Int]
      while (chosen.size < spec.bucketsPerBatch) chosen += rng.nextInt(spec.buckets)
      chosen.toArray.flatMap(byBucket(_))
    }
    while (out.size < rows) {
      val dup = out.nonEmpty && rng.nextDouble() < spec.dupShare
      val key =
        if (dup) out(rng.nextInt(out.size)).pkey
        else pool.map(p => p(rng.nextInt(p.length))).getOrElse(drawKey())
      val stale = rng.nextDouble() < spec.staleShare
      val v = if (stale) Gen.T0 - 1 - rng.nextLong(Gen.Step) else fresh + rng.nextLong(Gen.Step)
      val tbl =
        if (spec.tables.isEmpty) "" else spec.tables((key % spec.tables.size).toInt)
      out += Ev(key, v, eid(), 0, tbl)
    }
    out.toSeq
  }

  /** Rows whose ordering tuple exactly ties a stored row but carry another
    * payload: the incoming row must win. Keys avoid `taken`. */
  def ties(state: Oracle, n: Int, taken: Set[Long]): Seq[Ev] = {
    val pool = state.state.keysIterator.filterNot(taken).take(n * 50).toIndexedSeq.sorted
    if (pool.isEmpty) Nil
    else (0 until n).map(_ => pool(rng.nextInt(pool.size))).distinct.map { k =>
      val s = state.state(k)
      Ev(k, s.version, s.eventId, s.salt + 1 + rng.nextInt(1000))
    }
  }

  /** Keys for deletes and lookups: `present` drawn from the current
    * state, the rest from outside the key space. */
  def keys(state: Oracle, n: Int, presentShare: Double): Seq[Long] = {
    val live = state.state.keysIterator.toIndexedSeq.sorted
    (0 until n).map { _ =>
      if (live.nonEmpty && rng.nextDouble() < presentShare) live(rng.nextInt(live.size))
      else spec.keys.toLong + rng.nextLong(spec.keys.toLong)
    }.distinct
  }

  /** Soft-delete tombstones for `keys`: most newer than anything stored,
    * a `staleShare` older than the preload (they must not apply). */
  def tombstones(keys: Seq[Long], cycle: Int): Seq[Ev] = {
    val fresh = Gen.T0 + (cycle + 1L) * Gen.Step * 3 + Gen.Step
    keys.map { k =>
      val v = if (rng.nextDouble() < spec.staleShare) Gen.T0 - 1 - rng.nextLong(Gen.Step)
        else fresh + rng.nextLong(Gen.Step)
      Ev(k, v, eid(), 0)
    }
  }
}

object Gen {
  /** 2023-11-14T22:13:20Z in epoch µs; one step is ten seconds. */
  val T0: Long = 1700000000000000L
  val Step: Long = 10000000L

  /** The bucket ParquetTarget stores key `k` in: Spark's `hash(pkey)`
    * (Murmur3, seed 42) modulo the bucket count, as `pmod` gives it. */
  def bucketOf(k: Long, buckets: Int): Int =
    Math.floorMod(Murmur3_x86_32.hashLong(k, 42), buckets)

  private val Alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  def payload(eventId: Long, salt: Int): String = {
    val r = new SplittableRandom(eventId * 31L + salt)
    val n = 96 + r.nextInt(9)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Alphabet.charAt(r.nextInt(Alphabet.length))); i += 1 }
    sb.toString
  }
}
