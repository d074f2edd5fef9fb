package ingestbench

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{hash, lit, pmod}

import graft.ops.Dedup

/** Self-checks of the benchmark itself (`--selfcheck`):
  *  1. the same seed gives byte-identical inputs, another seed does not;
  *  2. the oracle agrees with `Dedup.latestWinsWindow` on a tiny seed;
  *  3. the generator's bucket of a key is the one Spark's `pmod(hash(...))`
  *     gives, so a batch confined to a few buckets really is;
  *  4. span attribution: a job submitted inside a timed span without its
  *     id is caught, and a short traced run of each workload (whose
  *     analysis fails on such a job) checks some jobs and finds none; the
  *     bucket-confined workload rewrites no more buckets than it touches. */
object SelfCheck {

  private def digest(rows: Seq[Ev]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(s"${r.pkey},${r.version},${r.eventId},${r.payload},${r.table}\n".getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def inputs(spec: Spec, seed: Long): Seq[Ev] = {
    val g = new Gen(spec, seed, 0)
    g.preload() ++ (0 until 3).flatMap(g.batch(_, spec.rows))
  }

  def run(spark: SparkSession, work: String): Unit = {
    Spec.workloads.foreach { base =>
      val spec = base.copy(keys = 2000, rows = 300)
      val a = digest(inputs(spec, 7))
      val b = digest(inputs(spec, 7))
      val c = digest(inputs(spec, 8))
      require(a == b, s"${spec.name}: seed 7 gave different inputs twice")
      require(a != c, s"${spec.name}: seeds 7 and 8 gave identical inputs")
      println(s"selfcheck ${spec.name}: same seed, identical inputs ($a)")
    }

    val spec = Spec.byName("upsert_bulk_skew").copy(keys = 500, rows = 2000)
    val g = new Gen(spec, 11, 0)
    val rows = (0 until 4).flatMap(g.batch(_, spec.rows))
    val oracle = new Oracle
    oracle.upsert(rows)
    val df = Schemas.local(spark, rows, Schemas.event)
    val got = Dedup.latestWinsWindow(df, Seq("pkey"), "modified_date", Seq("event_id"))
      .collect().toSeq
    Verify.state(got, oracle.snapshot, "selfcheck-latestWinsWindow", 0)
    println(s"selfcheck oracle: agrees with Dedup.latestWinsWindow on ${rows.size} rows, " +
      s"${oracle.state.size} keys")

    import spark.implicits._
    val bucketsSpark = (0L until 5000L).toDF("pkey")
      .select($"pkey", pmod(hash($"pkey"), lit(16))).as[(Long, Int)].collect().toMap
    val wrong = bucketsSpark.filter { case (k, b) => Gen.bucketOf(k, 16) != b }
    require(wrong.isEmpty, s"generator buckets differ from Spark's for ${wrong.size} keys")
    println(s"selfcheck buckets: generator matches pmod(hash(pkey), 16) on ${bucketsSpark.size} keys")

    val call = Span("s0.call1", "", "sink", 1000.0, 2000.0)
    val op = Span("s0.c1.lookup2", "s0.c1", "op.lookup", 900.0, 2100.0)
    def job(id: Int, at: Long, span: Option[String]) =
      JobRec(id, at, at + 5, "collect at X.scala:1", span, None, Nil)
    val (n, lost) = Analysis.unattributed(Seq(job(1, 1500, Some("s0.call1")),
      job(2, 1500, None), job(3, 950, Some("s0.c1.lookup2")), job(4, 1500, Some("s0.c1.lookup2")),
      job(5, 3000, None)), Seq(call, op))
    require(n == 4 && lost.map(_.split(' ')(1)) == Seq("2", "4"),
      s"attribution check missed a job: checked $n, flagged ${lost.mkString("; ")}")
    println("selfcheck attribution: an untagged or mis-tagged job inside a timed span is flagged")

    Spec.workloads.foreach { base =>
      val small = base.copy(keys = math.min(base.keys, 4000), buckets = math.min(base.buckets, 16),
        rows = math.min(base.rows, 500), settle = math.min(base.settle, 2),
        staged = math.min(math.max(base.staged, 1), 6), setups = 1)
      val rec = new Recorder(spark.sparkContext, traced = true)
      val listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
      try {
        val ctx = new Ctx(spark, spark.sparkContext.defaultParallelism, s"$work/${small.name}",
          3, rec, Some(listener), small, 1.0)
        val (_, seg) = Workloads.run(ctx)
        val t = Analysis.perLayer(ctx, seg)
        require(t.attribution("submitted_inside_a_timed_span").asInstanceOf[Int] > 0,
          s"${small.name}: no job fell inside a timed span, so attribution was not checked")
        if (small.bucketsPerBatch > 0) {
          val rewritten = t.metrics.toMap.apply("ParquetTarget.buckets_rewritten")._1
          require(rewritten > 0 && rewritten <= small.bucketsPerBatch,
            s"${small.name}: ${rewritten} buckets rewritten per commit, keys drawn from " +
              s"${small.bucketsPerBatch}")
        }
        println(s"selfcheck ${small.name}: every job inside a timed span carries its id ${t.attribution}")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    println("selfcheck: all passed")
  }
}
