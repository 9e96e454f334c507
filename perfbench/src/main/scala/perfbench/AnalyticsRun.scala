package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.engine.Caching
import org.apache.spark.sql.SparkSession

/** Closed loop, one client: passes over a fixed mix of registered
  * `SparkEntry.queries` on a fixture-shaped dataset, each query timed as
  * `queryExecution.toRdd.count()` the way `graft.Bench` does, inside its own
  * `Caching.scoped`. The seed orders the queries within each pass. The
  * untimed warm-up pass writes each query's result for the DuckDB oracle
  * comparison that `run.py` makes. */
object AnalyticsRun {
  /** Gold-layer and plan-rule queries. */
  val Gold = Seq("q1_agg", "gold_fact_fee_tax", "j4_multi_join_agg", "j6_asof_join",
    "w1b_topk_native", "t1_tumbling_hourly", "a4_dedup_lww")
  /** `ops.ext` queries. */
  val Ext = Seq("dd3_minhash_lsh", "pr2_triangles")
  val Queries = Gold ++ Ext
  /** Timed passes: one per this many seconds of `--seconds`, at least one;
    * a traced run makes at least two, so that every query is timed once
    * traced and once untraced. */
  val PassSeconds = 10.0
  def passes(p: Probe, seconds: Double): Int =
    math.max(if (p.tracing) 2 else 1, math.round(seconds / PassSeconds).toInt)

  def apply(spark: SparkSession, p: Probe, work: String, seconds: Double, seed: Long): Outcome = {
    val fx = s"$work/fixture"
    val ms = Queries.map(_ -> ArrayBuffer.empty[Double]).toMap
    val stats = Queries.map(_ -> ArrayBuffer.empty[CallStats]).toMap
    val calls = ArrayBuffer.empty[(String, Boolean, Double)]
    var attempted, failed = 0L
    val rng = new scala.util.Random(seed)

    def run(q: String, on: Boolean): Call[Long] =
      p.call(s"analytics.$q", on)(Caching.scoped {
        SparkEntry.queries(q)(spark, fx).queryExecution.toRdd.count()
      })

    val results = s"$work/results"
    Queries.foreach { q =>
      Caching.scoped(SparkEntry.queries(q)(spark, fx).write.parquet(s"$results/$q"))
    }
    Probe.note("analytics warm-up pass written")
    val gc0 = Probe.gcMs()
    val cpu0 = Probe.processCpuMs()
    val n = passes(p, seconds)
    (0 until n).foreach { k =>
      rng.shuffle(Queries).foreach { q =>
        val on = p.tracing && (k + Queries.indexOf(q)) % 2 == 1
        attempted += 1
        try {
          val c = run(q, on)
          ms(q) += c.ms
          calls += ((q, on, c.ms))
          c.stats.foreach(stats(q) += _)
        } catch {
          case e: Exception => e.printStackTrace(); failed += 1; ms(q) += Double.PositiveInfinity
        }
      }
      Probe.note(s"analytics pass $k done")
    }
    val cpuMs = Probe.processCpuMs() - cpu0
    val gcMs = Probe.gcMs() - gc0

    val oracles = SparkEntry.oracleSql.filter { case (q, _) => Queries.contains(q) }
    val w = new java.io.PrintWriter(s"$results/oracle_sql.json", "UTF-8")
    try w.println(Json.write(oracles)) finally w.close()

    val med = Queries.map(q => q -> Stats.median(ms(q))).toMap
    val layer = if (!p.tracing) Map.empty[String, Double] else {
      Queries.flatMap { q =>
        Seq(
          s"analytics.$q.ms_p50" -> med(q),
          s"analytics.$q.tasks" -> Stats.median(stats(q).map(_.tasks.toDouble)),
          s"analytics.$q.shuffle_bytes" -> Stats.median(stats(q).map(_.shuffleWriteBytes.toDouble)))
      }.toMap ++ Map(
        "analytics.gold_s" -> Gold.map(med).sum / 1000,
        "analytics.ext_s" -> Ext.map(med).sum / 1000,
        "analytics.gc_ms" -> gcMs.toDouble / n,
        "analytics.geomean_ms" -> Stats.geomean(Queries.map(med)),
        "trace.overhead_pct" -> Probe.overheadPct(Queries.map(q =>
          calls.collect { case (`q`, on, m) => (m, on) })))
    }
    Outcome(attempted, failed, failed == 0, Queries.map(med).sum, cpuMs / n, layer,
      Map("passes" -> n, "query_p50_ms" -> med))
  }
}
