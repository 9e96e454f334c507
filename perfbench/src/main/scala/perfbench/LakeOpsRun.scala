package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.ops.lake.{ChangeApply, Mutations, Snapshots}
import graft.sql.LakeSql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed loop, one client, writes beside reads. Set-up commits the first
  * day to a lake table; the first cycle's catch-up bootstraps the mirror.
  * Each cycle appends the next day (`Snapshots.stageWithStats` +
  * `commitAll`), MERGEs the previous day's corrections
  * (`Mutations.mergeIntoKeys`), catches the mirror up (`ChangeApply.mirror`)
  * and runs a fixed SQL read mix through `LakeSql.register` + `spark.sql`:
  * five single-day aggregates, two week-range aggregates and one full-table
  * group-by. One operation is one cycle; its latency is the sum of the
  * per-operation medians over a cycle's calls, as `analytics` sums
  * per-query medians. After every cycle, outside the timed window, the
  * mirror must equal the table in row count and exact value sum. */
object LakeOpsRun {
  val BootstrapDays = 1
  /** Files per staged day; the table holds a few days of a few thousand
    * rows, so the default 128 would time file fan-out rather than commits. */
  val Buckets = 4
  /** Timed cycles: one per this many seconds of `--seconds`, at least two. */
  val CycleSeconds = 10.0
  val MinCycles = 2
  val Ops = Seq("append", "merge", "apply", "read")
  val SingleDayReads = 5
  val WeekReads = 2
  /** The single-day and week-range reads plus one full-table group-by. */
  val ReadsPerCycle = SingleDayReads + WeekReads + 1

  /** Files read by the leaf scans of an executed plan. */
  private def scannedFiles(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scannedFiles(a.executedPlan)
    case q: QueryStageExec => scannedFiles(q.plan)
    case leaf if leaf.children.isEmpty => leaf.metrics.get("numFiles").fold(0L)(_.value)
    case p => p.children.map(scannedFiles).sum + p.subqueries.map(scannedFiles).sum
  }

  private final class Scans extends QueryExecutionListener {
    val files = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      files.add(scannedFiles(qe.executedPlan))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def apply(spark: SparkSession, p: Probe, work: String, seconds: Double, seed: Long): Outcome = {
    val src = s"$work/run/src"
    val mirror = s"$work/run/mirror"
    def input(kind: String, d: Int): DataFrame =
      spark.read.parquet(s"$work/$kind=$d").withColumn("event_date", to_date(col("ts")))
    def date(d: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString
    val days = new java.io.File(work).list().count(_.startsWith("day="))

    def append(d: Int): Long = Snapshots.commitAll(src,
      Snapshots.stageWithStats(input("day", d), src, "event_date", "event_id", Buckets))
    (0 until BootstrapDays).foreach(append)
    LakeSql.register(spark, "trades", src, "event_date")
    Probe.note("lake table bootstrapped")
    val scans = new Scans
    if (p.tracing) spark.listenerManager.register(scans)

    val opMs = Ops.map(_ -> ArrayBuffer.empty[Double]).toMap
    val opStats = Ops.map(_ -> ArrayBuffer.empty[(CallStats, Long)]).toMap
    val planMs, scanned, pruneRatio = ArrayBuffer.empty[Double]
    val cycleMs = ArrayBuffer.empty[Double]
    val readArms = ArrayBuffer.empty[(Double, Boolean)]
    var attempted, failed = 0L
    var cpuMs = 0.0
    val rng = new scala.util.Random(seed)

    def files(): Long = Probe.dataFiles(src) + Probe.dataFiles(mirror)

    var callNo = 0
    def cycle(k: Int, d: Int): Unit = {
      val single = Seq.fill(SingleDayReads)(rng.nextInt(d + 1))
      val weeks = Seq.fill(WeekReads)(rng.nextInt(math.max(1, d - 5)))
      val reads = single.map(x =>
        s"SELECT event_type, count(*) AS n, sum(value) AS v FROM trades " +
          s"WHERE event_date = DATE '${date(x)}' GROUP BY event_type") ++
        weeks.map(x =>
          s"SELECT event_type, count(*) AS n, sum(value) AS v FROM trades WHERE event_date " +
            s"BETWEEN DATE '${date(x)}' AND DATE '${date(x + 6)}' GROUP BY event_type") :+
        "SELECT event_date, count(*) AS n, sum(value) AS v FROM trades GROUP BY event_date"
      val cpu0 = Probe.processCpuMs()
      val t0 = p.nowMs
      val calls = ArrayBuffer.empty[(String, Call[_], Long)]
      // tracing alternates per call; a cycle has an odd number of calls,
      // so each operation is traced in one of two consecutive cycles
      var on = false
      def op[T](name: String, layer: String)(f: => T): T = {
        callNo += 1
        on = p.tracing && callNo % 2 == 1
        val before = if (on) files() else 0L
        val c = p.call(s"$layer.$name", on)(f)
        calls += ((name, c, if (on) files() - before else 0L))
        c.value
      }
      val ok = try {
        p.span("lake.cycle") {
          op("append", "ops.lake.Snapshots")(append(d))
          op("merge", "ops.lake.Mutations") {
            Mutations.mergeIntoKeys(spark, src, input("corr", d - 1), Seq("event_id"), "event_date",
              whenMatchedUpdate = Some((lit(true), Map("value" -> col("s.value")))),
              whenNotMatchedInsert = Some(lit(true)))
          }
          op("apply", "ops.lake.ChangeApply") {
            ChangeApply.mirror(spark, mirror, src, Seq("event_id"), "event_date")
          }
          reads.zipWithIndex.foreach { case (q, i) =>
            scans.files.clear()
            op("read", "sql.LakeSql") {
              val t = p.nowMs
              val df = spark.sql(q)
              df.queryExecution.executedPlan
              if (on) planMs += p.nowMs - t
              df.collect()
            }
            if (on) {
              val n = scans.files.toArray.map(_.asInstanceOf[Long]).sum.toDouble
              scanned += n
              if (i < single.size) pruneRatio += n / Snapshots.entriesAll(src).size
            }
          }
        }
        true
      } catch { case e: Exception => e.printStackTrace(); false }
      val ms = p.nowMs - t0
      val cpu = Probe.processCpuMs() - cpu0
      val consistent = ok && check(spark, src, mirror)
      Probe.note(f"lake cycle $k: $ms%.0f ms, consistent=$consistent")
      attempted += 1
      cpuMs += cpu
      if (!consistent) { failed += 1; Ops.foreach(opMs(_) += Double.PositiveInfinity) }
      else calls.foreach { case (name, c, newFiles) =>
        opMs(name) += c.ms
        if (name == "read") readArms += ((c.ms, c.stats.isDefined))
        c.stats.foreach(s => opStats(name) += ((s, newFiles)))
      }
      cycleMs += (if (consistent) ms else Double.PositiveInfinity)
    }

    val cycles = math.min(days - BootstrapDays,
      math.max(MinCycles, math.round(seconds / CycleSeconds).toInt))
    (0 until cycles).foreach(k => cycle(k, BootstrapDays + k))
    if (p.tracing) spark.listenerManager.unregister(scans)

    val layer = if (!p.tracing) Map.empty[String, Double] else {
      val perOp = Ops.flatMap { op =>
        val xs = opStats(op)
        def med(f: ((CallStats, Long)) => Double) = Stats.median(xs.map(f))
        Seq(
          s"lake.$op.jobs" -> med(_._1.jobs.toDouble),
          s"lake.$op.tasks" -> med(_._1.tasks.toDouble),
          s"lake.$op.stage_ms" -> med(_._1.stageMs.toDouble),
          s"lake.$op.driver_ms" -> med(_._1.driverMs),
          s"lake.$op.files_written" -> med(_._2.toDouble))
      }
      val logDir = new java.io.File(src, "_graft_log")
      perOp.toMap ++ Map(
        "lake.table_files" -> Snapshots.entriesAll(src).size.toDouble,
        "lake.log_files" -> Option(logDir.list()).fold(0)(_.length).toDouble,
        "lake.read.files_scanned" -> Stats.median(scanned),
        "lake.read.prune_ratio" -> Stats.median(pruneRatio),
        "sql.plan_p50_ms" -> Stats.median(planMs),
        "lake.append_p50_ms" -> Stats.median(opMs("append")),
        "lake.merge_p50_ms" -> Stats.median(opMs("merge")),
        "lake.apply_p50_ms" -> Stats.median(opMs("apply")),
        "lake.read_p50_ms" -> Stats.median(opMs("read")),
        "lake.read_p90_ms" -> Stats.quantile(opMs("read"), 0.9),
        // from the reads alone: they alternate within every cycle, while
        // the first cycle's catch-up is also the mirror's bootstrap
        "trace.overhead_pct" -> Probe.overheadPct(Seq(readArms)))
    }
    val perCycle = Ops.map(o => Stats.median(opMs(o)) * (if (o == "read") ReadsPerCycle else 1)).sum
    Outcome(attempted, failed, failed == 0 && attempted >= MinCycles,
      perCycle, cpuMs / attempted, layer,
      Map("cycles_ms" -> cycleMs, "op_p50_ms" -> Ops.map(o => o -> Stats.median(opMs(o))).toMap))
  }

  /** The mirror equals the table: same row count, same exact value sum. */
  private def check(spark: SparkSession, src: String, mirror: String): Boolean = {
    def summary(t: String) = Snapshots.read(spark, t)
      .agg(count(lit(1)), sum(col("value").cast("decimal(20,2)")).cast("string")).head()
    val (a, b) = (summary(src), summary(mirror))
    val ok = a.getLong(0) == b.getLong(0) && a.getString(1) == b.getString(1)
    if (!ok) System.err.println(s"[lake] mirror differs: table $a, mirror $b")
    ok
  }
}
