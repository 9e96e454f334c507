package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.engine.Graft
import graft.ops.Medallion
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Closed loop, one pipeline at a time: `Medallion.bronze` → `silver` →
  * `check` → `gold` over `<work>/input/events.parquet`. One operation is
  * one full pass, from input present to gold committed. Each pass writes
  * under a fresh directory that is wiped after its correctness checks,
  * outside the timed window. */
object MedallionRun {
  val Stages = Seq("bronze", "silver", "check", "gold")
  val WarmPasses = 1
  /** Timed passes: one per this many seconds of `--seconds`, at least
    * three, so the median is robust to the first pass still warming up. A
    * fixed count, not a deadline, so every run times the same passes. */
  val PassSeconds = 3.0
  val MinPasses = 3

  def apply(spark: SparkSession, p: Probe, work: String, seconds: Double): Outcome = {
    val input = s"$work/input"
    val Array(inputRows, distinct) = scala.io.Source.fromFile(s"$work/input_counts.txt")
      .mkString.trim.split(" ").map(_.toLong)
    val expected = spark.read.parquet(s"$work/gold_expected.parquet").collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) ->
        java.math.BigDecimal.valueOf(r.getLong(2), 2).doubleValue()).toMap

    val stageStats = Stages.map(_ -> ArrayBuffer.empty[(CallStats, Double, Long)]).toMap
    val batches = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val passes = ArrayBuffer.empty[Double]
    val stageMs = Stages.map(_ -> ArrayBuffer.empty[(Double, Boolean)]).toMap
    var attempted, failed = 0L
    var allOk = true
    var cpuMs = 0.0

    def pass(k: Int, measured: Boolean): Unit = {
      val base = s"$work/run/pass-$k"
      // tracing alternates per stage and flips every pass, so each stage
      // is traced in one of two consecutive passes
      def on(stage: Int) = measured && p.tracing && (k + stage) % 2 == 1
      val cpu0 = Probe.processCpuMs()
      val outcome = try {
        val (calls, ms) = p.span("medallion.pass") {
          val b = p.call("streaming.Medallion.bronze", on(0))(Medallion.bronze(spark, input, base))
          val progress = p.takeProgress(on(0))
          if (on(0)) batches ++= progress
          val s = p.call("ops.silver.Medallion.silver", on(1))(Medallion.silver(spark, b.value, base))
          val c = p.call("ops.quality.Medallion.check", on(2))(Medallion.check(spark, s.value))
          val g = if (c.value != ((0L, 0L))) None
            else Some(p.call("ops.gold.Medallion.gold", on(3))(Medallion.gold(spark, s.value, base)))
          (Seq(b, s, c) ++ g, c.value)
        }
        Right((calls, ms))
      } catch { case e: Exception => e.printStackTrace(); Left(e) }
      val cpu = Probe.processCpuMs() - cpu0
      Probe.note(s"medallion pass $k ran")
      val ok = outcome.exists { case ((calls, violations), _) =>
        calls.size == 4 && violations == ((0L, 0L)) && check(spark, base)
      }
      if (measured) {
        attempted += 1
        cpuMs += cpu
        if (!ok) { failed += 1; allOk = false }
        outcome.foreach { case ((calls, _), ms) =>
          passes += (if (ok) ms else Double.PositiveInfinity)
          Stages.zip(calls).foreach { case (st, c) =>
            stageMs(st) += ((c.ms, c.stats.isDefined))
            c.stats.foreach(cs => stageStats(st) += ((cs, c.ms, Probe.dataFiles(s"$base/$st"))))
          }
        }
      }
      Graft.wipeDir(base)
      Probe.note(f"medallion pass $k ok=$ok")
    }

    def check(spark: SparkSession, base: String): Boolean = {
      val bronze = spark.read.parquet(s"$base/bronze").count()
      val silver = spark.read.parquet(s"$base/silver").count()
      val gold = spark.read.parquet(s"$base/gold")
        .select(col("event_date").cast("string"), col("symbol"), col("traded_notional"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      val ok = bronze == inputRows && silver == distinct && gold == expected
      if (!ok) System.err.println(
        s"[medallion] check failed: bronze $bronze/$inputRows silver $silver/$distinct " +
          s"gold ${gold.size}/${expected.size} rows, first differences " +
          expected.filter { case (k, v) => !gold.get(k).contains(v) }.take(3)
            .map { case (k, v) => s"$k: $v vs ${gold.get(k)}" }.mkString("; "))
      ok
    }

    Probe.note("medallion inputs read")
    (0 until WarmPasses).foreach(k => pass(-1 - k, measured = false))
    (0 until math.max(MinPasses, math.round(seconds / PassSeconds).toInt))
      .foreach(pass(_, measured = true))

    val layer = if (!p.tracing) Map.empty[String, Double] else {
      val perStage = Stages.flatMap { st =>
        val xs = stageStats(st)
        def med(f: ((CallStats, Double, Long)) => Double) = Stats.median(xs.map(f))
        Seq(
          s"medallion.$st.wall_ms" -> med(_._2),
          s"medallion.$st.jobs" -> med(_._1.jobs.toDouble),
          s"medallion.$st.tasks" -> med(_._1.tasks.toDouble),
          s"medallion.$st.driver_ms" -> med(_._1.driverMs),
          s"medallion.$st.shuffle_write_bytes" -> med(_._1.shuffleWriteBytes.toDouble),
          s"medallion.$st.files_written" -> med(_._3.toDouble),
          s"medallion.$st.bytes_written" -> med(_._1.bytesWritten.toDouble))
      }
      def d(k: String) = Stats.median(batches.map(_.durationMs.getOrDefault(k, 0L).toDouble))
      perStage.toMap ++ Map(
        "streaming.bronze.batches" -> batches.size.toDouble / stageStats("bronze").size,
        "streaming.bronze.batch_p50_ms" -> d("triggerExecution"),
        "streaming.bronze.add_batch_p50_ms" -> d("addBatch"),
        "streaming.bronze.planning_p50_ms" -> d("queryPlanning"),
        "streaming.bronze.latest_offset_p50_ms" -> d("latestOffset"),
        "streaming.bronze.wal_commit_p50_ms" -> d("walCommit"),
        "streaming.bronze.commit_offsets_p50_ms" -> d("commitOffsets"),
        "streaming.bronze.rows_per_batch_p50" -> Stats.median(batches.map(_.numInputRows.toDouble)),
        "trace.overhead_pct" -> Probe.overheadPct(stageMs.values.toSeq))
    }
    Outcome(attempted, failed, allOk && failed == 0,
      Stats.median(passes), cpuMs / attempted, layer,
      Map("passes_ms" -> passes, "input_rows" -> inputRows, "distinct_trades" -> distinct))
  }
}
