package perfbench

import java.lang.management.ManagementFactory

import graft.engine.Graft
import org.apache.spark.sql.SparkSession

/** What one workload run measured. `latencyMs` is the workload's
  * user-visible operation time (see `perfbench/README.md`); `cpuMsPerOp`
  * the process CPU it spent per operation; `layer` its per-layer metrics
  * (filled only by traced runs). */
final case class Outcome(
    attempted: Long, failed: Long, checksOk: Boolean,
    latencyMs: Double, cpuMsPerOp: Double,
    layer: Map[String, Double], info: Map[String, Any] = Map.empty)

/** One workload run in one JVM:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <run dir> --out <result.json>`.
  * The run dir holds the generated inputs; the JVM's working directory
  * should be that dir too, since the engine keeps relative scratch paths. */
object Main {
  /** Session set-ups per run: the first one is timed from JVM start, the
    * rest rebuild the session after `stop()`; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setups = (0 until SetupReps).map { i =>
      val t0 = if (i == 0) jvmStart else System.currentTimeMillis().toDouble
      val spark = Graft.configure(SparkSession.builder()
        .master(s"local[$cores]").appName("perfbench")).getOrCreate()
      val t1 = System.currentTimeMillis().toDouble
      spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
      val t2 = System.currentTimeMillis().toDouble
      if (i < SetupReps - 1) spark.stop()
      (t1 - t0, t2 - t1, t2 - t0)
    }
    val spark = SparkSession.active
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe(spark, trace)
    Probe.note(s"session ready; set-ups ${setups.map(_._3)} ms")

    val out = try workload match {
      case "medallion" => MedallionRun(spark, probe, work, seconds)
      case "lake_ops" => LakeOpsRun(spark, probe, work, seconds, seed)
      case "analytics" => AnalyticsRun(spark, probe, work, seconds, seed)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Outcome(1, 1, checksOk = false, Double.NaN, Double.NaN, Map.empty,
          Map("error" -> e.toString))
    }

    val layer = if (!trace) Map.empty[String, Double] else out.layer ++ Map(
      "engine.session_ms" -> Stats.median(setups.map(_._1)),
      "engine.first_action_ms" -> Stats.median(setups.map(_._2)),
      "process.rss_peak_mb" -> Probe.rssPeakMb())
    if (trace) probe.writeSpans(s"$work/spans.jsonl")
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "correct" -> out.checksOk, "attempted" -> out.attempted, "failed" -> out.failed,
      "e2e" -> Map(
        "setup_s" -> Stats.median(setups.map(_._3)) / 1000.0,
        "latency_p50_ms" -> out.latencyMs,
        "cpu_per_op_ms" -> out.cpuMsPerOp),
      "layer" -> layer,
      "setup_ms" -> setups.map(_._3),
      "info" -> out.info)
    Probe.note("workload done")
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.println(Json.write(result)) finally w.close()
    spark.stop()
    Probe.note("session stopped")
  }
}
