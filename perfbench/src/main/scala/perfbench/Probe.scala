package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark counters of one timed call, read from the benchmark's own
  * listener. `driverMs` is the call's wall time during which none of its
  * Spark jobs was running. */
final case class CallStats(jobs: Long, tasks: Long, stageMs: Long,
    shuffleWriteBytes: Long, bytesWritten: Long, driverMs: Double)

final case class Call[T](value: T, ms: Double, stats: Option[CallStats])

final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)

/** Aggregates task metrics per tag: the `perfbench.call` local property of
  * the thread that submitted the job. Streaming queries started inside a
  * call inherit it, so their micro-batch jobs count for that call. */
final class Counters extends SparkListener {
  final class Acc {
    var jobs, tasks, stageMs, shuffleWrite, bytesOut = 0L
    val jobSpans = ArrayBuffer.empty[(Int, Long, Long)]
  }
  private val byTag = mutable.Map.empty[String, Acc]
  private val stageTag = mutable.Map.empty[Int, String]
  private val open = mutable.Map.empty[Int, (String, Long)]

  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(Probe.TagKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagOf(e.properties).foreach { tag =>
      open(e.jobId) = (tag, e.time)
      e.stageIds.foreach(stageTag(_) = tag)
      byTag.getOrElseUpdate(tag, new Acc).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (tag, start) =>
      byTag.getOrElseUpdate(tag, new Acc).jobSpans += ((e.jobId, start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (tag <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = byTag.getOrElseUpdate(tag, new Acc)
      a.tasks += 1
      a.stageMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.bytesOut += m.outputMetrics.bytesWritten
    }
  }

  def take(tag: String): Acc = synchronized {
    stageTag.filterInPlace((_, t) => t != tag)
    byTag.remove(tag).getOrElse(new Acc)
  }
}

/** Times calls into the engine's public functions. With tracing on it also
  * records a span per call, tags the call's Spark jobs through a local
  * property, turns each job into a child span, and returns the call's
  * counters. Spans stay in memory until [[writeSpans]]. */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  private val sc = spark.sparkContext
  private val counters: Option[Counters] =
    if (tracing) { val c = new Counters; sc.addSparkListener(c); Some(c) } else None
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  if (tracing) spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var parents: List[Long] = Nil
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  /** Times `f`; when `traced` (only possible with tracing on) records its
    * span and counters. */
  def call[T](name: String, traced: Boolean = tracing)(f: => T): Call[T] = {
    val on = traced && tracing
    val id = { nextId += 1; nextId }
    val prevTag = sc.getLocalProperty(Probe.TagKey)
    if (on) { sc.setLocalProperty(Probe.TagKey, s"c$id"); parents = id :: parents }
    val t0 = nowMs
    val v = try f finally {
      if (on) { sc.setLocalProperty(Probe.TagKey, prevTag); parents = parents.tail }
    }
    val t1 = nowMs
    val stats = if (!on) None else {
      spans += Span(id, parents.headOption.getOrElse(0L), name, t0, t1)
      Some(collect(s"c$id", id, t0, t1))
    }
    Call(v, t1 - t0, stats)
  }

  /** A parent span around several calls (no counters of its own). */
  def span[T](name: String)(f: => T): (T, Double) = {
    val id = { nextId += 1; nextId }
    if (tracing) parents = id :: parents
    val t0 = nowMs
    val v = try f finally if (tracing) parents = parents.tail
    val t1 = nowMs
    if (tracing) spans += Span(id, parents.headOption.getOrElse(0L), name, t0, t1)
    (v, t1 - t0)
  }

  /** Counters of the jobs tagged `tag`, which ran in the call window
    * `t0`..`t1`; each job also becomes a child span of `parent`. */
  private def collect(tag: String, parent: Long, t0: Double, t1: Double): CallStats = {
    PerfbenchBus.drain(sc)
    val a = counters.get.take(tag)
    val jobs = a.jobSpans.sortBy(_._2)
    jobs.foreach { case (jobId, s, e) =>
      spans += Span(-jobId.toLong - 1, parent, s"spark.job.$jobId", s.toDouble, e.toDouble)
    }
    // union of job intervals clipped to the call window
    var busy = 0.0
    var edge = t0
    for ((_, s, e) <- jobs) {
      val lo = math.max(s.toDouble, edge); val hi = math.min(e.toDouble, t1)
      if (hi > lo) { busy += hi - lo; edge = hi }
    }
    CallStats(a.jobs, a.tasks, a.stageMs, a.shuffleWrite, a.bytesOut,
      math.max(0.0, (t1 - t0) - busy))
  }

  /** Micro-batch progress reports (`StreamingQueryProgress.durationMs`
    * and friends) delivered since the last call; with `record` each batch
    * also becomes a span. */
  def takeProgress(record: Boolean): Seq[StreamingQueryProgress] = {
    PerfbenchBus.drain(sc)
    val out = ArrayBuffer.empty[StreamingQueryProgress]
    while (!progress.isEmpty) out += progress.poll()
    if (record) out.foreach { pg =>
      val start = java.time.Instant.parse(pg.timestamp).toEpochMilli.toDouble
      nextId += 1
      spans += Span(nextId, 0L, s"streaming.batch.${pg.batchId}", start,
        start + pg.durationMs.getOrDefault("triggerExecution", 0L))
    }
    out.toSeq
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end)))
    } finally w.close()
  }
}

object Probe {
  val TagKey = "perfbench.call"

  /** Progress line on stderr (the run's `jvm.log`), stamped with seconds
    * since JVM start. */
  def note(msg: String): Unit = {
    val s = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    System.err.println(f"[perfbench $s%7.2fs] $msg")
  }

  def processCpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  /** Tracing overhead in percent: per group of like calls, the median
    * traced time over the median untraced time; the geometric mean of those
    * ratios, minus one. Groups without both kinds of call are skipped. */
  def overheadPct(groups: Seq[Iterable[(Double, Boolean)]]): Double = {
    val ratios = groups.flatMap { g =>
      val (on, off) = g.partition(_._2)
      if (on.isEmpty || off.isEmpty) None
      else Some(Stats.median(on.map(_._1)) / Stats.median(off.map(_._1)))
    }
    if (ratios.isEmpty) Double.NaN else 100.0 * (Stats.geomean(ratios) - 1.0)
  }

  /** Peak resident set (`VmHWM`) of this process, in MB. It includes
    * native memory such as RocksDB's. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Parquet data files under `dir`. */
  def dataFiles(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return 0L
    val s = java.nio.file.Files.walk(root)
    try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
    finally s.close()
  }
}

object Stats {
  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Iterable[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}

/** Minimal JSON writer for maps of numbers, strings, booleans and lists. */
object Json {
  def write(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case null => "null"
    case o => quote(o.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
