package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** The benchmark's own SparkListener. It counts only jobs started while
  * the local property [[Recorder.Layer]] is "op", i.e. jobs of a timed
  * operation, not the benchmark's own layer timings. A task's wait is its
  * launch time minus its stage's submission time. Listener events arrive
  * on one bus thread.
  */
final class Recorder extends SparkListener {
  var jobs, tasks, failedTasks, cpuNs, runMs, gcMs, waitMs, shuffleBytes,
      spillBytes = 0L
  private val opStages = mutable.HashSet.empty[Int]
  private val submitted = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    if (p != null && p.getProperty(Recorder.Layer) == "op") {
      jobs += 1
      opStages ++= e.stageIds
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (opStages(e.stageId)) {
      tasks += 1
      if (!e.taskInfo.successful) failedTasks += 1
      waitMs += math.max(0L, e.taskInfo.launchTime -
        submitted.getOrElse(e.stageId, e.taskInfo.launchTime))
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

object Recorder {
  val Layer = "graftbench.layer"
}

/** Load stamps: a fixed single-thread CPU probe and the 1-minute load. */
object Host {
  /** Progress on standard error, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[graftbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $msg")

  @volatile private var sink = 0L
  def calibMs(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) { h ^= h << 13; h ^= h >>> 7; h ^= h << 17; i += 1 }
    sink = h
    (System.nanoTime() - t0) / 1e6
  }
  def loadavg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }
}

/** One operation of an untraced timed round: its kind (the algorithm of a
  * path query, the name of a registry query), latency and process CPU
  * time, in ms.
  */
final case class Sample(kind: String, ms: Double, cpuMs: Double)

object Sample {
  /** The run's typical round on a quiet host: the operations of a round
    * (every round holds the same mix of kinds), each with the lower
    * quartile of the latencies, and of the CPU times, that its kind had in
    * `rounds`. A shared host only ever adds time, and its slow spells last
    * from seconds to minutes, so the lower quartile stays steady from run
    * to run where the median and the minimum do not.
    */
  def quietRound(rounds: Seq[Seq[Sample]]): Seq[Sample] = {
    val all = rounds.flatten
    val ms = all.groupMap(_.kind)(_.ms).view.mapValues(Stats.pct(_, 25)).toMap
    val cpu = all.groupMap(_.kind)(_.cpuMs).view.mapValues(Stats.pct(_, 25)).toMap
    rounds.maxBy(_.size).map(s => Sample(s.kind, ms(s.kind), cpu(s.kind)))
  }
}

/** Operation accounting for one run: attempts, failures, latencies of the
  * timed operations, process CPU inside them, and per-layer samples.
  */
final class Harness(val sc: SparkContext) {
  var attempted = 0
  var failed = 0
  var opsRun = 0
  /** The operations of each untraced timed round, in order. */
  val rounds = mutable.ArrayBuffer.empty[Seq[Sample]]
  /** Latencies of the traced timed operations. */
  val traced = mutable.ArrayBuffer.empty[Double]
  private var current: mutable.ArrayBuffer[Sample] = _
  val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** RDDs persisted when the loop starts, i.e. after set-up. */
  private var persistedBase = 0
  var leakedMax = 0

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def now(): Long = System.nanoTime()
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def layer(name: String, v: Double): Unit =
    layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Times `f` as a layer sample, returned with its result; its jobs are
    * not counted as the operation's.
    */
  def timeLayer[A](name: String)(f: => A): (A, Double) = {
    sc.setLocalProperty(Recorder.Layer, "trace")
    val t0 = now()
    try {
      val a = f
      val t = ms(t0)
      layer(name, t)
      (a, t)
    } finally sc.setLocalProperty(Recorder.Layer, null)
  }

  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[graftbench] FAILED $what")
  }

  /** Checks outside any timed region (ingest counts, oracles). */
  def verify(what: => String)(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  /** One closed-loop operation. `body` runs under the clock; `check`
    * runs after it stops and returns an error message on a wrong result.
    * `timed` is None during warm-up, else Some(traced). Returns the
    * result and its latency in ms, or None when the operation threw or
    * returned a wrong result.
    */
  def op[A](name: String, timed: Option[Boolean])(body: => A)(
      check: A => Option[String]): Option[(A, Double)] = {
    attempted += 1
    opsRun += 1
    sc.setLocalProperty(Recorder.Layer, "op")
    val c0 = cpuBean.getProcessCpuTime
    val t0 = now()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t = ms(t0)
    val c = cpuBean.getProcessCpuTime - c0
    sc.setLocalProperty(Recorder.Layer, null)
    leakedMax = leakedMax.max(sc.getPersistentRDDs.size - persistedBase)
    res match {
      case Left(e) =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
      case Right(a) =>
        val err = try check(a) catch { case NonFatal(e) => Some(s"check threw $e") }
        err match {
          case Some(m) => fail(s"$name: $m"); None
          case None =>
            timed.foreach { tr =>
              if (tr) traced += t
              else current += Sample(name, t, c / 1e6)
            }
            Some((a, t))
        }
    }
  }

  /** Runs `warm` warm-up rounds, then timed rounds until `seconds` have
    * passed since the first timed round began; a started round always
    * completes, so every run measures whole rounds. With tracing on, timed
    * rounds go untraced, traced, traced, untraced (at least these four), so
    * the run measures its own tracing overhead with the JVM's warm-up drift
    * cancelled to first order.
    */
  def loop(warm: Int, seconds: Int, trace: Boolean)(round: Option[Boolean] => Unit): Unit = {
    persistedBase = sc.getPersistentRDDs.size
    Host.log("warm-up")
    (0 until warm).foreach(_ => round(None))
    Host.log("timed rounds")
    val t0 = now()
    var r = 0
    while (ms(t0) < seconds * 1000.0 || (trace && r < 4)) {
      val tr = trace && (r % 4 == 1 || r % 4 == 2)
      current = if (tr) null else mutable.ArrayBuffer.empty
      round(Some(tr))
      if (current != null && current.nonEmpty) {
        rounds += current.toSeq
        Host.log(f"round $r: p50 ${Stats.median(current.map(_.ms).toSeq)}%.1f ms")
      }
      r += 1
    }
    Host.log(s"$r timed rounds done")
  }

  /** Driver heap in use after full collections. Between them the
    * ContextCleaner gets time to drop what the first one made unreachable.
    */
  def heapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def cachedMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}
