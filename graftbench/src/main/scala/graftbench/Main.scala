package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, sf: String, cores: Int, pool: Seq[String])

/** One benchmark run in one JVM: a single closed-loop client drives the
  * workload for `--seconds`, checks every result, and prints one JSON line
  * with the end-to-end metrics (untraced) or the per-layer ones (traced).
  * `run.py` builds the classpath, starts this main and adds the DuckDB
  * check.
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms",
    "ops_per_s" -> "1/s", "cpu_ms_per_op" -> "ms", "heap_mb" -> "MB")

  /** Layer metrics a workload's own operations may not reach; a traced
    * run fills those from the probes.
    */
  private val RoadLayers = Seq("graph.read_ms", "graph.build_ms",
    "graph.projection_ms", "graph.append_ms", "core.budget_ms", "algo.csr_ms",
    "algo.dijkstra_ms", "algo.astar_ms", "algo.yen3_ms", "algo.unattributed_ms")
  private val SfLayers = Seq("queries.build_ms", "queries.sink_ms",
    "core.table_plan_ms", "core.release_ms", "functions.minhash_ms",
    "functions.simhash_ms", "functions.cosine_ms")

  val PerLayer: Seq[(String, String)] =
    (RoadLayers ++ SfLayers).map(_ -> "ms") ++ Seq(
      "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
      "spark.task_wait_ms" -> "ms", "spark.executor_cpu_s" -> "s",
      "spark.executor_run_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
      "spark.failed_tasks" -> "count", "core.leaked_rdds" -> "count",
      "core.cached_mb" -> "MB", "host.calib_ms" -> "ms",
      "host.loadavg" -> "load", "trace.untraced_p50_ms" -> "ms",
      "trace.traced_p50_ms" -> "ms", "trace.overhead_pct" -> "%")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, m("sf"), m("cores").toInt,
      m("pool").split(",").toSeq.filter(_.nonEmpty))
  }

  private def jstr(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = graft.core.Sessions.local(a.cores, "graftbench")
    val code = try { run(spark, a); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    } finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Args): Unit = {
    val sc = spark.sparkContext
    val recorder = if (a.trace) Some(new Recorder) else None
    recorder.foreach(sc.addSparkListener)
    val h = new Harness(sc)
    Host.log("session ready")
    val calib0 = Host.calibMs()
    val load = Host.loadavg()
    val (setupS, oracle) = a.workload match {
      case "road_paths" => (Road.paths(spark, h, a), Nil)
      case "sf01" => Sf.run(spark, h, a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Host.log("workload done")
    val cachedMb = h.cachedMb()
    val heapMb = h.heapMb()
    require(h.rounds.nonEmpty, "no operation completed")
    val quiet = Sample.quietRound(h.rounds.toSeq)
    val quietMs = quiet.map(_.ms)
    val metrics: Seq[(String, Double)] = recorder match {
      case None => Seq(
        "setup_s" -> setupS,
        "op_p50_ms" -> Stats.median(quietMs),
        "op_p90_ms" -> Stats.pct(quietMs, 90),
        "ops_per_s" -> quiet.size * 1000.0 / quietMs.sum,
        "cpu_ms_per_op" -> quiet.map(_.cpuMs).sum / quiet.size,
        "heap_mb" -> heapMb)
      case Some(c) =>
        BenchBus.drain(sc)
        val ops = math.max(1, h.opsRun).toDouble
        val probe = new Harness(sc)
        if (!RoadLayers.forall(h.layers.contains)) Road.probe(spark, probe, a.work, a.seed)
        if (!SfLayers.forall(h.layers.contains)) Sf.probe(spark, probe, a)
        probe.layers.foreach { case (k, v) => if (!h.layers.contains(k)) h.layers(k) = v }
        h.attempted += probe.attempted
        h.failed += probe.failed
        val p50u = Stats.median(h.rounds.toSeq.flatten.map(_.ms))
        val p50t = Stats.median(h.traced.toSeq)
        (RoadLayers ++ SfLayers).map(k => k -> Stats.median(h.layers(k).toSeq)) ++ Seq(
          "spark.jobs_per_op" -> c.jobs / ops,
          "spark.tasks_per_op" -> c.tasks / ops,
          "spark.task_wait_ms" -> c.waitMs / ops,
          "spark.executor_cpu_s" -> c.cpuNs / 1e9 / ops,
          "spark.executor_run_s" -> c.runMs / 1e3 / ops,
          "spark.gc_s" -> c.gcMs / 1e3 / ops,
          "spark.shuffle_mb" -> c.shuffleBytes / 1048576.0 / ops,
          "spark.spill_mb" -> c.spillBytes / 1048576.0 / ops,
          "spark.failed_tasks" -> c.failedTasks.toDouble,
          "core.leaked_rdds" -> h.leakedMax.toDouble,
          "core.cached_mb" -> cachedMb,
          "host.calib_ms" -> (calib0 + Host.calibMs()) / 2,
          "host.loadavg" -> load,
          "trace.untraced_p50_ms" -> p50u,
          "trace.traced_p50_ms" -> p50t,
          "trace.overhead_pct" -> (p50t / p50u - 1) * 100)
    }
    val units = (if (a.trace) PerLayer else EndToEnd).toMap
    val bad = metrics.filter { case (_, v) => v.isNaN || v.isInfinite }
    require(bad.isEmpty, s"non-finite metrics: $bad")
    val ms = metrics.map { case (k, v) =>
      s"""${jstr(k)}:{"value":$v,"unit":${jstr(units(k))}}"""
    }.mkString("{", ",", "}")
    val or = oracle.map(o =>
      s"""{"name":${jstr(o.name)},"path":${jstr(o.path)},"sql":${jstr(o.sql)}}""")
      .mkString("[", ",", "]")
    Host.log("result")
    println(s"""{"correct":${h.failed == 0},"attempted":${h.attempted},""" +
      s""""failed":${h.failed},"metrics":$ms,"oracle":$or}""")
  }
}
