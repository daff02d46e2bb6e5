package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) on local[32] and prints ONE JSON
  * line {"metric":...,"value":total_sec,"queries":{name:sec,...}}.
  *
  * Each query is forced with a `noop`-format write: every output column
  * is fully evaluated and serialized into InternalRows, but nothing lands
  * on disk or the driver. A bare .count() would let Catalyst prune
  * projections the count doesn't need, under-measuring exactly the
  * map-side expression work (langid, quality, normalize, ...).
  *
  * The JSON also records /proc/loadavg at start and end: a loaded machine
  * inflates wall-clock timings 3-20x (observed round 2), so a bench run
  * is self-diagnosing about ambient contention.
  */
object Bench {
  /** The 1/5/15-minute /proc/loadavg fields, or None when unreadable:
    * the one reader behind both the start/end stamps and the taint
    * sample.
    */
  private def readLoadavg(): Option[Array[String]] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3))
    catch { case _: Throwable => None }

  private def loadavg(): String =
    readLoadavg().fold("[]")(_.mkString("[", ",", "]"))

  /** One atomic (l1, l5) sample. Taint bit and risk band must derive from
    * the SAME sample — separate reads raced (round-6 advice): the JSON
    * could carry tainted=false next to load_risk=high.
    */
  private def loadSample(): (Double, Double) =
    readLoadavg().flatMap(s => scala.util.Try((s(0).toDouble, s(1).toDouble))
      .toOption).getOrElse((-1.0, -1.0))

  /** Ambient load above this makes wall-clock timings meaningless (2-20×
    * inflation observed in rounds 2 and 4); gate on it rather than let a
    * polluted run masquerade as a regression. The 5-minute average is
    * gated too (looser bound): a burst that JUST ended leaves the 1-min
    * average clean while page cache and cgroup state are still
    * perturbed — measured 1.3-1.6× total inflation in that window.
    */
  private val LoadThreshold = 2.0
  // Round 5 measured a run that started at 5-min load 3.83 — just under
  // the old 4.0 gate — and still came out ~1.9× inflated vs idle, so the
  // "recent burst" window matters more than first assumed. 2.5 keeps a
  // genuinely-settling machine admissible while catching that case.
  private val Load5Threshold = 2.5
  private def loaded(l1: Double, l5: Double): Boolean =
    l1 > LoadThreshold || l5 > Load5Threshold

  /** Coarse inflation-risk band stamped into the JSON alongside the hard
    * `tainted` bit: rounds 2/4/5 showed timings inflate roughly with
    * ambient load even BELOW the taint gates, so consumers comparing
    * across rounds need the band, not just the boolean. Calibration from
    * observed runs: idle (≤0.5/≤1.0) ≈ 1×; below the gates ≈ 1.0-1.5×;
    * above them 2-20×.
    */
  private def riskBand(l1: Double, l5: Double): String =
    if (l1 < 0 || l5 < 0) "unknown"
    else if (l1 <= 0.5 && l5 <= 1.0) "low"
    else if (l1 <= LoadThreshold && l5 <= Load5Threshold) "elevated"
    else "high"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // BENCH_r06 passed the hard taint gates at 5-min load 2.39 and still
    // came out ~2.8× inflated, so the gate now aims higher: wait (default
    // up to 5 min, SPARK_GRAFT_BENCH_WAIT_SEC to change) for the LOW risk
    // band, not merely for "under the taint thresholds". If low never
    // arrives, run anyway — a late bench beats no bench — and stamp the
    // honest band so no consumer mistakes inflation for regression.
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT_SEC", "300").toInt
    var waitedSec = 0
    var (l1, l5) = loadSample()
    while (riskBand(l1, l5) != "low" && l1 >= 0 && waitedSec < maxWaitSec) {
      System.err.println(
        f"[bench] ambient load 1m=$l1%.2f 5m=$l5%.2f (band " +
          s"${riskBand(l1, l5)}, want low) — waiting 30 s " +
          s"($waitedSec/$maxWaitSec s)")
      Thread.sleep(30000)
      waitedSec += 30
      val s = loadSample(); l1 = s._1; l5 = s._2
    }
    // tainted and the band derive from the SAME final sample
    val tainted = loaded(l1, l5)
    val risk = riskBand(l1, l5)
    if (risk != "low") System.err.println(
      f"[bench] still band=$risk (1m=$l1%.2f 5m=$l5%.2f) after " +
        f"$waitedSec s — timings carry load_risk=$risk, tainted=$tainted")
    val loadStart = loadavg()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = core.Sessions.local(cpus.toInt, "graft-bench")
    // JVM/codegen/scheduler warmup — excluded from per-query timings so
    // the first measured query isn't charged for one-time JIT costs
    spark.range(1L << 20).select((org.apache.spark.sql.functions.col("id") % 7)
      .as("k")).groupBy("k").count().count()
    // The range warmup doesn't touch the parquet reader, the noop commit
    // protocol, or string-expression codegen; left cold, that init (~10 s
    // observed) is all charged to whichever query happens to sort first.
    // Warm them on the smallest table.
    try {
      spark.read.parquet(s"$sfDir/region.parquet")
        .select(org.apache.spark.sql.functions.upper(
          org.apache.spark.sql.functions.col("r_name")).as("w"))
        .write.format("noop").mode("overwrite").save()
    } catch {
      // NonFatal only: an OOM/LinkageError here means the measured run
      // below is doomed anyway and must not be masked. A failed warmup
      // still logs — silently reintroducing ~10 s of parquet/commit init
      // into whichever query sorts first would skew BENCH undiagnosed.
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] parquet/noop warmup failed: $e")
    }
    // First use of each native expression pays a multi-second Janino
    // compile (observed ~8 s landing on whichever dedup query sorts
    // first). That is session-setup cost, not per-query engine cost —
    // same category as the scheduler/parquet warmup above — so compile
    // the codegen'd kernels once on 64 tiny rows before timing starts.
    try {
      import org.apache.spark.sql.functions._
      graft.functions.GraftFunctions.register(spark)
      val toks = split(concat_ws(" ", lit("warm up the"), col("id")), " ")
      val vec = transform(sequence(lit(1), lit(8)),
        x => (x + col("id")).cast("float"))
      spark.range(64)
        .select(col("id"),
          call_function("graft_minhash_text", toks, lit(3), lit(32)).as("mh"),
          // takes the token ARRAY (the logged-warmup fix: the previous
          // concat_ws string form failed analysis silently for rounds,
          // leaving simhash codegen cold for whichever query hit it first)
          call_function("graft_simhash", toks).as("sh"),
          call_function("graft_cosine", vec, vec).as("cs"))
        .write.format("noop").mode("overwrite").save()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] native-expression warmup failed: $e")
    }
    // A query that throws (analysis-time or runtime) must surface as an
    // ERROR, not as a suspiciously-fast timing: BENCH_r07 recorded q35/
    // q43's fail-fast AnalysisExceptions as 0.28 s / 0.11 s "results" and
    // the regression read as a speedup. Failed queries go to the `errors`
    // map and are excluded from `queries`/total.
    // self-test hook: SPARK_GRAFT_BENCH_BREAK=name injects a query that
    // throws at construction, proving the errors map end-to-end without
    // touching a real registry entry
    val injected: Seq[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] =
      sys.env.get("SPARK_GRAFT_BENCH_BREAK").toSeq.map { n =>
        n -> ((s: SparkSession, _: String) =>
          s.read.parquet("/nonexistent/graft-bench-break"))
      }
    val raw = (SparkEntry.queries.toSeq ++ injected).sortBy(_._1)
        .map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err = try {
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        // release per-result materializations (PrefixSum checkpoint,
        // distributed-kernel state) so earlier queries' storage doesn't
        // distort later queries' memory budget; no-op for plain plans
        graft.core.Checkpoints.release(df)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
      }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    def jesc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val results = raw.collect { case (n, s, None) => (n, s) }
    val errors = raw.collect { case (n, _, Some(m)) =>
      "\"" + jesc(n) + "\":\"" + jesc(m.take(200)) + "\""
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Kernel-level algorithm latencies on the reference's graph (same
    // unit — ms per query — as BASELINE.md's algorithm tables, which
    // report 20.8/28.3/20.5 ms at this graph size). The q-level graph
    // timings above additionally include Spark job scheduling and
    // DataFrame materialization; this isolates the algorithm.
    val kernels = try {
      val pg = queries.Graph.graphFor(spark, queries.Graph.edgeListPath)
      val lg = graft.algo.ShortestPaths.localGraph(pg)
      val s = lg.idOf(queries.Graph.Src); val d = lg.idOf(queries.Graph.Dst)
      def med(f: => Unit): Double = {
        f
        val xs = Seq.fill(3) {
          val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
        }.sorted
        xs(1)
      }
      val dj = med(graft.algo.LocalKernels.dijkstra(lg, s, d))
      val as = med(graft.algo.LocalKernels.astar(lg, s, d))
      val yn = med(graft.algo.LocalKernels.yen(lg, s, d, 3))
      f"""{"dijkstra_ms":$dj%.1f,"astar_ms":$as%.1f,"yen3_ms":$yn%.1f,"nodes":${lg.n}}"""
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] graph-kernel timing failed: $e")
        "{}"
    }
    val fullLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","tainted":$tainted,"load_risk":"$risk","queries":$qs,"errors":$errors,"graph_kernels":$kernels,"loadavg_start":$loadStart,"loadavg_end":${loadavg()},"sf":"$sfDir"}"""
    println(fullLine)
    // The collecting harness keeps only a truncated stdout tail (observed:
    // BENCH_r0{5..8}.json all carry parsed:null with the line cut mid-key),
    // so ALSO persist the full JSON to a file (default
    // notes/bench_last.json under the working directory) — committed at
    // round end, it preserves every per-query timing for later comparison
    // even when the stdout capture clips.
    try {
      val out = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT", "notes/bench_last.json")).toAbsolutePath
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (fullLine + "\n").getBytes("UTF-8"))
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not persist bench JSON: $e")
    }
    // The harness that collects this output keeps only a ~2 KB stdout
    // tail; with ~80 queries the full line above outgrows that window and
    // its head (metric/total) gets truncated away. Repeat the headline
    // numbers in a compact LAST line that always fits: total, per-family
    // subtotals, the slowest 10 queries, kernels, load.
    val slow = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + f"\":$v%.2f" }.mkString("{", ",", "}")
    def fam(p: String): Double =
      results.collect { case (k, v) if k.startsWith(p) => v }.sum
    val fams = f""""q":${fam("q")}%.1f,"llm":${fam("llm")}%.1f,"g":${fam("g")}%.1f,"stream":${fam("stream")}%.1f"""
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","tainted":$tainted,"load_risk":"$risk","n_queries":${results.size},"n_errors":${raw.count(_._3.isDefined)},"errors":$errors,"family_sec":{$fams},"slowest":$slow,"graph_kernels":$kernels,"loadavg_start":$loadStart,"loadavg_end":${loadavg()},"sf":"$sfDir"}""")
    spark.stop()
  }
}
