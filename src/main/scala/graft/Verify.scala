package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = core.Sessions.local(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (GRAFT_VERIFY_ONLY=q1,q2): the driver never
    // sets it, so the contract path always dumps every query.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val attempted = SparkEntry.queries.filter(kv => selected(kv._1))
    val failed = attempted.count { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // free any blocks the query materialized for its own result
        // (PrefixSum's range-partition checkpoint, distributed-kernel
        // state) so one query's storage doesn't squat on the next ~70
        // queries' execution memory; no-op for plain plans
        graft.core.Checkpoints.release(df)
        false
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        true
      }
    }
    // counted, not only printed: the exit code stays 0 (driver contract)
    System.err.println(s"[verify] $failed/${attempted.size} queries failed")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
