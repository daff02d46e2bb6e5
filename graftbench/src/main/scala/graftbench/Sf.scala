package graftbench

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.core.{Checkpoints, Tables}
import graft.functions.GraftFunctions

/** The sf0.1 workloads: a fixed pool of registry queries run in
  * seed-shuffled rounds, each query forced with a `noop` write and
  * released with `Checkpoints.release`.
  */
object Sf {
  val TableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A registry query whose result was written for the DuckDB check. */
  final case class OracleOut(name: String, path: String, sql: String)

  /** Set-up as a new user session meets it: a session, the graft
    * functions registered, and every table's parquet scan resolved.
    */
  private def setupOnce(spark: SparkSession, h: Harness, sf: String): Double = {
    val t0 = h.now()
    val s = spark.newSession()
    GraftFunctions.register(s)
    TableNames.foreach(t => Tables(s, sf)(t).queryExecution.analyzed)
    h.ms(t0)
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count and an order-insensitive fingerprint (sum of per-row
    * hashes) computed in the same pass as the sink write.
    */
  private def fingerprint(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(df.col(s"`${f.name}`")) else df.col(s"`${f.name}`")
    }
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols: _*).cast(DecimalType(20, 0))), lit(BigDecimal(0))).as("fp"))
  }

  /** One registry query as an operation: build, sink (to parquet at
    * `out` when given, else `noop`), release. Traced, it also resolves
    * the physical plan inside the build step and records build / sink /
    * release times. Checked against the first fingerprint seen for it.
    */
  def query(spark: SparkSession, h: Harness, sf: String, name: String,
      timed: Option[Boolean], out: Option[String],
      seen: mutable.Map[String, (Long, BigDecimal)]): Unit = {
    val traced = timed.contains(true)
    val run = SparkEntry.queries(name)
    h.op(name, timed) {
      val t0 = h.now()
      val df = run(spark, sf)
      if (traced) df.queryExecution.executedPlan
      val t1 = h.now()
      val obs = Observation()
      val fp = fingerprint(df)
      val w = df.observe(obs, fp.head, fp.tail: _*).write.mode("overwrite")
      out match {
        case Some(p) => w.parquet(p)
        case None => w.format("noop").save()
      }
      val t2 = h.now()
      Checkpoints.release(df)
      if (traced) {
        h.layer("queries.build_ms", (t1 - t0) / 1e6)
        h.layer("queries.sink_ms", (t2 - t1) / 1e6)
        h.layer("core.release_ms", h.ms(t2))
      }
      obs
    } { obs =>
      val r = Await.result(obs.future, 60.seconds)
      val got = (r.getLong(0), BigDecimal(r.getDecimal(1)))
      seen.get(name) match {
        case None => seen(name) = got; None
        case Some(want) if want == got => None
        case Some(want) => Some(s"rows/fingerprint $got, earlier round $want")
      }
    }
  }

  /** Time to resolve one table reference, for every table. */
  def tablePlans(spark: SparkSession, h: Harness, sf: String): Unit =
    TableNames.foreach { t =>
      h.timeLayer("core.table_plan_ms")(Tables(spark, sf)(t).queryExecution.analyzed)
    }

  /** Each native graft_* function evaluated over the sf0.1 documents or
    * embeddings, forced with a `noop` write.
    */
  def functions(spark: SparkSession, h: Harness, sf: String): Unit = {
    GraftFunctions.register(spark)
    val tables = Tables(spark, sf)
    val toks = split(col("text"), "\\s+")
    def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    h.timeLayer("functions.minhash_ms")(sink(tables.documents.select(
      call_function("graft_minhash_text", toks, lit(5), lit(64)))))
    h.timeLayer("functions.simhash_ms")(sink(tables.documents.select(
      call_function("graft_simhash", toks))))
    h.timeLayer("functions.cosine_ms")(sink(tables.embeddings.select(
      call_function("graft_cosine", col("embedding"), reverse(col("embedding"))))))
  }

  /** `sf01`: returns set-up seconds and the results written for the
    * DuckDB check. The first warm-up round writes
    * the oracled queries' results as parquet; every later round must match
    * its row counts and fingerprints.
    */
  def run(spark: SparkSession, h: Harness, a: Args): (Double, Seq[OracleOut]) = {
    val pool = a.pool
    val unknown = pool.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown registry queries: ${unknown.mkString(",")}")
    val oracles = SparkEntry.oracleSql
    val setupS = Stats.median((1 to 3).map(_ => setupOnce(spark, h, a.sf))) / 1000
    val rnd = new Random(a.seed)
    val seen = mutable.Map.empty[String, (Long, BigDecimal)]
    val outDir = a.work.resolve("results")
    var first = true
    h.loop(warm = 2, a.seconds, a.trace) { timed =>
      if (timed.contains(true)) {
        tablePlans(spark, h, a.sf)
        functions(spark, h, a.sf)
      }
      for (name <- rnd.shuffle(pool)) {
        val out = if (first && oracles.contains(name))
          Some(outDir.resolve(name).toString) else None
        query(spark, h, a.sf, name, timed, out, seen)
      }
      first = false
    }
    (setupS, pool.filter(oracles.contains).map(n =>
      OracleOut(n, outDir.resolve(n).toString, oracles(n))))
  }

  /** Query, table and function layers for a traced run whose workload
    * runs no registry queries: two queries of the pool, traced.
    */
  def probe(spark: SparkSession, h: Harness, a: Args): Unit = {
    tablePlans(spark, h, a.sf)
    functions(spark, h, a.sf)
    val seen = mutable.Map.empty[String, (Long, BigDecimal)]
    new Random(a.seed).shuffle(a.pool).take(2)
      .foreach(query(spark, h, a.sf, _, Some(true), None, seen))
  }
}
