package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The engine's one lifetime API, end to end: every cache and checkpoint
  * a query makes is freed by the harness's `Checkpoints.release(result)`,
  * a graph generation is freed by `unpersistAll()`, and no hand-written
  * release can grow back outside `core/`.
  *
  * The query sweep runs every Registry query that reads only the sf dir
  * (159 of 213). The other 54 read the reference edge lists and wait on
  * a reference-free graph fixture: the 53 graph queries
  * (`queries.Graph.queries`) and `stream_graph_append`. The streamed
  * generation row covers the maintainer that `stream_graph_append`
  * drives, on StreamingSpec's two-batch fixture.
  */
class LifetimeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = core.Sessions.local(4, "graft-lifetime")

  val sf = "/root/testdata/sf0.001"

  /** Plans in the session's CacheManager. The count is private[sql] in
    * Scala but public in the bytecode, so it is read reflectively.
    */
  private def cachedPlans: Int = {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cache.getClass.getMethod("numCachedEntries").invoke(cache)
      .asInstanceOf[Int]
  }

  /** Each plan in the session's CacheManager, named by its root and its
    * leaves (the entries are private too, so also read reflectively).
    */
  private def cachedPlanNames: Seq[String] = {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val entries = cache.getClass.getDeclaredMethod("cachedData")
    entries.setAccessible(true)
    entries.invoke(cache)
      .asInstanceOf[Seq[org.apache.spark.sql.execution.CachedData]]
      .map { d =>
        val leaves = d.plan.collectLeaves().map(_.simpleString(3)).distinct
        s"${d.plan.nodeName} over ${leaves.mkString("; ")}".take(300)
      }
  }

  /** The RDDs `body` left persisted and the cached plans it added. */
  private def leftBehind(body: => Unit): (Seq[Int], Int) = {
    val plans = cachedPlans
    val rdds = Leaks.of(spark)(body)
    (rdds, cachedPlans - plans)
  }

  private val readsReference: Set[String] =
    queries.Graph.queries.map(_.name).toSet + "stream_graph_append"

  test("every sf-dir query frees what it materialized on release(result)") {
    // suites sharing this JVM share the session: name what they left
    val inherited = cachedPlanNames
    info(s"${inherited.size} plans cached before this suite" +
      inherited.mkString(if (inherited.isEmpty) "" else ":\n", "\n", ""))
    val sweep = Registry.all.filterNot(q => readsReference(q.name))
    assert(sweep.size == 159)
    val leaks = sweep.flatMap { q =>
      val (rdds, plans) = leftBehind {
        val df = q.run(spark, sf)
        df.write.format("noop").mode("overwrite").save()
        core.Checkpoints.release(df)
      }
      if (rdds.isEmpty && plans <= 0) None
      else Some(s"${q.name}: rdds $rdds, cached plans +$plans")
    }
    assert(leaks.isEmpty, leaks.mkString("\n", "\n", ""))
  }

  test("a streamed graph generation is freed by unpersistAll") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lifetime-gstream")
    val header = "XCoord,YCoord,START_NODE,END_NODE,EDGE,LENGTH\n"
    java.nio.file.Files.write(dir.resolve("0001.csv"),
      (header + "1.0,1.0,1,2,e1,10.0\n2.0,2.0,2,1,e2,10.0\n" +
        "1.0,1.0,1,9,e3,5.0\n").getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("0002.csv"),
      (header + "9.0,9.0,9,1,e4,7.0\n").getBytes("UTF-8"))
    val (rdds, plans) = leftBehind {
      val pg = graft.streaming.GraphStreams.maintainFromFiles(spark,
        dir.toString)
      assert(pg.edges.count() == 4L)
      pg.unpersistAll()
    }
    assert(rdds.isEmpty, s"streamed generation left RDDs $rdds")
    assert(plans <= 0, s"streamed generation left $plans cached plans")
  }

  /** Where a release may still be written by hand outside `core/`:
    * (file under src/main/scala/graft, line fragment, reason).
    */
  private val allowed = Seq(
    ("Bench.scala", "Checkpoints.release(df)",
      "the harness frees each query result after its sink"),
    ("Verify.scala", "Checkpoints.release(df)",
      "the harness frees each query result after its sink"),
    ("ProfileQuery.scala", "Checkpoints.release(df)",
      "the harness frees each query result after its sink"),
    ("queries/Graph.scala", "e.getValue.unpersistAll()",
      "Graph.release drops the session's memoized graphs"),
    ("SliceSweep.scala", "unpersistAll()",
      "the sweep main frees each slice's graph"),
    ("AppendSweep.scala", "unpersistAll()",
      "the sweep main frees the generation each append replaces"),
    ("streaming/GraphStreams.scala", "pg.unpersistAll()",
      "the maintainer frees the generation each batch replaces"),
    ("graph/PropertyGraph.scala", "unpersist(",
      "unpersistAll is the one place a graph generation is freed"))

  test("no hand-written release outside core/ beyond the allowlist") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the project root: $root")
    val release = """\.unpersist(All)?\(|Checkpoints\.release\(|\.owns\(""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val hits = for {
      f <- files(root)
      rel = root.toPath.relativize(f.toPath).toString
      if !rel.startsWith("core/")
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath).asScala
        .zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") ||
        code.startsWith("/*"))
      if release.findFirstIn(code).isDefined
    } yield (rel, n + 1, code)
    val stray = hits.filterNot { case (rel, _, code) =>
      allowed.exists { case (file, frag, _) =>
        rel == file && code.contains(frag) }
    }
    assert(stray.isEmpty, stray.map { case (rel, n, code) =>
      s"$rel:$n: $code" }.mkString("hand-written releases:\n", "\n", ""))
    val stale = allowed.filterNot { case (file, frag, _) =>
      hits.exists { case (rel, _, code) => rel == file && code.contains(frag) }
    }
    assert(stale.isEmpty, s"allowlist entries with no site: $stale")
  }
}
