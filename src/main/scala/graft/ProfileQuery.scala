package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler._

/** Dev utility: time registry queries (same session config + noop
  * forcing as Bench) without paying for the other ~75. Repeats N times,
  * interleaving the named queries per rep, so cache-warm vs cold cost and
  * ambient-load noise are both visible.
  *
  * Usage: runMain graft.ProfileQuery <name[,name...]> [sfDir] [reps]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // dev-only A/B hook: SPARK_GRAFT_PROFILE_CONF="k=v;k=v" layers extra
    // session confs so candidate settings can be measured before any
    // production code adopts them. Static confs reach the new context as
    // spark.* system properties; runtime SQL confs are set after, so they
    // override the session defaults as well.
    val extra = sys.env.get("SPARK_GRAFT_PROFILE_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        (k.trim, v.trim)
      }
    extra.foreach { case (k, v) => sys.props(k) = v }
    val spark = core.Sessions.local(cpus, "graft-profile")
    extra.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) spark.conf.set(k, v)
    }
    // job/stage/task counters: ambient-load-proof signals (a query's
    // scheduling footprint is deterministic where its wall time is not).
    // Each run's jobs carry its tag as a local property (inherited by the
    // threads Spark SQL spawns); a stage counts for the tag of the first
    // job that listed it, whenever its completion event arrives.
    val sc = spark.sparkContext
    val TagKey = "graft.profile.tag"
    val jobTag = new ConcurrentHashMap[Int, String]
    val stageTag = new ConcurrentHashMap[Int, String]
    val counts = new ConcurrentHashMap[String, Array[Long]] // jobs, stages, tasks
    val ended = new ConcurrentHashMap[String, CountDownLatch]
    def of(tag: String): Array[Long] = counts.computeIfAbsent(tag, _ => new Array[Long](3))
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach { tag =>
          jobTag.put(j.jobId, tag)
          of(tag)(0) += 1
          j.stageIds.foreach(stageTag.putIfAbsent(_, tag))
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        Option(stageTag.get(s.stageInfo.stageId)).foreach { tag =>
          of(tag)(1) += 1
          of(tag)(2) += s.stageInfo.numTasks
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobTag.get(j.jobId)).flatMap(t => Option(ended.get(t)))
          .foreach(_.countDown())
    })
    /** Runs a marker job and waits for its end event: the bus delivers
      * events in order, so by then every earlier run's are counted.
      */
    def drain(tag: String): Unit = {
      val latch = new CountDownLatch(1)
      ended.put(tag, latch)
      sc.setLocalProperty(TagKey, tag)
      sc.parallelize(Seq(0), 1).count()
      latch.await(60, TimeUnit.SECONDS)
    }
    spark.range(1L << 20).selectExpr("id % 7 AS k").groupBy("k").count()
      .count() // JIT/scheduler warmup, as in Bench
    (1 to reps).foreach { i =>
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val tag = s"$name#$i"
        sc.setLocalProperty(TagKey, tag)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        graft.core.Checkpoints.release(df)
        val secs = (System.nanoTime() - t0) / 1e9
        drain(s"drain $tag")
        val Array(jobs, stages, tasks) = of(tag)
        println(f"[profile] $name rep$i: $secs%.2f s " +
          f"jobs=$jobs stages=$stages tasks=$tasks")
      }
    }
    spark.stop()
  }
}
