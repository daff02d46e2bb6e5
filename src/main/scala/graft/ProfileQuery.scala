package graft

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
    // scheduling footprint is deterministic where its wall time is not)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks.toLong); ()
        }
      })
    spark.range(1L << 20).selectExpr("id % 7 AS k").groupBy("k").count()
      .count() // JIT/scheduler warmup, as in Bench
    (1 to reps).foreach { i =>
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val (j0, s0, t0c) = (jobs.get, stages.get, tasks.get)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        graft.core.Checkpoints.release(df)
        println(f"[profile] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
          f"jobs=${jobs.get - j0} stages=${stages.get - s0} " +
          f"tasks=${tasks.get - t0c}")
      }
    }
    spark.stop()
  }
}
