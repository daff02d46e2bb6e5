package graft

import org.apache.spark.sql.DataFrame

/** Central list of all verifiable queries. Each sub-surface contributes
  * its own Seq[GQ]; SparkEntry exposes them in the driver's contract
  * shape (queries map + oracle SQL map).
  */
object Registry {

  /** Driver-computed (LocalRelation) results — the graph kernels' local
    * twins, path reconstructions, sketch readoffs — plan their one write
    * stage at `defaultParallelism` tasks (LocalTableScanExec spreads its
    * rows over min(rows, cores)), and AQE cannot coalesce them: there is
    * no shuffle. `Tables.compact` sizes them by their exact bytes
    * (LocalRelation stats are row-accurate). In the layout A/B in
    * CHANGES.md, removing this together with the graph frames' compact
    * took g16/g39/g44 from 4 jobs / 4 tasks to 5 / 36 at 32 cores; the
    * two sites were not measured apart. Distributed plans keep their
    * parallelism.
    */
  private def sizeLocalResult(df: DataFrame): DataFrame =
    df.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        graft.core.Tables.compact(df)
      case _ => df
    }

  def all: Seq[GQ] =
    (queries.Relational.queries ++ queries.Graph.queries ++
      queries.Llm.queries ++ queries.Streaming.queries ++
      queries.Geo.queries)
      .map(g => g.copy(run = (s, d) => sizeLocalResult(g.run(s, d))))
}
