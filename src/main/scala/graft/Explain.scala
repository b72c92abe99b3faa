package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-inspection main: print a catalog query's physical plan without
  * running the query itself — `runMain graft.Explain <queryName> [sfDir]
  * [mode]`. The iteration loop the scale work runs on: after an operator
  * change, read the plan (PushedFilters, exchanges, WholeStageCodegen
  * spans, broadcast vs sort-merge) BEFORE trusting a timing delta.
  *
  * Building some queries' frames already runs Spark jobs, so Explain is
  * not free of execution and its cost is not that of planning alone:
  * `Dedup.prefixFilterJaccardJoin` localCheckpoints its token table and
  * collects its guard, `Similarity.semDedup` collects its guard,
  * `ivfTrain`/`pqTrain` collect centroids and codebooks, the iterative
  * graph and BPE operators run their rounds, and the terminal streaming
  * queries run their streams. The printed plan is the plan after those
  * jobs have run (it scans their checkpointed or collected results). */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Explain <queryName> [sfDir] [mode] — prints the plan without running the " +
        "query; building some frames runs Spark jobs first (checkpoints, guards, " +
        "training, iterative rounds, streams), and the plan shown is the one after them")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mode = if (args.length > 2) args(2) else "formatted"
    val spark = Graft.localSession("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    // scalastyle:off println
    if (mode == "executed") {
      // Post-AQE FINAL plan: the static dump above an AdaptiveSparkPlan
      // shows the initial plan only — runtime effects (ReusedExchange,
      // AQEShuffleRead, broadcast conversions) exist only after execution.
      // Run the query's own plan instance to completion (every partition,
      // all columns — the same executedPlan object then self-reports
      // isFinalPlan=true), then print it formatted.
      df.queryExecution.toRdd.count()
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    } else {
      println(df.queryExecution.explainString(ExplainMode.fromString(mode)))
    }
    // scalastyle:on println
    spark.stop()
  }
}
