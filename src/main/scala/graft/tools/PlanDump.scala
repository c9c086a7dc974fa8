package graft.tools

import org.apache.spark.sql.execution.ExplainMode

import graft.{Queries, Tuning}

/** Formatted-plan dumper that sees THROUGH eager materializations:
  * enables [[graft.operators.PlanProbe]], runs each named catalog
  * query once (noop sink, so AQE finalizes), then prints the
  * formatted plan of the query's own DataFrame plus every plan the
  * probe recorded under the query's name or a `helper:` key — the
  * real join/exchange shapes that `df.explain` on a
  * localCheckpoint-returning query cannot show (it sees only the
  * post-checkpoint `Scan ExistingRDD`). The rounds of iterative
  * operators (`helper:round/<n>`, one per recorded round of a
  * [[graft.operators.Rounds.Scope]]) print last, in round order.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <query> [query...]
  * Session: [[graft.Tuning.localSession]]. Output goes to stdout between
  * `===== PLAN <key> =====` markers; redirect and split per query for
  * the plans/ evidence files.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <query> [query...]")
    val sfDir = args(0)
    val queries = Queries.resolve(args.drop(1).toSeq)
    val spark = Tuning.localSession()
    graft.operators.PlanProbe.enabled = true
    for ((name, plan) <- queries) {
      graft.operators.PlanProbe.clear()
      spark.catalog.clearCache()
      val df = plan(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      println(s"===== PLAN $name (query result) =====")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      // helper plans by name, then the iterative rounds in round order
      graft.operators.PlanProbe.executions.toSeq
        .sortBy { case (key, _) => (graft.operators.PlanProbe.roundOf(key), key) }
        .foreach { case (key, qe) =>
          println(s"===== PLAN $name [$key] =====")
          println(qe.explainString(ExplainMode.fromString("formatted")))
        }
    }
    spark.stop()
  }
}
