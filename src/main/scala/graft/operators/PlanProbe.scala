package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Registry of the REAL physical plans behind eager materializations.
  *
  * The cache-release contract makes several operators return an eager
  * `localCheckpoint` — a bare LogicalRDD scan — which removes their
  * actual join/window shapes from anything a caller (or PlanGuardSpec)
  * can inspect after the fact. Every such site records the plan it is
  * about to execute here, keyed by catalog query name (via
  * `Queries.materializeFinal`) or `helper:<name>` for operator-level
  * internals, so the plan guard keeps Cartesian/BNLJ/global-window
  * coverage over the plans that really run (review finding r15).
  *
  * Recording is OPT-IN (`enabled`, default false): retaining
  * QueryExecution objects pins plan trees — and the upstream RDD
  * object graphs they reference — in driver memory for the JVM
  * lifetime, a pure test/audit cost production and bench runs must
  * not pay (ADVICE r15). PlanGuardSpec enables it (and clears the
  * map) around exactly the trigger set it guards, so its assertions
  * never depend on what happened to run earlier in the JVM. */
private[graft] object PlanProbe {
  @volatile var enabled: Boolean = false

  val executions = new scala.collection.concurrent.TrieMap[
    String, org.apache.spark.sql.execution.QueryExecution]

  /** The captured physical plans (the guard's view). */
  def plans: scala.collection.Map[String, SparkPlan] =
    executions.map { case (k, qe) => k -> qe.executedPlan }

  private val rounds = new java.util.concurrent.atomic.AtomicInteger()

  def clear(): Unit = { executions.clear(); rounds.set(0) }

  /** Record `df`'s query execution under `key` (when enabled), hand
    * `df` back. */
  def record(key: String, df: DataFrame): DataFrame = {
    if (enabled) executions(key) = df.queryExecution
    df
  }

  /** Record one round of an iterative operator ([[Rounds]]) as
    * `helper:round/<n>`, n counting the rounds persisted since the
    * last [[clear]], from 1. */
  def recordRound(df: DataFrame): DataFrame =
    if (enabled) record(s"helper:round/${rounds.incrementAndGet()}", df) else df

  /** The recorded round number of `key`, if it is a round's. */
  def roundOf(key: String): Option[Int] =
    Some(key.stripPrefix("helper:round/")).filter(_ != key).flatMap(_.toIntOption)
}
