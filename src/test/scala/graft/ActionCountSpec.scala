package graft

import graft.queries.Registry
import org.apache.spark.sql.graft.QueryTrace

/** Action-count regression pins for the flagship chains.
  *
  * PLANS.md and the x26/x31/x32 scaladoc carry a cost model stated in
  * DRIVER ACTIONS ("the residual is the chain's ~N actions"); every
  * losing fusion A/B on record moved that count. PlanSpec pins the plan
  * SHAPES; this spec pins the other measured dimension — the number of
  * Spark jobs one end-to-end run submits — so an accidental extra
  * `count()`/`collect()`/materialization (or a lost shared-scan that
  * splits one action into several) fails a test instead of silently
  * re-widening a gap 15 rounds of interleaved A/Bs closed.
  *
  * "One action" is counted as one SQL EXECUTION, not one Spark job: AQE
  * submits every materialized query stage (and every broadcast build) as
  * its own job, all sharing the parent action's `spark.sql.execution.id`
  * — raw job counts are stage counts (44 for x26's 8-action chain) and
  * move whenever AQE re-plans. Distinct execution ids are exactly the
  * driver actions the cost model talks about; the rare RDD-level action
  * submitted outside SQLExecution (no execution id) counts as one action
  * per job. Counting is scoped by job group (the spec's own runs only —
  * the shared-session convention means other suites' jobs must not leak
  * in). Budgets are the counts measured at the round-16 tree on sf0.001
  * — EXACT pins, not bounds: the fixture, Spark version, and plan shapes
  * are all pinned by the repo, so any drift is a change someone made and
  * must re-justify.
  */
class ActionCountSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  /** Driver ACTIONS `body` submitted, counted by [[QueryTrace]]: distinct
    * `spark.sql.execution.id`s plus one per execution-id-less job, scoped
    * to the body's own job group. */
  private def actionsDuring(tag: String)(body: => Unit): Int =
    QueryTrace.during(spark, tag)(body)._2.actions

  private def runQuery(name: String): Unit = {
    val q = Registry.all.find(_.name == name)
      .getOrElse(fail(s"no query named $name"))
    q.fn(spark, dir).collect()
    ()
  }

  /** Cold-state measurement: caches emptied first so every run pays (and
    * counts) the same materializations. Table RESOLUTION is primed first:
    * `spark.read.parquet` submits a one-time-per-(session, path)
    * schema-inference job (footer read, no execution id) on FIRST
    * resolution, memoized by Tables' dfCache — a fixture-loading artifact
    * of session history, not a chain action. Without the priming the
    * budget would be off by one depending on which suites ran earlier in
    * the shared session (the round-16 full-suite failure: 7 vs a solo 8). */
  private def measure(name: String): Int = {
    Tables.documents(spark, dir)
    spark.catalog.clearCache()
    actionsDuring(name)(runQuery(name))
  }

  test("x26 cold chain submits its documented action budget, exactly") {
    val acts = measure("x26_training_manifest")
    assert(acts == ActionCountSpec.X26Actions,
      s"x26 submitted $acts actions (pinned ${ActionCountSpec.X26Actions}) — " +
        "an action was added or a shared scan split; re-run the interleaved " +
        "A/B before moving this pin")
  }

  test("x31 cold chain submits its documented action budget, exactly") {
    val acts = measure("x31_delta_manifest")
    assert(acts == ActionCountSpec.X31Actions,
      s"x31 submitted $acts actions (pinned ${ActionCountSpec.X31Actions})")
  }

  test("x32 warm run submits its budget — strictly fewer jobs than cold x31") {
    // first touch builds + saves the frozen state (not what's pinned here)
    spark.catalog.clearCache()
    runQuery("x32_delta_manifest_warm")
    val warm = measure("x32_delta_manifest_warm")
    assert(warm == ActionCountSpec.X32WarmActions,
      s"warm x32 submitted $warm actions (pinned ${ActionCountSpec.X32WarmActions})")
    assert(warm < ActionCountSpec.X31Actions,
      s"warm x32 ($warm actions) no longer beats cold x31's action count " +
        s"(${ActionCountSpec.X31Actions}) — the persisted-state savings regressed")
  }
}

object ActionCountSpec {
  // Measured at the round-16 tree (Spark 4.1.2, sf0.001, local[4]),
  // with table resolution primed (see measure()): chain actions only.
  val X26Actions = 7
  val X31Actions = 5
  val X32WarmActions = 3
}
