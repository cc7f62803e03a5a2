package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** Rebind a PERSISTED frame as a LogicalRDD leaf: the same rows flow
  * through the same InMemoryRelation scan (no extra serialization, no
  * data copy — the leaf's RDD IS the cached plan's execution RDD), but
  * every downstream action analyzes a one-node leaf instead of re-walking
  * the whole upstream logical tree.
  *
  * Why it exists: Catalyst re-runs analysis + optimization over a frame's
  * FULL accumulated logical plan on every action, even when execution is
  * a cache hit. A deep multi-stage pipeline (x26: ingest → langid →
  * LM fit/score → dedup → banding → verify → contamination → cap → pack,
  * with wide row-local expression trees at several stages) pays that
  * re-walk 6–8 times — measured ~1.3 s of non-job driver time at sf0.1,
  * independent of data size but linear in plan depth × action count.
  * Cutting the plan at the persisted fan-out joints makes downstream
  * planning O(remaining pipeline), the same contract a materialized view
  * gives a SQL engine.
  *
  * Trade-offs, stated: (1) the leaf carries no catalyst stats, so a
  * downstream join never auto-broadcasts the leaf side — use it for
  * corpus-sized relations (which must not broadcast anyway), not small
  * dimension frames; (2) the leaf pins the wrapped plan's RDD, so the
  * persist lifecycle (harness clearCache / explicit unpersist) governs
  * both; (3) like any RDD-backed frame, re-execution after the cache is
  * dropped recomputes through the ORIGINAL plan — semantics unchanged.
  */
object PlanLeaf {
  def leaf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** The stats-carrying rebind: same one-node-leaf contract as [[leaf]],
    * but built via `LogicalRDD.fromDataset` (the `Dataset.checkpoint`
    * path), which copies the wrapped plan's Catalyst STATISTICS and
    * CONSTRAINTS onto the leaf and keeps the executed plan's
    * outputPartitioning/outputOrdering. This removes both trade-offs the
    * bare leaf documents: (1) a small frame DERIVED from the leaf (bucket
    * stats, non-representative ids) gets a plausible size estimate again,
    * so downstream joins keep their STATIC broadcast instead of falling
    * back to runtime-AQE conversion; (2) a downstream shuffle over the
    * leaf's existing partitioning is recognized and elided. Call AFTER
    * the persist is materialized so the copied InMemoryRelation stats are
    * the ACCURATE cached size, not the pre-execution estimate.
    *
    * Measured at x26's joints and NOT wired (the same discipline as the
    * bare-leaf A/B): five interleaved solo pairs at sf0.1 drew median
    * 6.08 s with the rebind vs 5.63 s bare persists — broadcasts and
    * partitioning survive (spec-pinned below), but the saved per-action
    * re-analysis never materializes as wall clock at local[32], and the
    * eager per-joint `toRdd` planning adds its own driver time. The
    * utility remains for deep pipelines with MANY more actions per joint
    * than x26's ~6, where the analysis re-walk actually dominates. */
  def leafWithStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val rebound = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd, ds, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, rebound)
  }

  /** A local relation over rows already on the driver (`rows` match
    * `schema`): collecting it runs no Spark job. */
  def local(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
