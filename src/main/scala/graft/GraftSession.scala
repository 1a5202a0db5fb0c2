package graft

import org.apache.spark.sql.SparkSession

/** Single-sourced SparkSession factory. Every graft entrypoint (Verify,
  * Bench, Explain, the test suites) builds through here so the
  * determinism-critical invariants — UTC session timezone and the
  * nanosAsLong parquet read mode, both load-bearing for the cross-engine
  * DuckDB hash compare — live in exactly one place and cannot silently
  * drift between hand-rolled copies.
  */
object GraftSession {
  def build(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the graft SQL functions + the descendant→interval optimizer rule
      // ride the idiomatic cluster hook, not per-session registration
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // honor subset-key co-partitioning: when one join side is already
      // hash-clustered on a SUBSET of the join keys (the engine's
      // explicit repartition(col) layout decisions — e.g. the LM
      // scorer's one w1 clustering serving four n-gram joins), let the
      // planner keep it and move only the other side, instead of
      // re-exchanging the big side on every join's full key set. The
      // skew trade the default guards against is managed explicitly
      // where it matters (salting, AQE skew join). BLAST RADIUS: the
      // flip is engine-wide — any future join whose one side arrives
      // pre-partitioned on a skewed SUBSET key silently keeps that
      // layout. The guardrails are (a) the engine only pre-partitions
      // on keys it chose deliberately (prEdgeCache/clusterCorpus-style
      // explicit repartition calls — audit those when adding one) and
      // (b) PlanSpec's "subset-key canary" pins that a skewed subset
      // layout still splits under AQE skew handling.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
