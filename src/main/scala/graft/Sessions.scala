package graft

import org.apache.spark.sql.SparkSession

/** Session-level tuning for the engine's workload shape: two settings,
  * both planner choices this workload always wants.
  *
  * Every generator in this library explodes a COMPUTED array (n-grams,
  * MinHash signatures, winnowing fingerprints, bigram structs) — never a
  * stored column. For that shape Spark's `InferFiltersFromGenerate` is
  * actively harmful: the inferred `size(arr) > 0 AND isnotnull(arr)` filter
  * is substituted through the producing projections by predicate pushdown
  * and lands in the file scan's data filters, where the ENTIRE array
  * expression (md5 per shingle, k hash lanes, HOF folds) is re-evaluated —
  * interpreted, and in the scan stage, i.e. BEFORE any fan-out repartition,
  * so on a single input split it also runs single-threaded. Measured at
  * sf0.1: the winnowing explode went 19 s → 0.45 s with the rule excluded
  * (the rule's only benefit — skipping rows whose stored array is empty —
  * never applies here).
  *
  * The engine's bucketed tables exist for bucket pruning, so the
  * auto-bucketed-scan heuristic is turned off (see [[tune]]).
  *
  * Both are runtime confs read per planning pass, so tuning works on an
  * already-built session; existing rule exclusions are preserved. Bounded
  * driver gathers need no session setting: [[Gather]] runs each as one job.
  */
object Sessions {

  private val ExcludedRules = Seq(
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  /** Apply engine-appropriate optimizer settings to `spark`; returns it. */
  def tune(spark: SparkSession): SparkSession = {
    val key = "spark.sql.optimizer.excludedRules"
    val existing = spark.conf.getOption(key).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    spark.conf.set(key, (existing ++ ExcludedRules).distinct.mkString(","))
    // this engine's bucketed tables (S9 corpus tier, the inverted index)
    // exist FOR bucket pruning on point/IN lookups; the auto-bucketed-scan
    // heuristic disables bucketed reads in filter-only plans (no join or
    // agg "uses" the bucketing) and silently turns a one-bucket term
    // lookup back into a full scan of the index. Pruning > the heuristic's
    // batch-coalescing win for this workload shape.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    spark
  }
}
