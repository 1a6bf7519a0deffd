package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LeafNode, LogicalPlan, Project, SerializeFromObject, SubqueryAlias}

/** Explicit-count spread for narrow inputs feeding compute-dense
  * row-local pipelines.
  *
  * A small corpus parquet is ONE scan split, and a single-file split
  * cannot be subdivided (one row group), so every row-local stage
  * derived from it runs as a single task however many cores the
  * session has. AQE cannot help: its coalescing is byte-based and
  * these rows are byte-small but compute-dense. The fix is one
  * explicit key-hash repartition to the session's core count; the
  * count must be explicit or AQE folds it straight back.
  *
  * Scale posture: the spread fires ONLY when the input has fewer
  * partitions than `defaultParallelism` — a production-scale scan
  * already has more splits than cores, so this is a no-op there and
  * never inserts a corpus-wide shuffle into a big pipeline.
  *
  * Use it SELECTIVELY: only ahead of per-row work that `Profile stages` shows
  * as a long serial stage (the winnow fingerprint chain, the span-gram
  * explode, the deletion-neighborhood verify). Pipelines whose cost is
  * stage count / driver latency get slower, not faster — the added
  * exchange plus 32-task scheduling outweighs sub-100 ms serial stages
  * (measured on the PQ/LSH recall gates, where this was tried and
  * reverted).
  *
  * SCAN-SHAPED INPUTS ONLY, now enforced (r19, was scaladoc-only):
  * checking the partition count plans the frame, and on a
  * shuffle-bearing frame under AQE that can silently EXECUTE upstream
  * stages as a side effect of the probe — a job launched from inside
  * what looks like plan construction. [[ifNarrow]] refuses any input
  * whose logical plan is not a chain of row-local operators
  * (project / filter / generate / alias) over a leaf, so the next
  * call site added ahead of a join or aggregate fails loudly instead
  * of hiding a job in a hot loop. SpreadSpec locks the boundary.
  */
private[operators] object Spread {

  private def scanShaped(plan: LogicalPlan): Boolean = plan match {
    case p: Project => scanShaped(p.child)
    case f: Filter => scanShaped(f.child)
    case g: Generate => scanShaped(g.child)
    case a: SubqueryAlias => scanShaped(a.child)
    case s: SerializeFromObject => scanShaped(s.child) // createDataFrame(rdd)
    case _: LeafNode => true
    case _ => false
  }

  def ifNarrow(df: DataFrame, key: Column): DataFrame = {
    require(scanShaped(df.queryExecution.analyzed),
      "Spread.ifNarrow needs a scan-shaped input (row-local operators " +
        "over a leaf): probing the partition count of a shuffle-bearing " +
        "frame can execute its upstream stages under AQE. Got plan:\n" +
        df.queryExecution.analyzed.treeString)
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p, key) else df
  }

  /** [[ifNarrow]] for operators whose input is SOMETIMES a derived
    * frame (an anti-joined batch, a union of sides): spreads when the
    * input is scan-shaped, returns it untouched otherwise. The shape
    * check is pure plan analysis — the partition-count probe only ever
    * runs on scan-shaped plans, so the enforced no-job guarantee of
    * [[ifNarrow]] holds here too. Use at shared operator entries
    * (e.g. the minhash signature build, reached both from raw-table
    * gates and from incremental-ingest frames).
    */
  def ifNarrowOrKeep(df: DataFrame, key: Column): DataFrame =
    if (scanShaped(df.queryExecution.analyzed)) ifNarrow(df, key) else df
}
