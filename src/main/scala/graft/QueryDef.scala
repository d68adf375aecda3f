package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query exposed to the driver harness.
  *
  * @param name   stable key, used in `SparkEntry.queries` / `oracleSql`
  * @param fn     (session, sfDir) => result; column names MUST match the oracle
  * @param oracle equivalent ANSI SQL runnable by DuckDB over the same parquet
  *               tables (None => driver records a weaker rows-only check)
  * @param bench  include in the headline benchmark set (run at sf0.1)
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

object QueryDef {
  /** Deterministic presentation sort for a small final result: one
    * round-robin exchange to a single partition + local sort. Globally
    * sorted output like `orderBy`, but skips the range-partitioner's
    * sampling job — the right physical plan when the result is
    * client-sized (a range sort is for results too big for one task;
    * these are the final few-thousand-row projections a client cursor
    * consumes). Upstream stages keep full parallelism — only the final
    * sort task is single-threaded. */
  implicit class PresentOps(private val df: DataFrame) extends AnyVal {
    def presentSorted(cols: String*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols.head, cols.tail: _*)

    /** Presentation sort fused into the tail stage via `coalesce(1)` — for
      * BOUNDED-GROUP aggregate tails only: the final merge of partial
      * aggregates is O(groups) work, so folding merge + sort into one
      * single-task stage removes a whole exchange round-trip without
      * creating a straggler (the task's input is the map-side partials,
      * k groups each, never the raw data). Do NOT use under a window or a
      * high-cardinality aggregate — `coalesce` would serialize that
      * computation; those keep `presentSorted` (own exchange) or a range
      * `orderBy` (data-proportional results). */
    def presentSortedK(cols: String*): DataFrame =
      df.coalesce(1).sortWithinPartitions(cols.head, cols.tail: _*)
    def presentSortedKBy(cols: org.apache.spark.sql.Column*): DataFrame =
      df.coalesce(1).sortWithinPartitions(cols: _*)
  }
}
