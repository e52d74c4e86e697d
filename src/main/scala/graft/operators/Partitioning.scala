package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared partitioning idioms for the operator library (and the
  * query layer's per-row-heavy reference ops). */
private[graft] object Partitioning {
  /** Spread a narrow input across the session's shuffle-partition
    * count before a wide per-row stage (similarity scoring, hashing):
    * the single-file test inputs arrive as one row group, which would
    * otherwise run the expensive stage single-task. The call is an
    * unconditional round-robin `repartition` — a full exchange of its
    * input at every scale, even when the scan already yields many
    * splits. ROADMAP open item 3 replaces it with a source-level
    * decision and removes these call sites. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
}
