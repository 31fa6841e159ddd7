package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}

/** THE full-evaluation action for every timing path (perfbench's
  * daily DAG, CurationWeekCostSpec): a noop-format write materializes
  * every output column. `count()` is NOT equivalent — Catalyst prunes all
  * computed columns under it, and a scan-shaped query degenerates to a
  * parquet row-count, timing the metadata instead of the operator.
  * One definition so a future change to the measurement action cannot
  * silently diverge between harnesses. */
object FullEval {
  def run(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).format("noop").save()
}
