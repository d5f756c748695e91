package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-partition lineage rows RECOMPUTED from a results DataFrame: the
  * audit that the lineage `ExtractJob.runSnapshot` writes from its
  * accumulator is checked against. It costs a full (column-pruned)
  * second scan of the output, which the production path never pays.
  */
object LineageAudit {
  def lineage(results: DataFrame, runId: String, snapshotId: Long): DataFrame =
    results
      .groupBy(col("partition_id"))
      .agg(
        sort_array(collect_set(col("input_file"))).as("input_files"),
        count(lit(1)).as("turn_count"),
        sum(when(col("status") === "ok", 1L).otherwise(0L)).as("ok_count"),
        sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("fail_count"))
      .withColumn("run_id", lit(runId))
      .withColumn("snapshot_id", lit(snapshotId))
      .select("run_id", "snapshot_id", "partition_id", "input_files",
        "turn_count", "ok_count", "fail_count")
}
