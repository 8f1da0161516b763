"""Streaming MERGE sink: maintain a dimension table from a change feed.

The batch MERGE relation (operators/warehouse.merge_upsert) composed with
``foreachBatch`` gives the streaming half of the warehouse lifecycle: each
micro-batch of changes is folded into the persisted dimension — matched
keys update, new keys insert — so the table always reflects the latest
observed state, exactly the CDC-apply loop a lakehouse MERGE INTO runs.

Plain-parquet posture: the dimension is rewritten atomically per batch
(write to a temp sibling, then swap). That is the right shape while the
dimension is dimension-sized (rewrite cost ∝ table, not feed); for a
fact-sized target you would partition the target and swap only touched
partitions (sources/sinks.upsert_partitions, demonstrated by
run_continuous_aggregate) or use a transactional table format. State in
the stream itself stays empty — the fold lives in the TABLE, not in
Spark state, so the query restarts from its checkpoint with no state
recovery at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatacw1_spark.operators.warehouse import merge_upsert
from bigdatacw1_spark.streaming.statefs import delete_dir, dir_exists, rename_dir


def apply_changes_to_dimension(
    target_df: DataFrame,
    changes: DataFrame,
    key: str,
    ts_col: str,
    set_cols: list[str],
) -> DataFrame:
    """One CDC-apply step: collapse ``changes`` to the latest row per key
    (deterministic (ts, key) argmax), then MERGE into ``target_df``.
    Returns the new dimension (without the merge_action audit column)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.desc(ts_col), F.desc(key))
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return merge_upsert(target_df, latest, key=key, set_cols=set_cols).drop(
        "merge_action"
    )


def run_dimension_merge_stream(
    spark: SparkSession,
    changes_stream: DataFrame,
    table_dir: str,
    key: str,
    ts_col: str,
    set_cols: list[str],
    checkpoint_dir: str | None = None,
):
    """Fold a streaming change feed into the parquet dimension at
    ``table_dir`` via per-batch MERGE. The target starts empty if the
    directory does not exist. Returns the StreamingQuery (availableNow:
    drain the source, then stop). ``table_dir`` may be any URI the
    cluster's Hadoop FileSystem resolves; the swap goes through
    streaming/statefs."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cols = [key, *set_cols]
        if dir_exists(spark, table_dir):
            target = spark.read.parquet(table_dir).select(*cols)
        else:
            target = spark.createDataFrame([], batch_df.select(*cols).schema)
        merged = apply_changes_to_dimension(
            target, batch_df, key, ts_col, set_cols
        )
        tmp = table_dir.rstrip("/") + ".__merge_tmp__"
        merged.write.mode("overwrite").parquet(tmp)
        delete_dir(spark, table_dir)
        rename_dir(spark, tmp, table_dir)

    return (
        changes_stream.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir or table_dir + "_chk")
        .start()
    )
