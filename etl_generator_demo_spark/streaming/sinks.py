"""Streaming sinks — the foreachBatch production idiom.

Structured Streaming's built-in sinks cover append-only files/Kafka;
real pipelines usually need per-batch batch-API access (dedup against
the target, partitioned parquet upserts, multi-table writes). The
foreachBatch bridge gives each micro-batch to a normal batch function
together with its batch_id for exactly-once-by-idempotence handling.

`parquet_append_sink` is the reference implementation: idempotent
(a replayed batch_id is skipped via a commit-marker column check) and
partitioned. At 100 TB the same shape writes to a lakehouse table
with MERGE instead of parquet append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parquet_append_sink(target_dir: str, partition_by: list[str] | None = None):
    """Build a foreachBatch function appending each micro-batch to a
    parquet dir with its batch_id stamped; replayed batch_ids (restart
    after a sink-side success but source-side failure) are skipped."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        try:
            seen = (
                spark.read.parquet(target_dir)
                .filter(F.col("_batch_id") == batch_id)
                .limit(1)
                .count()
            )
            if seen:
                return  # idempotence: this batch already committed
        except AnalysisException as exc:
            # Only "target does not exist yet" may skip the probe; a
            # transient read failure must NOT silently disable the
            # replay check (that would double-append the batch).
            if "PATH_NOT_FOUND" not in str(exc) and "UNABLE_TO_INFER_SCHEMA" not in str(exc):
                raise
        out = batch_df.withColumn("_batch_id", F.lit(batch_id))
        writer = out.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target_dir)

    return write_batch


def run_foreach_batch(stream_df: DataFrame, target_dir: str, **sink_kw):
    """Attach the sink and drain the stream with availableNow (batch
    parity); returns the terminated query."""
    q = (
        stream_df.writeStream.foreachBatch(parquet_append_sink(target_dir, **sink_kw))
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{target_dir}_checkpoint")
        .start()
    )
    q.awaitTermination(180)
    return q


def merge_upsert_sink(target_dir: str, key_cols: list[str], order_col: str):
    """foreachBatch handler applying each micro-batch as a keyed MERGE
    (the streaming CDC-apply idiom): the batch first collapses to its
    latest row per key (max `order_col`, deterministic tiebreak on the
    key), then upserts via `sources.mutations.merge_parquet` — matched
    keys replaced, new keys inserted, staged-swap crash recovery
    underneath. Replaying a batch is idempotent: the same rows merge to
    the same state. On Delta/Iceberg this handler becomes `MERGE INTO`
    with a transactional commit; the contract is identical."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def write_batch(batch_df, batch_id: int) -> None:
        import os

        from etl_generator_demo_spark.sources.mutations import merge_parquet

        if not len(batch_df.take(1)):
            return
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(order_col).desc(), *[F.col(k) for k in key_cols]
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if not os.path.exists(target_dir):
            latest.write.parquet(target_dir)
        else:
            merge_parquet(batch_df.sparkSession, target_dir, latest, key_cols)

    return write_batch


def run_merge_stream(stream_df, target_dir: str, key_cols: list[str], order_col: str):
    """availableNow run of `stream_df` through the merge-upsert sink."""
    q = (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(merge_upsert_sink(target_dir, key_cols, order_col))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_agg_sink(target_dir: str, key_cols: list[str], sum_cols: list[str]):
    """Streaming materialized-aggregate maintenance — the streaming
    tier of `d_incremental_agg_maintenance`: each micro-batch reduces
    to group-level partials (|keys| rows, never the batch's raw rows)
    and MERGES into the parquet aggregate state as
    old ⊕ delta (counts and sums are commutative monoids, so arrival
    order and batch boundaries cannot change the fixpoint). Replayed
    batch_ids are skipped via a committed-ids sidecar that lives
    INSIDE the state directory and is written into the staging dir
    BEFORE the swap — state and marker change places in the same
    rename, so a crash anywhere leaves them consistent (a crash after
    the swap used to re-apply the batch on restart and double-count).
    The parquet reader ignores the sidecar (underscore-prefixed, like
    ``_SUCCESS``). The swap is ``sources.mutations.publish``;
    single-writer per target_dir.

    At 100 TB this is the cheap nightly alternative to recompute: the
    state is |keys| rows regardless of history, and each batch costs
    one map-combined aggregate + one |keys|-sized merge."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        import json
        import os

        from etl_generator_demo_spark.sources.mutations import publish, recover_staged

        spark = batch_df.sparkSession
        data_dir = os.path.join(target_dir, "state")
        recover_staged(data_dir)  # repair a crash inside a prior swap
        marker_name = "_committed_batches.json"
        done: set[int] = set()
        # current location (inside state) + legacy pre-r5 root location
        for mpath in (
            os.path.join(data_dir, marker_name),
            os.path.join(target_dir, marker_name),
        ):
            if os.path.exists(mpath):
                try:
                    with open(mpath) as fh:
                        done |= set(json.load(fh))
                except (OSError, ValueError):
                    pass
        if batch_id in done:
            return  # replay after a sink-side success: idempotent skip

        state = batch_df.groupBy(*key_cols).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            *[F.sum(c).cast("long").alias(f"sum_{c}") for c in sum_cols],
        )
        if os.path.exists(os.path.join(data_dir, "_SUCCESS")):
            state = (
                spark.read.parquet(data_dir)
                .unionByName(state)
                .groupBy(*key_cols)
                .agg(
                    F.sum("n_rows").cast("long").alias("n_rows"),
                    *[F.sum(f"sum_{c}").cast("long").alias(f"sum_{c}") for c in sum_cols],
                )
            )
        os.makedirs(target_dir, exist_ok=True)
        # the marker joins the data in staging: they swap in together
        publish(spark, data_dir, state, sidecars={marker_name: sorted(done | {batch_id})})
        legacy = os.path.join(target_dir, marker_name)
        if os.path.exists(legacy):  # ids already folded into the sidecar
            os.remove(legacy)

    return write_batch
