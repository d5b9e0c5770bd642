"""Streaming incremental-dedup gate: the stored-index probe → filter →
append loop (operators/text_dedup.dedup_index_ingest) driven from a
document STREAM via ``foreachBatch`` — the production nightly-batch →
streaming-ingest story.

Each micro-batch is annotated against the persistent dedup index (exact
text hash + LSH band buckets, the snapshot-versioned MERGE stores), only
FRESH documents flow to the output sink, and the survivors' hashes and
buckets are merged back into the index before the next micro-batch runs
— so a later micro-batch that duplicates an earlier one's survivor is
caught, exactly like the batch maintenance loop (the DuckDB-verified
``dedup_incremental_maint`` registry row is the two-batch oracle twin;
tests/test_streaming_sources.py pins streaming↔batch parity).

State: NONE in the streaming engine — the dedup history lives in the
index STORE, not a state store. That is deliberate at 100 TB: Spark's
dropDuplicates state would grow with the corpus inside executor state
stores and die on restart-without-checkpoint, while the MERGE store is
shared, snapshot-versioned, bootstrappable from the nightly batch index
build, and probed with plain bucketed equi-joins.

Reference scope: beyond-reference (the bot deduplicates only within its
in-memory cache, wcdimportbot src/models/cache.py by intent); this is
the training-data-pipeline composition mandated by the task brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wcdimportbot_spark.operators.text_dedup import _probe_for_merge


def incremental_dedup_batch_fn(
    index_path: str,
    fresh_out_path: str,
    rejects_out_path: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    compact_every: int | None = None,
):
    """Build the ``foreachBatch`` function for the streaming dedup gate.

    Per micro-batch: probe the stored index (read-only), write FRESH
    docs (with their annotation columns) to ``fresh_out_path``,
    optionally write duplicate docs to ``rejects_out_path`` (the rejects
    side-output pattern, operators/normalize.py S11), and only THEN
    merge the fresh survivors into the index.

    **Exactly-once outputs** (r8 verdict #4): both outputs are
    partitioned by ``batch_id`` and written with DYNAMIC partition
    overwrite — the standard ``foreachBatch`` idempotence recipe. Spark
    replays a micro-batch under the SAME batch_id, so a replayed batch
    overwrites exactly its own partition with identical rows instead of
    appending duplicates; partitions of other batches are untouched.
    This composes with the outputs-before-merge ordering, which remains
    load-bearing for the other crash window: a crash after the merge
    but before the outputs would make the replayed batch see its own
    half-finished ingest as history and silently DROP those docs from
    ``fresh_out_path`` (loss — unrecoverable downstream), while a crash
    after the outputs but before the merge now merely overwrites the
    batch's partition with the same rows and re-runs the idempotent
    insert-if-absent merge. Net: exactly-once fresh/reject outputs AND
    exactly-once index effects, with no batch-id ledger. The replayed
    probe is guaranteed to reproduce the first attempt's annotation
    because the probe reads the snapshot the crashed attempt never got
    to mutate (merge runs last). The ingest's writer lock serializes
    index updates, so a concurrent nightly batch job and this stream
    compose — each merges against the snapshot the other published.

    ``compact_every=N`` runs the index compaction
    (``text_dedup.compact_dedup_index``) after every Nth micro-batch
    (keyed on ``batch_id % N`` — a replay re-runs the same idempotent
    maintenance): append-only merges add one file per touched bucket
    per batch, so inline periodic compaction (Delta auto-OPTIMIZE)
    keeps probe footer counts flat without a separate scheduler."""

    def _write(df: DataFrame, path: str) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ann, merge = _probe_for_merge(
            batch_df.select(id_col, text_col),
            index_path,
            num_hashes,
            bands,
            id_col,
            text_col,
            shingle_n,
        )
        annotated = batch_df.join(ann, id_col).withColumn(
            "batch_id", F.lit(batch_id)
        )
        # the first write is the probe contract's action: it
        # materializes ann before the merge mutates the index
        _write(annotated.filter(F.col("fresh")), fresh_out_path)
        if rejects_out_path is not None:
            _write(annotated.filter(~F.col("fresh")), rejects_out_path)
        merge()
        if compact_every and batch_id % compact_every == compact_every - 1:
            from wcdimportbot_spark.operators.text_dedup import (
                compact_dedup_index,
            )

            compact_dedup_index(batch_df.sparkSession, index_path)

    return fn
