"""Streaming distinct-counting with BOUNDED state: a ``foreachBatch``
gate that folds each micro-batch into per-group HLL sketch states kept
in a snapshot-versioned store — the streaming twin of the batch
``a12_sketch_union_distinct`` row.

Why not ``approx_count_distinct`` over the stream or a stateful
``dropDuplicates``? Engine state for lifetime distincts grows with the
key universe inside executor state stores and dies on
restart-without-checkpoint. Here the state is O(2^lg_k) BYTES per group
— a stored artifact any batch job, dashboard, or second stream can read
(and union further) — and a replayed micro-batch re-unions the same
keys into the sketch, which is IDEMPOTENT (HLL insertion is a max over
register values), so at-least-once replay cannot inflate the estimate.
That idempotence is the whole reason the merge can publish without a
batch-id ledger, unlike the dedup gate's survivor append
(streaming/dedup_gate.py, where replay produces duplicate output rows
the sink must absorb).

Same zero-engine-state design as the other gates: every
read-union-publish is one ``versioned.commit`` stage, serialized against
any concurrent writer under the store's write protocol (writer lock or
optimistic rebase, ``WCD_STORE_PROTOCOL``), readers resolve immutable
snapshots, and a nightly batch job can union its own sketches into the
same store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def distinct_sketch_batch_fn(
    store_path: str,
    key: str = "user_id",
    group: str = "event_type",
    lg_k: int = 14,
):
    """Build the ``foreachBatch`` function: per micro-batch, sketch the
    batch per group and fold it into the stored states (read the base
    snapshot -> ``hll_union_agg`` -> publish the new snapshot, one
    :func:`_commit_union` — the read-modify-write must be atomic against
    other writers, exactly like the MERGE engine in operators/sinks.py)."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_sk = batch_df.groupBy(group).agg(
            F.hll_sketch_agg(key, F.lit(lg_k)).alias("sketch")
        )
        _commit_union(store_path, batch_sk, [group])

    return fn


def _commit_union(store_path: str, batch_sk: DataFrame, keys: list) -> None:
    """Fold ``batch_sk`` into the stored sketch states keyed on ``keys``
    through one :func:`~wcdimportbot_spark.operators.versioned.commit`."""
    from wcdimportbot_spark.operators import sinks, versioned

    def stage(base_dir: str, vdir: str):
        merged = batch_sk
        if versioned.tree_has_data(base_dir):
            merged = (
                sinks._read_tree(batch_sk.sparkSession, base_dir)
                .unionByName(batch_sk)
                .groupBy(*keys)
                .agg(F.hll_union_agg("sketch").alias("sketch"))
            )
        _write_states(merged, vdir)
        return None, True

    versioned.commit(store_path, None, stage)


def _write_states(states: DataFrame, vdir: str) -> None:
    # materialize before writing: the plan may read the base snapshot,
    # which an optimistic competitor's commit can prune mid-write
    states.localCheckpoint(eager=True).coalesce(1).write.mode(
        "overwrite"
    ).parquet(vdir)


def read_distinct_estimates(
    spark: SparkSession, store_path: str, group: str = "event_type"
) -> DataFrame:
    """Current per-group distinct estimates off the stored sketch states
    — O(groups) rows, readable mid-stream (snapshot isolation)."""
    from wcdimportbot_spark.operators import sinks

    return sinks.read_snapshot(spark, store_path).select(
        group,
        F.hll_sketch_estimate("sketch").alias("n_distinct_est"),
    )


def windowed_distinct_sketch_batch_fn(
    store_path: str,
    key: str = "user_id",
    group: str = "event_type",
    window: str = "1 day",
    lg_k: int = 14,
):
    """Per-EVENT-TIME-WINDOW variant of the gate (r8 verdict #7): each
    micro-batch's events are sketched per (tumbling window, group) and
    folded into the stored states keyed on (window_start, group) — the
    A7 family gets lifetime AND windowed distincts from the same
    O(2^lg_k)-bytes-per-key store. Unlike the engine's windowed
    aggregations there is NO watermark and no state eviction problem:
    a late event simply unions into its (already published) window's
    sketch state — per-window results are eventually-exact under
    arbitrary lateness, and replay stays idempotent because HLL
    insertion/union is a register max. Stored state grows with
    DISTINCT (window, group) pairs actually seen — bounded by data
    coverage, not by the key universe, and prunable by window age the
    way any date-partitioned store is."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_sk = batch_df.groupBy(
            F.window("ts", window).getField("start").alias("window_start"),
            F.col(group),
        ).agg(F.hll_sketch_agg(key, F.lit(lg_k)).alias("sketch"))
        _commit_union(store_path, batch_sk, ["window_start", group])

    return fn


def read_windowed_distinct_estimates(
    spark: SparkSession, store_path: str, group: str = "event_type"
) -> DataFrame:
    """Per-(window, group) distinct estimates off the stored states;
    any time-RANGE distinct is a further ``hll_union_agg`` over the
    windows it covers — stored-artifact algebra, no raw re-scan. The
    folded pruned-history row (``window_start IS NULL``, written by
    :func:`prune_windowed_sketches`) is excluded — it belongs to the
    lifetime view, not any window."""
    from wcdimportbot_spark.operators import sinks

    return (
        sinks.read_snapshot(spark, store_path)
        .filter(F.col("window_start").isNotNull())
        .select(
            "window_start",
            group,
            F.hll_sketch_estimate("sketch").alias("n_distinct_est"),
        )
    )


def prune_windowed_sketches(
    spark: SparkSession,
    store_path: str,
    older_than: str,
    group: str = "event_type",
) -> dict:
    """Window-age retention for the windowed sketch store (r9 verdict
    #7 — the documented "prunable by window age" bound, now enforced).
    Windows with ``window_start < older_than`` are FOLDED into one
    lifetime sketch per group (stored under ``window_start IS NULL``)
    rather than dropped, so:

    - per-window estimates exist only for RETAINED windows (that is
      what pruning means; a late event for a pruned window re-creates
      its row holding just the stragglers);
    - LIFETIME estimates stay correct forever:
      :func:`read_lifetime_distinct_estimates` unions retained windows
      with the folded row, and HLL union is a register max, so a
      straggler window re-folding later can never double-count.

    The store stays O(retained windows × groups + groups) bytes. One
    :func:`~wcdimportbot_spark.operators.versioned.commit` stage like
    every read-modify-write on this store; publishes nothing when no
    window is old enough. Returns ``{"pruned_windows": n}``."""
    from wcdimportbot_spark.operators import sinks, versioned

    cutoff = F.to_timestamp(F.lit(older_than))
    is_old = F.col("window_start").isNotNull() & (
        F.col("window_start") < cutoff
    )

    def stage(base_dir: str, vdir: str):
        if not versioned.tree_has_data(base_dir):
            return {"pruned_windows": 0}, False
        stored = sinks._read_tree(spark, base_dir)
        # bounded by the partition-schema-sized key space, never events
        n_old = stored.filter(is_old).count()
        if not n_old:
            return {"pruned_windows": 0}, False
        _write_states(
            stored.withColumn(
                "window_start",
                F.when(is_old, F.lit(None).cast("timestamp")).otherwise(
                    F.col("window_start")
                ),
            )
            .groupBy("window_start", group)
            .agg(F.hll_union_agg("sketch").alias("sketch")),
            vdir,
        )
        return {"pruned_windows": int(n_old)}, True

    return versioned.commit(store_path, None, stage)


def read_lifetime_distinct_estimates(
    spark: SparkSession, store_path: str, group: str = "event_type"
) -> DataFrame:
    """Per-group LIFETIME distinct estimates from the windowed store:
    union of every retained window's sketch plus the folded
    pruned-history row — correct across any number of prune passes
    (HLL union idempotence)."""
    from wcdimportbot_spark.operators import sinks

    return (
        sinks.read_snapshot(spark, store_path)
        .groupBy(group)
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("sketch")
            ).alias("n_distinct_est")
        )
    )
