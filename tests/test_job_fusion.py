"""Round-15 job-count fusion: the store engines' driver-side actions are
fused so each engine call schedules the minimum number of Spark jobs
(lazy localCheckpoint materialized by the first real action; the upsert's
batch stats collapsed into one grouped collect). These tests pin BOTH the
unchanged semantics (counts, store content, delete-twice tolerance) and
the job-count ceiling that is the optimization's observable — a refactor
that quietly re-introduces a per-call materialization job fails the
ceiling assert."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wcdimportbot_spark.operators import sinks


def _jobs(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup() or []
    return max(ids) if ids else 0


def _items(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("h"), F.col("id")).alias("hash"),
        F.concat(F.lit("Q"), F.col("id")).alias("qid"),
        F.lit("website").alias("instance_of"),
    )


def test_merge_steady_state_job_ceiling_and_counts(spark, tmp_path):
    """A steady MERGE into an existing store runs the fused sequence:
    batch materialize+touched collect (one job), matched-keys broadcast
    builds, fresh materialize+count (one job), append write. Ceiling of
    12 jobs (measured 11 post-fusion, 13 before); counts unchanged."""
    store = str(tmp_path / "items")
    n0 = sinks.merge_write_items(spark, _items(spark, 0, 50), store)
    # steady merge: 30 duplicates, 20 fresh
    before = _jobs(spark)
    n1 = sinks.merge_write_items(spark, _items(spark, 20, 70), store)
    used = _jobs(spark) - before
    assert (n0, n1) == (None, None)  # merge_write_items returns None
    got = sinks.read_items(spark, store).count()
    assert got == 70
    assert used <= 12, f"steady merge scheduled {used} jobs (ceiling 12)"


def test_delete_fused_probe_job_ceiling_and_tolerance(spark, tmp_path):
    """The pruned DELETE runs: keys materialize+touched collect (one
    job), marked-scan materialize+stats collect (one job + broadcast
    build), kept rewrite. Ceiling of 6; delete-twice still returns 0."""
    store = str(tmp_path / "items")
    sinks.merge_write_items(spark, _items(spark, 0, 60), store)
    doomed = spark.createDataFrame(
        [(f"h{i}",) for i in range(10)], "hash string"
    )
    before = _jobs(spark)
    n = sinks.delete_from_store(
        spark,
        doomed,
        store,
        key="hash",
        bucket_key="hash",
        partitions=["instance_of", sinks.BUCKET_COL],
    )
    used = _jobs(spark) - before
    assert n == 10
    assert used <= 9, f"pruned delete scheduled {used} jobs (ceiling 9)"
    assert sinks.read_items(spark, store).count() == 50
    # tolerant delete-twice: nothing matches, no new version published
    assert (
        sinks.delete_from_store(
            spark,
            doomed,
            store,
            key="hash",
            bucket_key="hash",
            partitions=["instance_of", sinks.BUCKET_COL],
        )
        == 0
    )


def test_upsert_single_stats_pass_counts_exact(spark, tmp_path):
    """The upsert's batch stats (n_batch, touched buckets, partition
    tuples) collapse into ONE grouped collect and the matched stats +
    matched-key count into ONE grouping-sets pass. updated/inserted
    stay exact — including the non-unique-key store shape (several rows
    per key) that forced key-grained counting in r11."""
    store = str(tmp_path / "kv")
    base = spark.createDataFrame(
        [("k1", "a", 1), ("k1", "b", 1), ("k2", "c", 1), ("k3", "d", 1)],
        "k string, payload string, ver int",
    )
    sinks.upsert_into_store(
        spark,
        base,
        store,
        key="k",
        bucket_key="k",
        partitions=[sinks.BUCKET_COL],
    )
    # k1 matched (2 store rows, ONE key), k9 fresh
    batch = spark.createDataFrame(
        [("k1", "z", 2), ("k9", "w", 2)], "k string, payload string, ver int"
    )
    before = _jobs(spark)
    res = sinks.upsert_into_store(
        spark,
        batch,
        store,
        key="k",
        bucket_key="k",
        partitions=[sinks.BUCKET_COL],
    )
    used = _jobs(spark) - before
    assert res == {"updated": 1, "inserted": 1}
    rows = {
        (r["k"], r["payload"], r["ver"])
        for r in sinks.read_snapshot(spark, store).collect()
    }
    # both k1 rows replaced by the single batch row; k2/k3 untouched
    assert rows == {
        ("k1", "z", 2),
        ("k2", "c", 1),
        ("k3", "d", 1),
        ("k9", "w", 2),
    }
    assert used <= 12, f"upsert scheduled {used} jobs (ceiling 12; was 19 pre-fusion)"


def test_upsert_batch_only_and_matched_only_partitions(spark, tmp_path):
    """Partition-move edge: an update whose batch row lands in a
    DIFFERENT partition than the matched store row still rewrites both
    (matched dir loses the old row, batch dir gains the new one)."""
    store = str(tmp_path / "typed")
    base = spark.createDataFrame(
        [("k1", "website", 1), ("k2", "book", 1)],
        "k string, instance_of string, ver int",
    )
    sinks.upsert_into_store(
        spark,
        base,
        store,
        key="k",
        bucket_key="k",
        partitions=["instance_of", sinks.BUCKET_COL],
    )
    batch = spark.createDataFrame(
        [("k1", "book", 2)], "k string, instance_of string, ver int"
    )
    res = sinks.upsert_into_store(
        spark,
        batch,
        store,
        key="k",
        bucket_key="k",
        partitions=["instance_of", sinks.BUCKET_COL],
    )
    assert res == {"updated": 1, "inserted": 0}
    rows = {
        (r["k"], r["instance_of"], r["ver"])
        for r in sinks.read_snapshot(spark, store).collect()
    }
    assert rows == {("k1", "book", 2), ("k2", "book", 1)}


def test_schema_sidecar_read_repair(spark, tmp_path):
    """The first read of a sidecar-less snapshot records the inferred
    schema (incl. partition columns) in the version dir; later reads
    take the explicit-schema path (no per-read inference job) and see
    identical schema and rows; link_tree carries the sidecar into the
    next published version; schema evolution still rewrites it."""
    import os

    from wcdimportbot_spark.operators import versioned

    store = str(tmp_path / "items")
    sinks.merge_write_items(spark, _items(spark, 0, 30), store)
    vdir = versioned.data_dir(store)
    assert not os.path.exists(os.path.join(vdir, sinks.SCHEMA_SIDECAR))
    first = sinks.read_items(spark, store)
    schema1 = first.schema
    # read-repair landed, and it recorded exactly what inference saw
    assert os.path.exists(os.path.join(vdir, sinks.SCHEMA_SIDECAR))
    assert sinks._sidecar_schema(vdir) == schema1
    second = sinks.read_items(spark, store)
    assert second.schema == schema1
    assert second.count() == 30
    # the next publish inherits the sidecar via link_tree
    sinks.merge_write_items(spark, _items(spark, 30, 40), store)
    vdir2 = versioned.data_dir(store)
    assert vdir2 != vdir
    assert sinks._sidecar_schema(vdir2) == schema1
    assert sinks.read_items(spark, store).count() == 40
    # additive evolution still grows the recorded schema
    evolved = _items(spark, 40, 45).withColumn("lang", F.lit("en"))
    sinks.merge_write_items(spark, evolved, store, allow_additive=True)
    vdir3 = versioned.data_dir(store)
    s3 = sinks._sidecar_schema(vdir3)
    assert "lang" in s3.fieldNames()
    rows = sinks.read_items(spark, store)
    assert rows.count() == 45
    assert rows.filter(F.col("lang").isNull()).count() == 40


def test_torn_schema_sidecar_degrades_to_inference(spark, tmp_path):
    """An unparseable sidecar (torn copy, manual edit) must never fail a
    read: the reader falls back to inference and repairs the file."""
    import os

    from wcdimportbot_spark.operators import versioned

    store = str(tmp_path / "items")
    sinks.merge_write_items(spark, _items(spark, 0, 10), store)
    sinks.read_items(spark, store).count()
    vdir = versioned.data_dir(store)
    p = os.path.join(vdir, sinks.SCHEMA_SIDECAR)
    os.unlink(p)  # break the hardlink before corrupting
    with open(p, "w") as f:
        f.write('{"type":"struct","fi')  # torn JSON
    df = sinks.read_items(spark, store)
    assert df.count() == 10
    assert sinks._sidecar_schema(vdir) == df.schema  # repaired


def test_merge_empty_batch_short_circuits_without_lock_work(spark, tmp_path):
    """An empty batch returns 0 from the pre-lock touched probe."""
    store = str(tmp_path / "items")
    sinks.merge_write_items(spark, _items(spark, 0, 10), store)
    empty = _items(spark, 0, 10).filter(F.lit(False))
    n = sinks._merge_write(
        spark,
        empty,
        store,
        bucket_key="hash",
        anti_key="hash",
        partitions=["instance_of", sinks.BUCKET_COL],
        dedup_key="hash",
    )
    assert n == 0
    assert sinks.read_items(spark, store).count() == 10
