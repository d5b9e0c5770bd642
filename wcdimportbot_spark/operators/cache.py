"""Hash→QID cache and idempotent upload semantics (S6-S9, J1/J4/J6).

The reference uses an SSDB key-value store probed one key at a time
(``cache.py:16-162``) plus conflict-as-success Wikibase writes
(``crud/create.py:25-45``). Set-oriented restatement:

- the cache is a ``cache(hash, qid)`` DataFrame persisted as parquet
  (Delta's MERGE would be the cluster-grade sink; parquet
  append/overwrite emulates it in this environment — the jars are not in
  the image);
- J1 cache lookup  = broadcast left join on ``hash``;
- J4 upload-if-missing = left-anti join (miss side) / left-semi (hit side);
- S9/J6 conflict-QID adoption = for hash-derived deterministic QIDs the
  conflicting write produces the *same* QID, so adoption is a no-op —
  dedup-before-write (``dropDuplicates("hash")``) plus idempotent MERGE
  keep exactly-once effects across retries.

Scale: the cache side of J1 can be billions of rows at 100 TB; the join is
then a shuffle hash join on md5 (near-uniform keys, no salting needed —
SURVEY §4). ``broadcast=`` lets callers force the broadcast plan when the
cache is known-small.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wcdimportbot_spark.functions import keys

CACHE_SCHEMA = T.StructType(
    [
        T.StructField("hash", T.StringType(), False),
        T.StructField("qid", T.StringType(), False),
    ]
)


def empty_cache(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], CACHE_SCHEMA)


def read_cache(spark: SparkSession, path: str) -> DataFrame:
    """Public cache read — always the stable ``(hash, qid)`` schema; the
    ``hb`` bucket partition column is a storage detail kept out of the
    pipeline (it would pollute join outputs in split_hits_and_misses).
    A path without parquet data files (missing, or a 0-row write that left
    only ``_SUCCESS``) reads as the empty cache, never a schema error."""
    from wcdimportbot_spark.operators import sinks

    if sinks.has_parquet_data(path):
        return sinks.read_snapshot(spark, path).select("hash", "qid")
    return empty_cache(spark)


def lookup(cache: DataFrame, hash_value: str) -> DataFrame:
    """S6 point lookup — ``cache.filter(hash == h)``; on a sorted/bucketed
    cache table this prunes to one file via min/max statistics."""
    return cache.filter(F.col("hash") == F.lit(hash_value))


def split_hits_and_misses(
    entities: DataFrame,
    cache: DataFrame,
    hash_col: str = "hash",
    broadcast: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """J1/J4 — (hits with qid attached, misses to upload).

    The default leaves join-strategy choice to Catalyst/AQE: at 100 TB the
    cache is the BIG side (billions of hash→qid rows), so a forced
    broadcast would be the wrong unmarked path. Pass ``broadcast=True``
    only when the cache is known-small (local harness, bootstrap runs) —
    AQE picks broadcast automatically anyway when the runtime size is
    under the threshold.

    The miss side derives from the MATCHED keys (:func:`keys.probe`, the
    cache streamed against the broadcast batch keys) rather than a
    direct ``entities LEFT-ANTI cache``, which would hash-build the
    billion-row cache. The probe is independent of the hits plan, so an
    action on ``misses`` scans the cache once through a cheap semi-join
    instead of re-executing the entities×cache hits JOIN (r10 ADVICE)."""
    cache_side = F.broadcast(cache) if broadcast else cache
    hits = entities.join(
        cache_side, entities[hash_col] == cache_side["hash"], "inner"
    ).drop(cache_side["hash"])
    stored = cache.select(F.col("hash").alias(hash_col))
    matched = keys.key_set(keys.probe(stored, entities, hash_col), hash_col)
    misses = entities.join(F.broadcast(matched), hash_col, "left_anti")
    return hits, misses


def merge_into_cache(
    cache: DataFrame, new_mappings: DataFrame, hash_col: str = "hash"
) -> DataFrame:
    """S7 with S9 semantics: insert-if-absent (existing hash keeps its QID —
    conflict-as-success). Returns the merged cache DataFrame; caller
    persists with :func:`write_cache`."""
    deduped = new_mappings.select(
        F.col(hash_col).alias("hash"), F.col("qid")
    ).dropDuplicates(["hash"])
    fresh = deduped.join(cache, "hash", "left_anti")
    return cache.unionByName(fresh)


def write_cache(
    cache: DataFrame, path: str, protocol: str | None = None
) -> None:
    """S7 full-rewrite sink (bootstrap / flush paths) as a fresh published
    snapshot; hash-bucketed like the graph stores and sorted on hash, so
    parquet min/max stats prune point lookups (S6). The incremental
    import path is :func:`merge_write_cache`. Under the optimistic
    protocol the same snapshot commits lock-free through the rename
    arbiter (last-writer-wins, a lost race costs only a re-target)."""
    from wcdimportbot_spark.operators import sinks

    # materialize before writing: the plan may read the current snapshot
    staged = sinks.with_bucket(cache, "hash").localCheckpoint(eager=True)
    sinks._write_snapshot(staged, path, "hash", [sinks.BUCKET_COL], protocol)


def merge_write_cache(
    spark: SparkSession,
    new_mappings: DataFrame,
    path: str,
    protocol: str | None = None,
    publish_gate=None,
) -> int:
    """S7+S9 incremental MERGE: insert-if-absent by hash (existing mapping
    wins — conflict-as-success) via the shared bucket-MERGE engine in
    operators/sinks.py. Delta form: MERGE INTO cache USING new ON hash
    WHEN NOT MATCHED INSERT. Returns the number of mappings inserted."""
    from wcdimportbot_spark.operators import sinks

    return sinks._merge_write(
        spark,
        new_mappings.select("hash", "qid"),
        path,
        bucket_key="hash",
        anti_key="hash",
        partitions=[sinks.BUCKET_COL],
        dedup_key="hash",
        publish_gate=publish_gate,
        protocol=protocol,
    )


def delete_keys(cache: DataFrame, hashes: DataFrame) -> DataFrame:
    """S8 — ``DELETE WHERE hash IN (...)`` as an anti-join RELATION (no
    write): correct for in-memory pipelines and for delete-all/rinse,
    where the full rewrite is the optimal plan. The persisted point-
    delete path is :func:`merge_delete_cache`, which rewrites only the
    touched buckets (r10 verdict #1)."""
    return cache.join(hashes.select("hash"), "hash", "left_anti")


def merge_delete_cache(
    spark: SparkSession,
    hashes: DataFrame,
    path: str,
    protocol: str | None = None,
) -> int:
    """S8 persisted point delete: partition-pruned copy-on-write through
    the shared delete engine (operators/sinks.delete_from_store) —
    untouched bucket dirs are hardlinked into the new snapshot, only
    buckets holding doomed hashes are rewritten minus those rows.
    O(touched buckets) instead of the old full anti-join rewrite.
    Deleting an absent hash is swallowed (returns 0), mirroring SSDB's
    tolerant delete in the reference (``cache.py:16-162``)."""
    from wcdimportbot_spark.operators import sinks

    return sinks.delete_from_store(
        spark,
        hashes,
        path,
        key="hash",
        bucket_key="hash",
        partitions=[sinks.BUCKET_COL],
        protocol=protocol,
    )
