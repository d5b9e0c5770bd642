"""The r16 compute-overlap contract: store-mutation arms may run
concurrently, but their PUBLISHES must land in the declared crash-order
(versioned.run_publish_ordered + the engines' publish_gate).

These tests pin the three properties the overlap relies on:
- publish ORDER is preserved under the overlap (bands before hashes on
  the index merge; hashes before bands on the index delete; corpus
  before both index stores in curate_increment; items → claims → cache
  in the store import);
- an upstream arm failure ABORTS every downstream publish (the staged
  work never becomes visible);
- run_publish_ordered itself orders completions and re-raises the
  first failure in publish order.

The order and abort tests run under both commit protocols: the locked
one commits through ``versioned.publish``, the optimistic one gates
after staging and commits through ``versioned.try_publish``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from unittest import mock

import pytest
from pyspark.sql import functions as F

from wcdimportbot_spark.operators import versioned


def _docs(spark, n=40, offset=0):
    return spark.range(offset, offset + n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("some document text number "),
            F.col("id"),
            F.lit(" with enough words to shingle cleanly"),
        ).alias("text"),
    )


def test_run_publish_ordered_orders_and_returns():
    order = []

    def arm0(gate):
        assert gate is None
        time.sleep(0.2)  # force arm1 to actually wait
        order.append("a0")
        return "r0"

    def arm1(gate):
        gate()
        order.append("a1")
        return "r1"

    def arm2(gate):
        gate()
        order.append("a2")
        return "r2"

    assert versioned.run_publish_ordered([arm0, arm1, arm2]) == [
        "r0",
        "r1",
        "r2",
    ]
    assert order == ["a0", "a1", "a2"]


def test_run_publish_ordered_upstream_failure_aborts_downstream():
    reached = []

    def arm0(gate):
        raise ValueError("boom upstream")

    def arm1(gate):
        gate()  # must raise — upstream failed
        reached.append("a1 published")

    with pytest.raises(ValueError, match="boom upstream"):
        versioned.run_publish_ordered([arm0, arm1])
    assert reached == []


@contextmanager
def _committed_stores(protocol):
    """Names of the stores whose commits land, in order: the lock
    protocol commits through ``versioned.publish``, the optimistic one
    through the ``versioned.try_publish`` rename arbiter (a lost race
    returns False and is not a commit)."""
    name = "try_publish" if protocol == "optimistic" else "publish"
    real = getattr(versioned, name)
    stores = []

    def spy(path, *a, **k):
        out = real(path, *a, **k)
        if out is not False:
            stores.append(path.rsplit("/", 1)[-1])
        return out

    with mock.patch.object(versioned, name, spy):
        yield stores


def test_index_merge_publishes_bands_before_hashes(
    spark, tmp_path, protocol=None
):
    from wcdimportbot_spark.operators import text_dedup as td

    base = str(tmp_path / "idx")
    with _committed_stores(protocol) as stores:
        td.dedup_index_merge(_docs(spark), base, protocol=protocol)
    assert "bands" in stores and "hashes" in stores
    assert stores.index("bands") < stores.index("hashes")

    # second batch: the steady (non-bootstrap) merge path too
    with _committed_stores(protocol) as stores:
        td.dedup_index_merge(
            _docs(spark, offset=100), base, protocol=protocol
        )
    assert stores.index("bands") < stores.index("hashes")


def test_index_merge_publishes_bands_before_hashes_optimistic(
    spark, tmp_path
):
    test_index_merge_publishes_bands_before_hashes(
        spark, tmp_path, "optimistic"
    )


def test_index_delete_publishes_hashes_before_bands(
    spark, tmp_path, protocol=None
):
    from wcdimportbot_spark.operators import text_dedup as td

    base = str(tmp_path / "idx")
    td.dedup_index_merge(_docs(spark), base, protocol=protocol)
    doomed = _docs(spark, n=10).select(F.md5(F.col("text")).alias("text_hash"))

    with _committed_stores(protocol) as stores:
        res = td.dedup_index_delete(doomed, base, protocol=protocol)
    assert res["hashes_deleted"] == 10
    assert stores.index("hashes") < stores.index("bands")


def test_index_delete_publishes_hashes_before_bands_optimistic(
    spark, tmp_path
):
    test_index_delete_publishes_hashes_before_bands(
        spark, tmp_path, "optimistic"
    )


def test_increment_publishes_corpus_before_index(
    spark, tmp_path, protocol=None
):
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    with _committed_stores(protocol) as stores:
        cn.curate_increment(_docs(spark), base, protocol=protocol)
    assert stores.index("corpus") < stores.index("bands")
    assert stores.index("bands") < stores.index("hashes")


def test_increment_publishes_corpus_before_index_optimistic(
    spark, tmp_path
):
    test_increment_publishes_corpus_before_index(
        spark, tmp_path, "optimistic"
    )


def test_increment_index_never_publishes_when_corpus_fails(
    spark, tmp_path, protocol=None
):
    """A corpus-arm failure must abort BOTH index publishes: the index
    remembering a hash whose content the corpus never accepted is the
    can-never-re-enter state the outputs-first order exists to prevent."""
    from wcdimportbot_spark.plans import curation_nightly as cn
    from wcdimportbot_spark.operators import sinks, text_dedup as td

    base = str(tmp_path / "cur")

    def exploding_merge(*a, **k):
        raise RuntimeError("corpus publish failed")

    with mock.patch.object(cn, "merge_curated_corpus", exploding_merge):
        with pytest.raises(RuntimeError, match="corpus publish failed"):
            cn.curate_increment(_docs(spark), base, protocol=protocol)
    # neither index store became visible
    assert not sinks.has_parquet_data(str(tmp_path / "cur" / "dedup_index" / "hashes"))
    assert not sinks.has_parquet_data(str(tmp_path / "cur" / "dedup_index" / "bands"))
    # and the batch is fully ingestable afterwards (no half-state)
    ann = cn.curate_increment(_docs(spark), base, protocol=protocol)
    assert ann.filter(F.col("kept")).count() == 40


def test_increment_index_never_publishes_when_corpus_fails_optimistic(
    spark, tmp_path
):
    test_increment_index_never_publishes_when_corpus_fails(
        spark, tmp_path, "optimistic"
    )


def _import_pages(spark, page_id):
    return spark.createDataFrame(
        [
            (
                page_id,
                f"Page {page_id}",
                "en",
                1000 + page_id,
                f"{{{{cite web |url=https://site{page_id}.example.com/a "
                f"|title=T{page_id} |last=Author |first=B. "
                f"|access-date=2024-01-01}}}}",
            )
        ],
        "page_id long, title string, language_code string, "
        "latest_revision_id long, wikitext string",
    )


@pytest.mark.parametrize("protocol", ["lock", "optimistic"])
def test_import_publishes_items_claims_cache(
    spark, tmp_path, monkeypatch, protocol
):
    """The import's three merges publish items → claims → cache, and an
    items-merge failure aborts the claims and cache publishes: no new
    version of either, and the import manifest stays ``pending``."""
    from wcdimportbot_spark.operators import sinks
    from wcdimportbot_spark.plans import store_import as si

    monkeypatch.setenv("WCD_STORE_PROTOCOL", protocol)
    store = str(tmp_path / "graph")
    paths = si.store_paths(store)
    with _committed_stores(protocol) as stores:
        si.import_pages_to_store(spark, _import_pages(spark, 1), paths)
    assert stores == ["items", "claims", "cache"]

    before = {k: versioned.current_version(paths[k]) for k in stores}

    def exploding_merge(*a, **k):
        raise RuntimeError("items publish failed")

    with mock.patch.object(sinks, "merge_write_items", exploding_merge):
        with _committed_stores(protocol) as stores:
            with pytest.raises(RuntimeError, match="items publish failed"):
                si.import_pages_to_store(spark, _import_pages(spark, 2), paths)
    assert stores == []
    assert {k: versioned.current_version(paths[k]) for k in before} == before
    status = si.verify_import_consistency(store)["status"]
    assert status == "in-flight-or-crashed"
