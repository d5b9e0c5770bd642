"""plans/store_import.import_pages_to_store: its (pages, new items) counts,
the deferred materialization of its batch relations and the release of
its persisted stages."""

from __future__ import annotations

import sys

_PAGES_SCHEMA = (
    "page_id long, title string, language_code string, "
    "latest_revision_id long, wikitext string"
)


def _pages(spark, rows):
    return spark.createDataFrame(
        [
            (
                pid,
                f"Page {pid}",
                "en",
                1000 + pid,
                f"{{{{cite web |url={url} |title=T{pid} |last=Author "
                f"|first=B. |access-date=2024-01-01}}}}",
            )
            for pid, url in rows
        ],
        _PAGES_SCHEMA,
    )


def _item_hashes(pages) -> set:
    from wcdimportbot_spark.plans.pipeline import run_import

    return {r["hash"] for r in run_import(pages).items.select("hash").collect()}


def test_import_counts_pages_and_new_items(spark, tmp_path):
    """(n_pages, n_new): every item of a first import is new, a full
    re-send imports nothing, and a page sharing a website item with the
    store counts only its own new items."""
    from wcdimportbot_spark.plans import store_import as si

    paths = si.store_paths(str(tmp_path / "store"))
    first = _pages(
        spark,
        [(1, "https://one.example.com/a"), (2, "https://two.example.com/b")],
    )
    shared = _pages(spark, [(3, "https://one.example.com/c")])
    h_first, h_shared = _item_hashes(first), _item_hashes(shared)
    assert h_first & h_shared  # the one.example.com website item
    assert si.import_pages_to_store(spark, first, paths) == (2, len(h_first))
    assert si.import_pages_to_store(spark, first, paths) == (0, 0)
    assert si.import_pages_to_store(spark, shared, paths) == (
        1,
        len(h_shared - h_first),
    )


def _scanned_roots(df) -> list[str]:
    """Root paths of every file relation in ``df``'s analyzed plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    roots = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            paths = leaf.relation().location().rootPaths()
            roots += [paths.apply(j).toString() for j in range(paths.size())]
    return roots


def test_import_batch_plans_read_no_graph_store(spark, tmp_path, monkeypatch):
    """The import checks its batch against the cache once, in the page
    checkpoint, and checkpoints its items and claims lazily from it. The
    merges run afterwards: that is sound only while the items and claims
    plans read none of the items, claims and cache stores, which those
    merges publish."""
    from wcdimportbot_spark.plans import store_import as si

    paths = si.store_paths(str(tmp_path / "store"))
    si.import_pages_to_store(
        spark, _pages(spark, [(1, "https://one.example.com/a")]), paths
    )
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    made = []

    def spy(self, *a, **kw):
        # the checkpoints store_import itself builds (the merge engines
        # build their own in operators/sinks.py)
        if sys._getframe(1).f_code.co_filename == si.__file__:
            made.append(self)
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    si.import_pages_to_store(
        spark, _pages(spark, [(2, "https://one.example.com/b")]), paths
    )
    assert len(made) == 3, [df.columns for df in made]  # pages, items, claims
    (page,) = [df for df in made if "wikitext" in df.columns]
    batch = [df for df in made if df is not page]
    assert any("instance_of" in df.columns for df in batch)
    assert any("subject_qid" in df.columns for df in batch)
    assert any(paths["cache"] in r for r in _scanned_roots(page))
    scanned = [r for df in batch for r in _scanned_roots(df)]
    for store in ("items", "claims", "cache"):
        assert not [r for r in scanned if paths[store] in r], scanned


def test_import_releases_its_persisted_stages(spark, tmp_path):
    """run_import persists its extraction and references stages; the
    import unpersists both, so the session's cache manager holds nothing
    after two imports."""
    from wcdimportbot_spark.plans import store_import as si

    spark.catalog.clearCache()
    paths = si.store_paths(str(tmp_path / "store"))
    si.import_pages_to_store(
        spark, _pages(spark, [(1, "https://one.example.com/a")]), paths
    )
    si.import_pages_to_store(
        spark, _pages(spark, [(2, "https://one.example.com/b")]), paths
    )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
