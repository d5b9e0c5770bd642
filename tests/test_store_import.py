"""plans/store_import.import_pages_to_store: its (pages, new items) counts
and the deferred materialization of its batch relations."""

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
    """The import checkpoints its items and claims relations lazily and
    merges them afterwards: that is sound only while their plans read
    neither the items nor the claims store, which those merges publish.
    (They do read the cache, through the page-level guard.)"""
    from wcdimportbot_spark.plans import store_import as si

    paths = si.store_paths(str(tmp_path / "store"))
    si.import_pages_to_store(
        spark, _pages(spark, [(1, "https://one.example.com/a")]), paths
    )
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    batch = []

    def spy(self, *a, **kw):
        if sys._getframe(1).f_code.co_name == "import_pages_to_store":
            batch.append(self)
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    si.import_pages_to_store(
        spark, _pages(spark, [(2, "https://one.example.com/b")]), paths
    )
    assert len(batch) == 2  # items, claims
    scanned = [r for df in batch for r in _scanned_roots(df)]
    for store in ("items", "claims"):
        assert not [r for r in scanned if paths[store] in r], scanned
    assert any(paths["cache"] in r for r in scanned), scanned
