"""Purge-vs-concurrent-writer race contracts (r12 verdict Next #1).

The per-store publishes were always serialized (lock file or optimistic
CAS); these tests pin the CROSS-store seams: a purge's arms racing a
curation increment's two merges, optimistic merges racing optimistic
deletes on one store, and a gate-style append racing the plain-dir
scrub. The contract everywhere: the final state equals ONE of the two
serial orders (purge→ingest ⇒ content back in both stores;
ingest→purge ⇒ content gone from both) — never a mixed state where the
corpus holds content the index forgot or the index remembers content
the corpus dropped (re-sends would then drop as dup_of_history
forever). Reference contract: conflict-as-success under races,
``crud/create.py:39-45``.
"""

from __future__ import annotations

import pytest

import threading
import time

from pyspark.sql import functions as F

T_A = "the quick brown fox jumps over the lazy dog near the river bank"
T_B = ("Completely different words are written about the spark "
       "catalyst optimizer plans and how they work in practice.")
T_D = ("This doomed document describes the history of distributed "
       "dataflow engines and their shuffle implementations in detail.")


def _store_presence(spark, base, text_hash):
    """(corpus_has, index_hashes_has, index_bands_has) for one hash."""
    import os

    from wcdimportbot_spark.operators import sinks
    from wcdimportbot_spark.plans import curation_nightly as cn

    def has(path, col):
        if not sinks.has_parquet_data(path):
            return False
        return (
            sinks.read_snapshot(spark, path)
            .filter(F.col(col) == text_hash)
            .count()
            > 0
        )

    return (
        has(cn._corpus_path(base), "text_hash"),
        has(os.path.join(cn._index_path(base), "hashes"), "text_hash"),
        has(os.path.join(cn._index_path(base), "bands"), "text_hash"),
    )


@pytest.mark.slow
def test_purge_straddling_increment_repairs_to_serial_order(
    spark, tmp_path
):
    """DETERMINISTIC straddle: gate the increment between its corpus
    merge and its index merge, run a full purge of the batch's own
    content hash inside that window (the exact interleaving that used
    to leave corpus-dropped/index-remembered — the worst mixed state),
    then release. The increment's marker-fingerprint repair must
    re-assert both merges, landing on the purge→ingest serial order:
    the content present in corpus AND index together."""
    import hashlib

    from wcdimportbot_spark.operators import hooks
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    cn.curate_increment(spark.createDataFrame([(1, T_A)], schema), base)
    h_d = hashlib.md5(T_D.encode()).hexdigest()

    def run_increment():
        batch = spark.createDataFrame([(10, T_D), (11, T_B)], schema)
        cn.curate_increment(batch, base)

    with hooks.schedule(
        hooks.Rule("test.purge", after="increment.corpus.merged"),
        hooks.Rule("increment.corpus.merged", after="test.purged"),
    ), hooks.background(run_increment):
        # full purge of the batch's own content INSIDE the increment's
        # write window: corpus arm deletes the row the increment just
        # inserted, index arm runs before the increment's index merge
        hooks.point("test.purge")
        res = cn.purge_documents(
            spark,
            spark.createDataFrame([(h_d,)], "text_hash string"),
            base,
        )
        hooks.point("test.purged")
        assert res["corpus_deleted"] == 1

    # repair converged on the purge→ingest serial order: content in
    # corpus AND index together — never the mixed state
    c, ih, ib = _store_presence(spark, base, h_d)
    assert (c, ih, ib) == (True, True, True)
    assert cn.purge_state(base)["status"] == "committed"
    # the untouched and fresh docs are intact
    corpus_ids = sorted(
        r["doc_id"]
        for r in cn.read_curated_corpus(spark, base).collect()
    )
    assert corpus_ids == [1, 10, 11]
    # and a re-send of the repaired content now dedups as history
    ann = {
        r["doc_id"]: r
        for r in cn.curate_increment(
            spark.createDataFrame([(20, T_D)], schema), base
        ).collect()
    }
    assert ann[20]["dup_of_history"] and not ann[20]["kept"]


@pytest.mark.slow
def test_purge_vs_increment_threaded_stress(spark, tmp_path):
    """Unsynchronized threads — a purge of one content hash racing an
    increment that carries the same content plus a fresh doc, repeated
    with varied stagger. Whatever interleaving the scheduler picks, the
    final state must agree across corpus / index hashes / index bands
    (one of the two serial orders), the marker must settle committed,
    and the bystander docs must land in both stores."""
    import hashlib

    from wcdimportbot_spark.plans import curation_nightly as cn

    schema = "doc_id long, text string"
    h_d = hashlib.md5(T_D.encode()).hexdigest()
    for rnd, stagger in enumerate((0.0, 0.15, 0.4)):
        base = str(tmp_path / f"cur{rnd}")
        cn.curate_increment(
            spark.createDataFrame([(1, T_A)], schema), base
        )
        errs = []

        def run_increment():
            try:
                cn.curate_increment(
                    spark.createDataFrame(
                        [(10, T_D), (11, T_B)], schema
                    ),
                    base,
                )
            except Exception as e:
                errs.append(e)

        def run_purge():
            try:
                time.sleep(stagger)
                cn.purge_documents(
                    spark,
                    spark.createDataFrame(
                        [(h_d,)], "text_hash string"
                    ),
                    base,
                )
            except Exception as e:
                errs.append(e)

        t1 = threading.Thread(target=run_increment)
        t2 = threading.Thread(target=run_purge)
        t1.start()
        t2.start()
        t1.join(300)
        t2.join(300)
        assert not t1.is_alive() and not t2.is_alive()
        assert not errs, errs

        c, ih, ib = _store_presence(spark, base, h_d)
        # serializable: all three stores agree about the contested hash
        assert c == ih == ib, (rnd, c, ih, ib)
        assert cn.purge_state(base)["status"] == "committed"
        # bystanders always present in corpus AND index
        for h in (
            hashlib.md5(T_A.encode()).hexdigest(),
            hashlib.md5(T_B.encode()).hexdigest(),
        ):
            assert _store_presence(spark, base, h) == (True, True, True)


def test_optimistic_merge_vs_delete_single_store(spark, tmp_path):
    """Store-family stress: optimistic insert-if-absent merges racing
    optimistic pruned deletes on ONE cache store. The CAS arbiter must
    serialize every publish: the final snapshot is readable, holds
    exactly one row per surviving key, bystander keys are never lost,
    and each contested key is present or absent per SOME serial
    interleaving of the committed operations (never a torn snapshot)."""
    from wcdimportbot_spark.operators import cache as cache_ops
    from wcdimportbot_spark.operators import sinks

    path = str(tmp_path / "cache")
    rows = [(f"h{i:03d}", f"Q{i}") for i in range(40)]
    cache_ops.write_cache(
        spark.createDataFrame(rows, "hash string, qid string"), path
    )
    contested = [f"h{i:03d}" for i in range(10)]
    errs = []

    def do_merges():
        try:
            for _ in range(3):
                cache_ops.merge_write_cache(
                    spark,
                    spark.createDataFrame(
                        [(h, "Qnew") for h in contested],
                        "hash string, qid string",
                    ),
                    path,
                    protocol="optimistic",
                )
        except Exception as e:
            errs.append(e)

    def do_deletes():
        try:
            for _ in range(3):
                cache_ops.merge_delete_cache(
                    spark,
                    spark.createDataFrame(
                        [(h,) for h in contested], "hash string"
                    ),
                    path,
                    protocol="optimistic",
                )
        except Exception as e:
            errs.append(e)

    threads = [
        threading.Thread(target=do_merges),
        threading.Thread(target=do_deletes),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
        assert not t.is_alive()
    assert not errs, errs

    snap = sinks.read_snapshot(spark, path)
    got = {r["hash"]: r["qid"] for r in snap.collect()}
    # never torn: one row per key, bystanders intact with their values
    assert snap.groupBy("hash").count().filter("count > 1").count() == 0
    for i in range(10, 40):
        assert got.get(f"h{i:03d}") == f"Q{i}"
    # contested keys: insert-if-absent never overwrites, so any
    # surviving row carries a value some serial history allows
    for h in contested:
        assert got.get(h) in (None, "Qnew", f"Q{int(h[1:])}")


def test_scrub_vs_new_batch_append(spark, tmp_path):
    """Gate-style appends racing the plain-dir scrub: the scrub only
    swaps partitions that held doomed rows at scan time, so a NEW
    batch_id partition being appended concurrently is never touched —
    every appended row survives, and the doomed rows still leave the
    old batches."""
    import os

    from wcdimportbot_spark.plans import curation_nightly as cn

    out = str(tmp_path / "gate_out")
    old = [(f"h{i}", i, 100 + (i % 3)) for i in range(60)]
    spark.createDataFrame(
        old, "text_hash string, payload long, batch_id long"
    ).write.partitionBy("batch_id").parquet(out)
    doomed = spark.createDataFrame(
        [(f"h{i}",) for i in range(0, 12)], "text_hash string"
    )
    errs = []
    appended = []

    def do_appends():
        try:
            for b in range(900, 906):
                rows = [(f"new{b}_{j}", j, b) for j in range(20)]
                spark.createDataFrame(
                    rows, "text_hash string, payload long, batch_id long"
                ).write.mode("append").partitionBy("batch_id").parquet(out)
                appended.extend(r[0] for r in rows)
        except Exception as e:
            errs.append(e)

    def do_scrub():
        try:
            cn.purge_output_partitions(spark, doomed, out)
        except Exception as e:
            errs.append(e)

    t1 = threading.Thread(target=do_appends)
    t2 = threading.Thread(target=do_scrub)
    t1.start()
    t2.start()
    t1.join(300)
    t2.join(300)
    assert not t1.is_alive() and not t2.is_alive()
    assert not errs, errs

    spark.catalog.refreshByPath(out)
    left = spark.read.parquet(out)
    survivors = {r["text_hash"] for r in left.collect()}
    # every concurrently appended row survived the scrub window
    assert set(appended) <= survivors
    # doomed rows are gone (replay once if the scrub's scan raced the
    # appends' directory listing — the documented idempotent remedy)
    if any(f"h{i}" in survivors for i in range(12)):
        cn.purge_output_partitions(spark, doomed, out)
        survivors = {
            r["text_hash"] for r in spark.read.parquet(out).collect()
        }
    assert not any(f"h{i}" in survivors for i in range(12))
    # untouched old rows intact
    assert {f"h{i}" for i in range(12, 60)} <= survivors
    assert not os.path.exists(os.path.join(out, "_scrub_staging"))


@pytest.mark.slow
def test_crashed_pending_marker_does_not_wedge_increments(
    spark, tmp_path, monkeypatch
):
    """A crashed purge's marker stays pending forever; increments must
    proceed after the liveness timeout (its remaining arms will never
    run, so no straddle is possible), not block behind it — and the
    marker must survive untouched for its owner's replay."""
    import time as _time
    import unittest.mock as mock

    import wcdimportbot_spark.operators.text_dedup as td
    from wcdimportbot_spark.plans import curation_nightly as cn

    monkeypatch.setattr(cn, "PURGE_WAIT_SECS", 0.5)
    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    cn.curate_increment(spark.createDataFrame([(1, T_A)], schema), base)
    with mock.patch.object(
        td, "dedup_index_delete", side_effect=RuntimeError("killed")
    ):
        try:
            cn.purge_documents(
                spark,
                spark.createDataFrame([(1,)], "doc_id long"),
                base,
            )
        except RuntimeError:
            pass
    assert cn.purge_state(base)["status"] == "pending"
    # age the marker past the (patched) liveness window
    _time.sleep(0.6)

    t0 = _time.time()
    ann = {
        r["doc_id"]: r
        for r in cn.curate_increment(
            spark.createDataFrame([(2, T_B)], schema), base
        ).collect()
    }
    assert ann[2]["kept"]
    # bounded wait: two settle calls at most ~2 timeouts plus the
    # increment's own work — nowhere near a wedge
    assert _time.time() - t0 < 60
    marker = cn.purge_state(base)
    assert marker["status"] == "pending"  # untouched, owner replays it
    # and the owner's replay still converges afterward
    cn.purge_documents(
        spark, spark.createDataFrame([(1,)], "doc_id long"), base
    )
    assert cn.purge_state(base)["status"] == "committed"


def _index_presence(spark, base, text_hash):
    """(hashes_has, bands_has) for one hash on a standalone index."""
    import os

    from wcdimportbot_spark.operators import sinks

    def has(path):
        if not sinks.has_parquet_data(path):
            return False
        return (
            sinks.read_snapshot(spark, path)
            .filter(F.col("text_hash") == text_hash)
            .count()
            > 0
        )

    return (
        has(os.path.join(base, "hashes")),
        has(os.path.join(base, "bands")),
    )


def test_index_delete_straddling_merge_repairs_blind_spot(
    spark, tmp_path
):
    """Standalone-index seam (one level below the curation marker): a
    dedup_index_delete landing between a merge's bands publish and its
    hashes publish used to leave hash-present/bands-absent — a
    PERMANENT near-dup blind spot (re-sends drop as exact dups before
    reaching the band merge, so the bands can never backfill). The
    delete-epoch repair must re-assert both publishes."""
    import hashlib

    from wcdimportbot_spark.operators import hooks
    from wcdimportbot_spark.operators import text_dedup as td

    base = str(tmp_path / "idx")
    schema = "doc_id long, text string"
    # seed so both stores exist
    td.dedup_index_ingest(
        spark.createDataFrame([(1, T_A)], schema), base
    )
    h_d = hashlib.md5(T_D.encode()).hexdigest()

    with hooks.schedule(
        hooks.Rule("test.delete", after="dedup.bands.merged"),
        hooks.Rule("dedup.bands.merged", after="test.deleted"),
    ), hooks.background(
        lambda: td.dedup_index_ingest(
            spark.createDataFrame([(10, T_D)], schema), base
        )
    ):
        # full delete INSIDE the merge's two-publish window
        hooks.point("test.delete")
        td.dedup_index_delete(
            spark.createDataFrame([(h_d,)], "text_hash string"), base
        )
        hooks.point("test.deleted")

    # the repair re-asserted both publishes: delete→merge serial order,
    # content fully indexed — never the hashes-only blind spot
    assert _index_presence(spark, base, h_d) == (True, True)
    # near-dup detection actually works for it (the blind spot would
    # pass this content straight through the band probe)
    ann, _s = td.dedup_index_probe(
        spark.createDataFrame([(20, T_D)], schema), base
    )
    row = ann.collect()[0]
    assert row["exact_dup_of_history"] and row["near_dup_of_history"]


@pytest.mark.slow
def test_index_merge_vs_delete_threaded_stress(spark, tmp_path):
    """Unsynchronized merge-vs-delete on one standalone index: whatever
    the scheduler picks, hashes and bands must agree about the
    contested content (one of the two serial orders) and the bystander
    content stays fully indexed."""
    import hashlib

    from wcdimportbot_spark.operators import text_dedup as td

    schema = "doc_id long, text string"
    h_d = hashlib.md5(T_D.encode()).hexdigest()
    for rnd, stagger in enumerate((0.0, 0.2)):
        base = str(tmp_path / f"idx{rnd}")
        td.dedup_index_ingest(
            spark.createDataFrame([(1, T_A)], schema), base
        )
        errs = []

        def run_merge():
            try:
                td.dedup_index_ingest(
                    spark.createDataFrame(
                        [(10, T_D), (11, T_B)], schema
                    ),
                    base,
                )
            except Exception as e:
                errs.append(e)

        def run_delete():
            try:
                time.sleep(stagger)
                td.dedup_index_delete(
                    spark.createDataFrame(
                        [(h_d,)], "text_hash string"
                    ),
                    base,
                )
            except Exception as e:
                errs.append(e)

        t1 = threading.Thread(target=run_merge)
        t2 = threading.Thread(target=run_delete)
        t1.start()
        t2.start()
        t1.join(300)
        t2.join(300)
        assert not t1.is_alive() and not t2.is_alive()
        assert not errs, errs
        hh, bb = _index_presence(spark, base, h_d)
        assert hh == bb, (rnd, hh, bb)
        for t_text in (T_A, T_B):
            h = hashlib.md5(t_text.encode()).hexdigest()
            assert _index_presence(spark, base, h) == (True, True)


def _graph_presence(spark, gpaths, h):
    """(items_has, cache_has) for one identity hash."""
    from wcdimportbot_spark.operators import sinks

    def has(path, reader):
        if not sinks.has_parquet_data(path):
            return False
        return reader(spark, path).filter(F.col("hash") == h).count() > 0

    from wcdimportbot_spark.operators.cache import read_cache

    return (
        has(gpaths["items"], sinks.read_items),
        has(gpaths["cache"], lambda s, p: read_cache(s, p)),
    )


_PAGES_SCHEMA = (
    "page_id long, title string, language_code string, "
    "latest_revision_id long, wikitext string"
)


def _race_pages(spark):
    wt1 = ("{{cite web |url=https://one.example.com/a |title=A "
           "|last=Author |first=B. |access-date=2024-01-01}}")
    wt2 = ("{{cite web |url=https://two.example.com/b |title=B "
           "|last=Author |first=C. |access-date=2024-01-01}}")
    return spark.createDataFrame(
        [(1, "Page One", "en", 1001, wt1), (2, "Page Two", "en", 1002, wt2)],
        _PAGES_SCHEMA,
    )


@pytest.mark.slow
def test_purge_straddling_import_repairs_to_serial_order(
    spark, tmp_path
):
    """Graph-store seam: a purge's graph arm landing between an
    import's claims merge and its cache merge used to leave
    cache-present/items-absent — the P12 already-uploaded probe then
    SKIPS every re-import of that page forever. The import's
    purge-epoch repair must re-assert all three merges (purge→import
    serial order: the page fully back)."""
    from wcdimportbot_spark.operators import hooks
    from wcdimportbot_spark.plans import curation_nightly as cn
    from wcdimportbot_spark.plans import store_import as si
    from wcdimportbot_spark.plans.pipeline import run_import

    store = str(tmp_path / "graph")
    cur = str(tmp_path / "cur")
    gpaths = si.store_paths(store)
    pages = _race_pages(spark)
    # the import's item hashes, computed WITHOUT touching the store
    # (the purge must know its doomed set while the import is mid-air)
    items_preview = run_import(pages).items.select("hash", "qid").collect()
    doomed_pairs = [(r["hash"], r["qid"]) for r in items_preview]
    assert doomed_pairs

    with hooks.schedule(
        hooks.Rule("test.purge", after="import.claims.merged"),
        hooks.Rule("import.claims.merged", after="test.purged"),
    ), hooks.background(
        lambda: si.import_pages_to_store(spark, pages, gpaths)
    ):
        # graph-arm purge INSIDE the import's window: items + claims
        # rows (just merged) leave; the cache rows are not there yet
        hooks.point("test.purge")
        res = cn.purge_documents(
            spark,
            spark.createDataFrame([], "text_hash string"),
            cur,
            graph_store=store,
            item_hashes=spark.createDataFrame(
                doomed_pairs, "hash string, subject_qid string"
            ),
        )
        hooks.point("test.purged")
        assert res["items_deleted"] == len(doomed_pairs)

    # the repair re-asserted all three merges: purge→import serial
    # order — items AND cache agree (the page is importable/probed
    # consistently), manifest committed
    for h, _q in doomed_pairs:
        assert _graph_presence(spark, gpaths, h) == (True, True)
    assert si.verify_import_consistency(store)["status"] == "consistent"
    # and the full delete→re-import contract still holds: a clean purge
    # (no import in flight) removes the pages everywhere, then a fresh
    # import is ACCEPTED back
    cn.purge_documents(
        spark,
        spark.createDataFrame([], "text_hash string"),
        cur,
        graph_store=store,
        item_hashes=spark.createDataFrame(
            doomed_pairs, "hash string, subject_qid string"
        ),
        force=True,
    )
    for h, _q in doomed_pairs:
        assert _graph_presence(spark, gpaths, h) == (False, False)
    si.import_pages_to_store(spark, pages, gpaths)
    for h, _q in doomed_pairs:
        assert _graph_presence(spark, gpaths, h) == (True, True)


@pytest.mark.slow
def test_import_vs_purge_threaded_stress(spark, tmp_path):
    """Unsynchronized import-vs-graph-purge: whatever interleaving the
    scheduler picks, the items and cache stores must agree about every
    contested identity hash (one of the two serial orders) — never the
    cache-remembers/items-gone state that permanently skips
    re-imports."""
    from wcdimportbot_spark.plans import curation_nightly as cn
    from wcdimportbot_spark.plans import store_import as si
    from wcdimportbot_spark.plans.pipeline import run_import

    pages = _race_pages(spark)
    doomed_pairs = [
        (r["hash"], r["qid"])
        for r in run_import(pages).items.select("hash", "qid").collect()
    ]
    for rnd, stagger in enumerate((0.0, 0.3)):
        store = str(tmp_path / f"graph{rnd}")
        cur = str(tmp_path / f"cur{rnd}")
        gpaths = si.store_paths(store)
        errs = []

        def do_import():
            try:
                si.import_pages_to_store(spark, pages, gpaths)
            except Exception as e:
                errs.append(e)

        def do_purge():
            try:
                time.sleep(stagger)
                cn.purge_documents(
                    spark,
                    spark.createDataFrame([], "text_hash string"),
                    cur,
                    graph_store=store,
                    item_hashes=spark.createDataFrame(
                        doomed_pairs, "hash string, subject_qid string"
                    ),
                )
            except Exception as e:
                errs.append(e)

        t1 = threading.Thread(target=do_import)
        t2 = threading.Thread(target=do_purge)
        t1.start()
        t2.start()
        t1.join(300)
        t2.join(300)
        assert not t1.is_alive() and not t2.is_alive()
        assert not errs, errs
        for h, _q in doomed_pairs:
            ih, ch = _graph_presence(spark, gpaths, h)
            assert ih == ch, (rnd, h, ih, ch)


@pytest.mark.slow
def test_import_epoch_closes_manifest_detection_hole(spark, tmp_path):
    """The r13 ADVICE schedule, pinned deterministically: the import's
    begin/commit manifest writes land once OUTSIDE its retry loop, so a
    purge that fingerprinted the MANIFEST saw identical bytes across a
    delete window that interleaved with the import's merges, while the
    import's purge-epoch reads both fell between the purge's two bumps
    — neither side detected, leaving cache-present/items-absent (the
    P12 probe then skips every re-import forever). The r14 fix has the
    import bump _IMPORT_EPOCH.json inside EVERY merge attempt and the
    purge fingerprint that sidecar: in this exact schedule the purge's
    second read now observes the import's bumps and re-runs its
    deletes, converging on the import→purge serial order (page fully
    gone, re-import accepted)."""
    from wcdimportbot_spark.operators import hooks
    from wcdimportbot_spark.plans import curation_nightly as cn
    from wcdimportbot_spark.plans import store_import as si
    from wcdimportbot_spark.plans.pipeline import run_import

    store = str(tmp_path / "graph")
    cur = str(tmp_path / "cur")
    gpaths = si.store_paths(store)
    pages = _race_pages(spark)
    doomed_pairs = [
        (r["hash"], r["qid"])
        for r in run_import(pages).items.select("hash", "qid").collect()
    ]
    assert doomed_pairs

    importer = f"bracket:{si.IMPORT_EPOCH_FILE}:purge_documents"
    purger = f"bracket:{si.PURGE_EPOCH_FILE}:import_pages_to_store"
    with hooks.schedule(
        # the import's FIRST purge-epoch read (p0) happens only after
        # the purge's first bump
        hooks.Rule(f"{importer}:read", after=f"{purger}:body"),
        # attempt-1 deletes run strictly inside the import's merge
        # window: after its items merge, before its claims merge
        # (the import's claims merge waits only for the items delete:
        # claims/cache stores hold no data yet, so their deletes are
        # skipped by has_parquet_data)
        hooks.Rule(f"{purger}:body", after="import.items.merged"),
        hooks.Rule("import.items.merged", after="purge.graph.items.deleted"),
        # bump2's BYTES land strictly AFTER the import verified p1 == p0
        hooks.Rule(f"{purger}:bump", hit=2, after=f"{importer}:done"),
    ) as sched, hooks.background(
        lambda: si.import_pages_to_store(spark, pages, gpaths)
    ):
        res = cn.purge_documents(
            spark,
            spark.createDataFrame([], "text_hash string"),
            cur,
            graph_store=store,
            item_hashes=spark.createDataFrame(
                doomed_pairs, "hash string, subject_qid string"
            ),
        )
    # the purge detected the import's epoch bumps and ran a second
    # delete attempt (each attempt bumps the purge epoch twice)
    assert sched.hits[f"{purger}:bump"] >= 4, sched.hits

    # import→purge serial order: the page fully gone from ALL stores —
    # never the cache-present/items-absent mixed state
    for h, _q in doomed_pairs:
        assert _graph_presence(spark, gpaths, h) == (False, False)
    assert res["items_deleted"] >= len(doomed_pairs)
    # delete→re-import contract: a fresh import is accepted back
    si.import_pages_to_store(spark, pages, gpaths)
    for h, _q in doomed_pairs:
        assert _graph_presence(spark, gpaths, h) == (True, True)


def test_epoch_bump_concurrent_writers_never_raise(tmp_path):
    """Two concurrent bumpers of one sidecar must both succeed: the old
    fixed '.tmp' sibling let one os.replace rename the temp out from
    under the other (FileNotFoundError failing an innocent merge), and
    the payload nonce guarantees every bump changes the BYTES even when
    the lost-update counter writes the same n twice — the fingerprint
    contract epoch_read consumers rely on."""
    from wcdimportbot_spark.operators import versioned

    base = str(tmp_path / "store")
    errs = []
    seen = set()
    lock = threading.Lock()

    def bump_many():
        try:
            for _ in range(50):
                versioned.epoch_bump(base, "_MERGE_EPOCH.json")
                b = versioned.epoch_read(base, "_MERGE_EPOCH.json")
                with lock:
                    seen.add(b)
        except Exception as e:
            errs.append(e)

    threads = [threading.Thread(target=bump_many) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not errs, errs
    # no stale temp litter
    import os

    litter = [f for f in os.listdir(base) if ".tmp" in f]
    assert not litter, litter
    # many distinct fingerprints were observed (byte-change contract)
    assert len(seen) > 10


def test_increment_backoff_sleeps_outside_its_window(
    spark, tmp_path, monkeypatch
):
    """On a forced re-attempt the increment's race backoff sleeps BEFORE
    the purge-fingerprint read that opens its next window, never
    between its merges and the closing read (a sleep there widens the
    very window a purge must stay out of)."""
    from wcdimportbot_spark.operators import versioned
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    calls = []
    # the marker changes inside attempt 0 (a purge landed), then stays
    fps = iter(["fp0", "fp1", "fp1", "fp1"])

    def settle(_base, timeout=None):
        calls.append("settle")
        return next(fps)

    real_bump = versioned.epoch_bump

    def bump(b, fname):
        if fname == cn.INCREMENT_EPOCH_FILE:
            calls.append("bump")
        real_bump(b, fname)

    def backoff(attempt, scale=1.0):
        if attempt > 0:
            calls.append("sleep")

    monkeypatch.setattr(cn, "_settle_purges", settle)
    monkeypatch.setattr(versioned, "epoch_bump", bump)
    monkeypatch.setattr(versioned, "race_backoff", backoff)
    batch = spark.createDataFrame([(1, T_A), (2, T_B)], ["doc_id", "text"])
    assert cn.curate_increment(batch, base).filter("kept").count() == 2
    assert calls == [
        "settle", "bump", "bump", "settle",
        "sleep", "settle", "bump", "bump", "settle",
    ]


@pytest.mark.slow
def test_increment_inside_slow_purge_arm_is_detected(
    spark, tmp_path, monkeypatch
):
    """The r13 ADVICE liveness hole, pinned deterministically: the
    purge heartbeats its marker only BETWEEN arms, so an increment
    whose whole write window fell inside one slow arm saw identical
    marker bytes at both fingerprint reads (no repair), and the purge
    never checked for increments — its later index arm then deleted
    hashes the increment had just merged, leaving corpus-present/
    index-forgotten (re-sends of OTHER copies of that text would probe
    novel while the corpus already holds it; worse interleavings leave
    the index remembering dropped content forever). The r14 two-sided
    bracket has the increment bump _INCREMENT_EPOCH.json inside every
    _mutate attempt and the purge re-check that sidecar across its
    corpus+index arms: here the purge detects the straddle and re-runs
    both deletes, converging on the ingest→purge serial order (content
    gone from BOTH stores), and a fresh re-send is accepted back."""
    from wcdimportbot_spark.operators import hooks, text_dedup
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    monkeypatch.setattr(cn, "PURGE_WAIT_SECS", 0.3)
    batch = spark.createDataFrame([(1, T_D)], ["doc_id", "text"])
    ann = cn.curate_increment(batch, base)
    h = ann.select("text_hash").first()["text_hash"]
    assert _store_presence(spark, base, h) == (True, True, True)

    def run_increment():
        hooks.point("test.increment")
        try:
            cn.curate_increment(
                spark.createDataFrame([(2, T_D)], ["doc_id", "text"]), base
            )
        finally:
            hooks.point("test.incremented")

    index_deleted = (
        f"bracket:{text_dedup.DELETE_EPOCH_FILE}:dedup_index_merge:done"
    )
    with hooks.schedule(
        # the increment starts once both arms removed the content...
        hooks.Rule("test.increment", after="purge.corpus.deleted"),
        hooks.Rule("test.increment", after=index_deleted),
        # ...and the corpus arm STALLS before the marker heartbeat so
        # the increment's whole window (both merges + both fingerprint
        # reads) lands inside this quiet stretch
        hooks.Rule("purge.corpus.deleted", after="test.incremented"),
    ) as sched, hooks.background(run_increment):
        res = cn.purge_documents(
            spark,
            spark.createDataFrame([(h,)], "text_hash string"),
            base,
        )
    # the purge detected the in-arm increment and ran a second
    # corpus delete (the re-merged contested row)
    assert sched.hits["purge.corpus.deleted"] >= 2, sched.hits

    # ingest→purge serial order: the content gone from corpus AND both
    # index stores — never the mixed state
    assert _store_presence(spark, base, h) == (False, False, False)
    assert cn.purge_state(base).get("status") == "committed"
    assert res["corpus_deleted"] >= 1
    # the delete→re-send contract: fresh content is accepted back as
    # novel (the index does NOT remember the purged text)
    ann2 = cn.curate_increment(
        spark.createDataFrame([(3, T_D)], ["doc_id", "text"]), base
    )
    row = ann2.first()
    assert row["kept"] and not row["dup_of_history"]
    assert _store_presence(spark, base, h) == (True, True, True)


@pytest.mark.slow
def test_cli_delete_page_straddling_import(spark, tmp_path):
    """Every cross-store delete path rides the import-race bracket, not
    only purge_documents' graph arm: a CLI --delete-page whose
    items/claims/cache deletes straddle a concurrent import's merges
    used to leave cache-present/items-absent undetected (the P12 probe
    then skips every re-import of that page forever). The shared
    run_deletes_with_import_repair bracket re-runs the delete set when
    an import's epoch bumps landed inside its window; the import side
    symmetrically re-merges when the delete's purge-epoch bumps landed
    inside its own — whatever the interleaving, items and cache agree."""
    from wcdimportbot_spark.cli import main
    from wcdimportbot_spark.operators import hooks, sinks
    from wcdimportbot_spark.plans import store_import as si

    store = str(tmp_path / "graph")
    gpaths = si.store_paths(store)
    pages = _race_pages(spark)
    si.import_pages_to_store(spark, pages, gpaths)
    hashes = [
        r["hash"]
        for r in sinks.read_items(spark, gpaths["items"])
        .select("hash")
        .collect()
    ]

    # empty the store so the threaded import re-merges everything
    rc = main(["--store", store, "--delete-page", "Page One"])
    assert rc in (0, None)
    rc = main(["--store", store, "--delete-page", "Page Two"])
    assert rc in (0, None)

    # deterministic straddle: the delete's items arm runs right after
    # the re-import's items merge, before its claims/cache merges
    deleter = f"bracket:{si.PURGE_EPOCH_FILE}:import_pages_to_store"
    with hooks.schedule(
        hooks.Rule(f"{deleter}:body", after="import.items.merged"),
        hooks.Rule("import.items.merged", after="test.deleted"),
    ), hooks.background(
        lambda: si.import_pages_to_store(spark, pages, gpaths)
    ):
        rc = main(["--store", store, "--delete-page", "Page One"])
        hooks.point("test.deleted")
        assert rc in (0, None)

    # serializable outcome for every contested hash: items and cache
    # agree (one of the two serial orders, never the mixed state)
    for h in hashes:
        ih, ch = _graph_presence(spark, gpaths, h)
        assert ih == ch, (h, ih, ch)
    # delete→re-import contract still converges: a fresh import brings
    # both pages fully back
    si.import_pages_to_store(spark, pages, gpaths)
    for h in hashes:
        assert _graph_presence(spark, gpaths, h) == (True, True)


def _ann_two_sided(spark):
    """20 well-separated vectors: ids 0-9 on the + side, 100-109 on the
    − side, so a 2-cluster build puts each side in its own cluster and
    NEGATING a vector deterministically moves it across clusters."""
    rows = [(i, [10.0 + i, 1.0, 0.0, 0.0]) for i in range(10)]
    rows += [(100 + i, [-10.0 - i, -1.0, 0.0, 0.0]) for i in range(10)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _negated(emb, vec_id):
    return emb.filter(F.col("vec_id") == vec_id).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )


def test_ann_delete_straddling_add_reresolves_moved_vector(
    spark, tmp_path
):
    """The r14 verdict's last open store pair (What's wrong #3), exact
    schedule forced: ann_index_delete resolves its (vec_id, cluster)
    pair set, then — INSIDE its scan-to-publish window — a concurrent
    add_batch inserts the doomed id's CHANGED embedding into a cluster
    the pair set never named. Without the epoch bracket the pruned
    publish misses it and the vector stays SERVED after a "complete"
    privacy purge. The delete-side repair must detect the merge bump,
    RE-RESOLVE from the live store, and re-delete — merge→delete
    serial order, the id gone from every cluster."""
    from wcdimportbot_spark.operators import ann_store as ann
    from wcdimportbot_spark.operators import hooks

    base = str(tmp_path / "ann")
    emb = _ann_two_sided(spark)
    ann.ann_index_build(emb, base, num_clusters=2, m=2, n_codes=4)

    # first publish = the delete's attempt-0 pruned CoW; it holds open
    # until the racing add has fully landed
    with hooks.schedule(
        hooks.Rule("test.add", after="ann.delete.publish"),
        hooks.Rule("ann.delete.publish", after="test.added"),
    ), hooks.background(
        lambda: ann.ann_index_delete(
            spark.createDataFrame([(0,)], "vec_id long"), base
        )
    ) as delete:
        # the racing add: id 0's negated embedding — nearest centroid
        # is the OTHER side, and add_batch's cluster-pruned
        # insert-if-absent probe never sees the stored (0, c+) row
        hooks.point("test.add")
        ann.ann_index_add_batch(_negated(emb, 0), base)
        hooks.point("test.added")

    codes = ann.read_ann_codes(spark, base)
    # the doomed id is gone from EVERY cluster (stale pair + the moved
    # row the re-resolve found), bystanders untouched
    assert codes.filter(F.col("vec_id") == 0).count() == 0
    assert codes.count() == 19
    assert delete.result == 2  # attempt-0 stale pair + repaired moved row


def test_ann_delete_caller_pairs_stale_token_reresolves(spark, tmp_path):
    """The upsert-scan arm of the same contract: a caller that resolved
    (vec_id, cluster) pairs ITSELF (ann_index_upsert's matched-row
    scan) passes the merge-epoch fingerprint it read before that scan;
    an add_batch landing after the scan makes the token stale and the
    delete must ignore the caller's pairs, re-resolve, and sweep the
    row the racer inserted. Pairs WITHOUT a token are only a hint —
    the delete re-resolves in-window regardless."""
    from wcdimportbot_spark.operators import ann_store as ann

    base = str(tmp_path / "ann")
    emb = _ann_two_sided(spark)
    ann.ann_index_build(emb, base, num_clusters=2, m=2, n_codes=4)

    # caller's scan (the upsert's matched-row resolve), token first
    m0 = ann.ann_merge_epoch(base)
    pairs = (
        ann.read_ann_codes(spark, base)
        .filter(F.col("vec_id") == 0)
        .select("vec_id", "cluster")
        .localCheckpoint(eager=True)
    )
    # racing add lands AFTER the scan: id 0 moved to the other cluster
    ann.ann_index_add_batch(_negated(emb, 0), base)
    assert ann.ann_merge_epoch(base) != m0  # the bump is visible

    n = ann.ann_index_delete(pairs, base, merge_epoch0=m0)
    codes = ann.read_ann_codes(spark, base)
    assert codes.filter(F.col("vec_id") == 0).count() == 0
    assert codes.count() == 19
    assert n == 2  # caller's stale pair + the re-resolved moved row


def test_ann_delete_caller_pairs_with_duplicates_counts_exactly(
    spark, tmp_path
):
    """Caller-supplied (vec_id, cluster) pairs are not deduplicated by
    anything upstream: a repeated row must not inflate the deleted
    count (the engine's broadcast-side distinct stays on)."""
    from wcdimportbot_spark.operators import ann_store as ann

    base = str(tmp_path / "ann")
    ann.ann_index_build(
        _ann_two_sided(spark), base, num_clusters=2, m=2, n_codes=4
    )
    m0 = ann.ann_merge_epoch(base)
    pairs = (
        ann.read_ann_codes(spark, base)
        .filter(F.col("vec_id").isin(0, 1, 100))
        .select("vec_id", "cluster")
    )
    dup_pairs = pairs.unionAll(pairs).localCheckpoint(eager=True)
    assert dup_pairs.count() == 6
    assert ann.ann_index_delete(dup_pairs, base, merge_epoch0=m0) == 3
    assert ann.read_ann_codes(spark, base).count() == 17


def test_ann_add_batch_straddled_by_delete_converges_serial(
    spark, tmp_path
):
    """Merge-side detection (the containment direction): a delete runs
    ENTIRELY inside one add_batch's bracketed window. The add's
    post-window check must see the delete-epoch bump and re-assert its
    idempotent merge — converging on the delete→merge serial order:
    batch ids the delete swept or predated end up present, ids only
    the delete named stay gone."""
    from wcdimportbot_spark.operators import ann_store as ann
    from wcdimportbot_spark.operators import hooks

    base = str(tmp_path / "ann")
    emb = _ann_two_sided(spark)
    ann.ann_index_build(emb, base, num_clusters=2, m=2, n_codes=4)

    batch = spark.createDataFrame(
        [(20, [14.0, 1.0, 0.0, 0.0]), (21, [-14.0, -1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    # inside the add's epoch window, BEFORE its probe/publish: the add
    # holds there while the full delete runs
    with hooks.schedule(
        hooks.Rule("test.delete", after="ann.add.merge"),
        hooks.Rule("ann.add.merge", after="test.deleted"),
    ) as sched, hooks.background(
        lambda: ann.ann_index_add_batch(batch, base)
    ):
        # full delete INSIDE the add's window: one stored bystander id
        # (5) plus one batch id (20, not yet published — swallowed)
        hooks.point("test.delete")
        ann.ann_index_delete(
            spark.createDataFrame([(5,), (20,)], "vec_id long"), base
        )
        hooks.point("test.deleted")

    # detection fired: the post-window check re-ran the merge
    assert sched.hits["ann.add.merge"] >= 2
    codes = ann.read_ann_codes(spark, base)
    # delete→merge serial: batch ids present (20 re-asserted), the
    # delete-only id permanently gone, no duplicate rows anywhere
    assert codes.filter(F.col("vec_id") == 20).count() == 1
    assert codes.filter(F.col("vec_id") == 21).count() == 1
    assert codes.filter(F.col("vec_id") == 5).count() == 0
    assert codes.count() == 21  # 20 built − 1 deleted + 2 added
    assert (
        codes.groupBy("vec_id").count().filter("count > 1").count() == 0
    )


@pytest.mark.slow
def test_ann_merge_vs_delete_threaded_stress(spark, tmp_path):
    """Unsynchronized add_batch vs delete on one codes store: whatever
    the scheduler picks, the final state is one of the two serial
    orders per contested id (present exactly once, or absent), never a
    duplicate row, and bystanders stay intact."""
    from wcdimportbot_spark.operators import ann_store as ann

    for rnd, stagger in enumerate((0.0, 0.2)):
        base = str(tmp_path / f"ann{rnd}")
        emb = _ann_two_sided(spark)
        ann.ann_index_build(emb, base, num_clusters=2, m=2, n_codes=4)
        errs = []

        def run_add():
            try:
                ann.ann_index_add_batch(_negated(emb, 0), base)
            except Exception as e:
                errs.append(e)

        def run_delete():
            try:
                time.sleep(stagger)
                ann.ann_index_delete(
                    spark.createDataFrame([(0,)], "vec_id long"), base
                )
            except Exception as e:
                errs.append(e)

        t1 = threading.Thread(target=run_add)
        t2 = threading.Thread(target=run_delete)
        t1.start()
        t2.start()
        t1.join(300)
        t2.join(300)
        assert not t1.is_alive() and not t2.is_alive()
        assert not errs, errs
        codes = ann.read_ann_codes(spark, base)
        assert codes.filter(F.col("vec_id") == 0).count() <= 1
        assert codes.filter(F.col("vec_id") != 0).count() == 19
        assert (
            codes.groupBy("vec_id").count().filter("count > 1").count()
            == 0
        )


@pytest.mark.slow
def test_ann_merge_vs_delete_optimistic_stress(spark, tmp_path):
    """The lock-free (cross-host) form of the same contract: under
    protocol="optimistic" both writers commit through the rename
    arbiter instead of the writer lock, but the delete's resolve still
    happens OUTSIDE any serialization — the epoch bracket is what
    converges the pair. Same serializability asserts as the locked
    stress."""
    from wcdimportbot_spark.operators import ann_store as ann

    for rnd, stagger in enumerate((0.0, 0.2)):
        base = str(tmp_path / f"annopt{rnd}")
        emb = _ann_two_sided(spark)
        ann.ann_index_build(
            emb, base, num_clusters=2, m=2, n_codes=4,
            protocol="optimistic",
        )
        errs = []

        def run_add():
            try:
                ann.ann_index_add_batch(
                    _negated(emb, 0), base, protocol="optimistic"
                )
            except Exception as e:
                errs.append(e)

        def run_delete():
            try:
                time.sleep(stagger)
                ann.ann_index_delete(
                    spark.createDataFrame([(0,)], "vec_id long"),
                    base,
                    protocol="optimistic",
                )
            except Exception as e:
                errs.append(e)

        t1 = threading.Thread(target=run_add)
        t2 = threading.Thread(target=run_delete)
        t1.start()
        t2.start()
        t1.join(300)
        t2.join(300)
        assert not t1.is_alive() and not t2.is_alive()
        assert not errs, errs
        codes = ann.read_ann_codes(spark, base)
        assert codes.filter(F.col("vec_id") == 0).count() <= 1
        assert codes.filter(F.col("vec_id") != 0).count() == 19
        assert (
            codes.groupBy("vec_id").count().filter("count > 1").count()
            == 0
        )
