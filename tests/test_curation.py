"""Corpus-curation operators (operators/curation.py): decontamination,
duplicate clustering via connected components, stratified mixture
sampling, heavy n-grams."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_word_ngrams_edges(spark):
    from wcdimportbot_spark.operators.curation import word_ngrams

    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",), ("one",)], "text string"
    ).select(word_ngrams(F.col("text"), 3).alias("g"))
    got = [r["g"] for r in df.collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == []  # fewer than n tokens
    assert got[2] == []
    assert got[3] == []


def test_decontaminate_flags_overlap(spark):
    from wcdimportbot_spark.operators.curation import decontaminate

    eval_docs = _docs(spark, [(100, "the quick brown fox jumps", "en")])
    train = _docs(
        spark,
        [
            # shares "the quick brown" + "quick brown fox" -> 2 hits / 3 grams
            (1, "the quick brown fox sleeps", "en"),
            # no shared trigram
            (2, "lazy dogs sleep all day long", "en"),
            # exact copy of the eval doc -> ratio 1.0
            (3, "the quick brown fox jumps", "en"),
        ],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in decontaminate(train, eval_docs, n=3, flag_ratio=0.5).collect()
    }
    assert set(out) == {1, 3}  # doc 2 has zero hits -> absent
    assert out[1]["n_hits"] == 2 and out[1]["n_grams"] == 3
    assert out[1]["contaminated"] is True  # 0.6667 >= 0.5
    assert out[3]["overlap_ratio"] == 1.0 and out[3]["contaminated"] is True


def test_connected_components_chain_and_islands(spark):
    """A chain (non-transitive similarity) collapses to one cluster; a
    disjoint pair stays its own cluster; min id becomes the label."""
    from wcdimportbot_spark.operators.curation import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == {
        1: (1, 4),
        2: (1, 4),
        3: (1, 4),
        4: (1, 4),
        10: (10, 2),
        11: (10, 2),
    }


def test_connected_components_converges_on_deep_chain(spark):
    """Label propagation needs diameter rounds — a 12-node chain exercises
    the loop beyond one or two iterations and the convergence early-exit."""
    from wcdimportbot_spark.operators.curation import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    labels = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert set(labels.values()) == {0}
    assert len(labels) == 13


def test_mixture_sample_deterministic_and_budgeted(spark):
    from wcdimportbot_spark.operators.curation import mixture_sample

    rows = [(i, " ".join(["tok"] * (5 + i % 3)), "en" if i % 2 else "de") for i in range(40)]
    docs = _docs(spark, rows)
    a = {r["lang"]: r.asDict() for r in mixture_sample(docs, 30).collect()}
    # same rows, different physical layout -> identical sample
    b = {
        r["lang"]: r.asDict()
        for r in mixture_sample(docs.repartition(7, "doc_id"), 30).collect()
    }
    assert a == b
    for lang, row in a.items():
        assert row["n_tokens_selected"] <= 30
        assert row["n_docs_selected"] < row["n_docs_total"]  # budget binds
        assert 0.0 < row["utilization"] <= 1.0


def test_heavy_ngrams_df_counts_docs_not_occurrences(spark):
    from wcdimportbot_spark.operators.curation import heavy_ngrams

    docs = _docs(
        spark,
        [
            (1, "generated by acme generated by acme", "en"),  # gram twice, df 1
            (2, "generated by acme", "en"),
            (3, "something else entirely here", "en"),
        ],
    )
    out = heavy_ngrams(docs, n=3, k=2).collect()
    assert out[0]["gram"] == "generated by acme"
    assert out[0]["df"] == 2  # document frequency, not occurrence count
    assert out[0]["rank"] == 1
    assert len(out) == 2


def test_connected_components_strict_nonconvergence(spark):
    """Hitting max_iter without convergence must raise, not return a
    silently-wrong refinement; strict=False accepts it."""
    import pytest

    from wcdimportbot_spark.operators.curation import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=3).collect()
    labels = connected_components(pairs, max_iter=3, strict=False).collect()
    assert len(labels) == 31  # refinement still covers every node


def test_connected_components_matches_union_find_on_random_graphs(spark):
    """Randomized (seeded) graphs: label propagation must agree with a
    reference union-find on every node."""
    import random

    def union_find_components(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min node id per component
        comp = {}
        for n in nodes:
            r = find(n)
            comp.setdefault(r, []).append(n)
        return {n: min(members) for members in comp.values() for n in members}

    from wcdimportbot_spark.operators.curation import connected_components

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n_nodes = rng.randint(10, 60)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n_nodes), 2)))
                for _ in range(rng.randint(5, 80))
            }
        )
        nodes = sorted({x for e in edges for x in e})
        expected = union_find_components(edges, nodes)
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()
        }
        assert got == expected, f"seed {seed}"


def test_connected_components_float_ids_use_join_count_probe(spark):
    """Non-integral node ids must not go through the decimal label-sum
    probe (per-row rounding could mask a sub-unit label decrease and
    declare convergence early): double ids fall back to the changed-row
    join-count and still converge to the right clustering."""
    from wcdimportbot_spark.operators.curation import connected_components

    pairs = spark.createDataFrame(
        [(1.25, 2.5), (2.5, 3.75), (10.1, 11.9)], "doc_a double, doc_b double"
    )
    labels = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert labels == {1.25: 1.25, 2.5: 1.25, 3.75: 1.25, 10.1: 10.1, 11.9: 10.1}


def test_star_cc_matches_union_find_and_minlabel(spark):
    """The large-star/small-star algorithm must agree with union-find
    (and hence with min-label) on seeded random graphs."""
    import random

    from wcdimportbot_spark.operators.curation import (
        connected_components,
        connected_components_star,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        n_nodes = rng.randint(10, 60)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n_nodes), 2)))
                for _ in range(rng.randint(5, 80))
            }
        )
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        star = {
            r["node"]: r["cluster_id"]
            for r in connected_components_star(pairs).collect()
        }
        minlabel = {
            r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()
        }
        assert star == minlabel, f"seed {seed}"


@pytest.mark.slow
def test_star_cc_deep_path_beats_minlabel_budget(spark):
    """The scale claim itself: a 100-edge path (diameter 100) converges
    under the star algorithm within a LOG-scale round budget where
    min-label propagation provably cannot (it needs ~diameter rounds) —
    the chain-shaped duplicate cluster case from the round-6 audit."""
    import pytest

    from wcdimportbot_spark.operators.curation import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=10).collect()
    labels = {
        r["node"]: r["cluster_id"]
        for r in connected_components_star(pairs, max_iter=10).collect()
    }
    assert set(labels.values()) == {0}
    assert len(labels) == 101


def test_star_cc_strict_nonconvergence(spark):
    """max_iter=1 on a long path cannot reach the fixpoint: strict mode
    must raise, strict=False returns the (covering) refinement."""
    import pytest

    from wcdimportbot_spark.operators.curation import connected_components_star

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(pairs, max_iter=1).collect()
    labels = connected_components_star(pairs, max_iter=1, strict=False).collect()
    assert {r["node"] for r in labels} == set(range(61))


def test_connected_components_rejects_nonpositive_max_iter(spark):
    import pytest
    from wcdimportbot_spark.operators.curation import connected_components

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(pairs, max_iter=0)


def test_star_cc_keeps_self_pair_only_nodes(spark):
    """ADVICE r7: a node appearing ONLY as a self-pair (a == b) has no
    canonical edge, but the output contract (and the recursive-CTE
    oracle, and min-label CC) keeps it as its own singleton cluster —
    the star variant must not drop it."""
    from wcdimportbot_spark.operators.curation import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (5, 5)], "doc_a long, doc_b long"
    )
    star = {
        (r["node"], r["cluster_id"])
        for r in connected_components_star(pairs).collect()
    }
    minlabel = {
        (r["node"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    assert star == minlabel == {(1, 1), (2, 1), (5, 5)}


def test_perplexity_tercile_buckets(spark, sf_dir):
    """CCNet head/middle/tail: buckets are ~n/3 each and strictly ordered
    by perplexity (max(head) <= min(middle) <= ... via the thresholds)."""
    from wcdimportbot_spark.operators.text_analysis import perplexity_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = perplexity_buckets(docs).collect()
    by = {}
    for r in rows:
        by.setdefault(r["ppl_bucket"], []).append(r["perplexity"])
    assert set(by) == {"head", "middle", "tail"}
    n = len(rows)
    for vals in by.values():
        assert abs(len(vals) - n / 3) <= n * 0.05 + 2  # near-terciles
    # bucket order respects perplexity: only boundary TIES may overlap
    assert max(by["head"]) <= min(by["middle"]) + 1e-9
    assert max(by["middle"]) <= min(by["tail"]) + 1e-9
    assert max(by["head"]) <= min(by["tail"])


def test_perplexity_sketch_thresholds_match_exact(spark, sf_dir):
    """r8 verdict #1 — the production KLL-sketch thresholds vs the exact
    percentile twin: the rank contract holds (sketch_rank_ok all-true in
    contract mode), and the sketch-mode bucket assignment agrees with
    exact-mode on ~all docs (divergence bounded by the rank tolerance —
    only boundary docs can flip)."""
    from wcdimportbot_spark.operators.text_analysis import perplexity_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    contract = perplexity_buckets(docs, sketch_contract=True).collect()
    assert contract and all(r["sketch_rank_ok"] for r in contract)
    exact_by_id = {r["doc_id"]: r["ppl_bucket"] for r in contract}

    sketch = perplexity_buckets(docs, threshold_mode="sketch").collect()
    n = len(sketch)
    diverged = sum(
        1 for r in sketch if r["ppl_bucket"] != exact_by_id[r["doc_id"]]
    )
    # a rank wobble of <= 3% per threshold can flip at most ~6% of docs
    assert diverged <= max(2, int(0.06 * n)), (diverged, n)


def test_purge_documents_forgets_and_reingest_accepted(spark, tmp_path):
    """r11 verdict Next #1 — the composed purge: corpus rows, dedup-index
    hash AND band fingerprints all leave under one two-phase marker;
    re-ingesting the purged content is ACCEPTED back (the reference's
    delete -> re-import contract, crud/delete.py:44-61 lifted to the LLM
    stores); purge-twice is swallowed; a crash inside the window leaves
    the pending marker and a REPLAY converges."""
    import pytest
    from pyspark.sql import functions as F

    from wcdimportbot_spark.operators import versioned
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    t_a = "the quick brown fox jumps over the lazy dog near the river bank"
    t_b = ("Completely different words are written about the spark "
           "catalyst optimizer plans and how they work in practice.")
    docs = spark.createDataFrame([(1, t_a), (2, t_b)], schema)
    ann = {r["doc_id"]: r for r in cn.curate_increment(docs, base).collect()}
    assert ann[1]["kept"] and ann[2]["kept"]

    res = cn.purge_documents(
        spark, spark.createDataFrame([(1,)], "doc_id long"), base
    )
    assert res == {
        "corpus_deleted": 1,
        "hashes_deleted": 1,
        "bands_deleted": 4,
        "ann_deleted": 0,
        "items_deleted": 0,
        "claims_deleted": 0,
        "cache_deleted": 0,
        "outputs_deleted": 0,
        "history_expired": 0,
    }
    assert cn.purge_state(base)["status"] == "committed"
    corpus = cn.read_curated_corpus(spark, base)
    assert [r["doc_id"] for r in corpus.collect()] == [2]

    # purge-twice swallowed, marker not churned to pending
    v = versioned.current_version(cn._corpus_path(base))
    res2 = cn.purge_documents(
        spark, spark.createDataFrame([(1,)], "doc_id long"), base
    )
    assert res2["corpus_deleted"] == 0 and res2["hashes_deleted"] == 0
    assert versioned.current_version(cn._corpus_path(base)) == v

    # re-ingest of the purged content is accepted back as fresh
    ann2 = {
        r["doc_id"]: r
        for r in cn.curate_increment(
            spark.createDataFrame([(10, t_a)], schema), base
        ).collect()
    }
    assert ann2[10]["kept"] and not ann2[10]["dup_of_history"]
    assert sorted(
        r["doc_id"] for r in cn.read_curated_corpus(spark, base).collect()
    ) == [2, 10]

    # crash INSIDE the window (after corpus delete, before index delete):
    # pending marker survives; replay converges
    import wcdimportbot_spark.operators.text_dedup as td

    real = td.dedup_index_delete

    def boom(*a, **k):
        raise RuntimeError("killed mid-purge")

    orig = cn.purge_documents.__globals__  # module namespace
    try:
        import unittest.mock as mock

        with mock.patch.object(td, "dedup_index_delete", boom):
            with pytest.raises(RuntimeError, match="killed mid-purge"):
                cn.purge_documents(
                    spark, spark.createDataFrame([(10,)], "doc_id long"), base
                )
        assert cn.purge_state(base)["status"] == "pending"
        # corpus half landed, index half did not: the content is still
        # "history" to the index until the replay below
        assert cn.read_curated_corpus(spark, base).filter(
            F.col("doc_id") == 10
        ).count() == 0
        # while the crashed purge is pending, an UNRELATED purge must
        # not clobber its marker (the recorded id->hash resolution is
        # the only copy — the corpus rows are gone)
        with pytest.raises(RuntimeError, match="crashed purge is pending"):
            cn.purge_documents(
                spark, spark.createDataFrame([(2,)], "doc_id long"), base
            )
        # replay with the SAME id input: the marker recorded the
        # id->hash resolution while the corpus rows still existed, so
        # the replay inherits it even though an id lookup now finds
        # nothing — and the index finally forgets
        h = ann2[10]["text_hash"]
        marker = cn.purge_state(base)
        assert marker["doomed_hashes"] == [h]
        res3 = cn.purge_documents(
            spark, spark.createDataFrame([(10,)], "doc_id long"), base
        )
        assert res3["hashes_deleted"] == 1 and res3["bands_deleted"] == 4
        assert cn.purge_state(base)["status"] == "committed"
    finally:
        assert td.dedup_index_delete is real
    # after replay the content can re-enter once more
    ann3 = {
        r["doc_id"]: r
        for r in cn.curate_increment(
            spark.createDataFrame([(20, t_a)], schema), base
        ).collect()
    }
    assert ann3[20]["kept"] and not ann3[20]["dup_of_history"]


def test_curate_refresh_replaces_changed_docs(spark, tmp_path):
    """r11 verdict Next #2 — re-crawl refresh: a re-sent doc_id with
    CHANGED text replaces its old corpus row (no version accumulation),
    its old index fingerprints leave, unchanged re-sends stay no-ops,
    and brand-new docs insert normally."""
    from pyspark.sql import functions as F

    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    t1 = "the quick brown fox jumps over the lazy dog near the river bank"
    t2 = ("Completely different words are written about the spark "
          "catalyst optimizer plans and how they work in practice.")
    t1_edit = "the quick brown fox jumps over the lazy dog near the river bank today"
    t3 = ("Brand new content about adaptive query execution and the "
          "skew joins that it fixes in practice for everyone.")
    cn.curate_increment(spark.createDataFrame([(1, t1), (2, t2)], schema), base)

    ann = {
        r["doc_id"]: r
        for r in cn.curate_refresh(
            spark.createDataFrame(
                [(1, t1_edit), (2, t2), (3, t3)], schema
            ),
            base,
        ).collect()
    }
    assert ann[1]["refreshed"] and ann[1]["kept"]  # replaced
    assert not ann[2]["refreshed"] and ann[2]["dup_of_history"]  # unchanged
    assert not ann[3]["refreshed"] and ann[3]["kept"]  # plain insert

    corpus = {r["doc_id"]: r for r in cn.read_curated_corpus(spark, base).collect()}
    assert sorted(corpus) == [1, 2, 3]  # exactly one row per doc, LATEST
    assert corpus[1]["text_hash"] == ann[1]["text_hash"]

    # the OLD version's content genuinely left every store: re-sending
    # it as a new doc is fresh (the index forgot t1)
    ann2 = {
        r["doc_id"]: r
        for r in cn.curate_increment(
            spark.createDataFrame([(9, t1)], schema), base
        ).collect()
    }
    assert not ann2[9]["dup_of_history"]

    # refresh replay: same refresh batch again is a corpus no-op
    from wcdimportbot_spark.operators import versioned

    v = versioned.current_version(cn._corpus_path(base))
    ann3 = {
        r["doc_id"]: r
        for r in cn.curate_refresh(
            spark.createDataFrame([(1, t1_edit), (2, t2)], schema), base
        ).collect()
    }
    assert not ann3[1]["refreshed"] and ann3[1]["dup_of_history"]
    assert versioned.current_version(cn._corpus_path(base)) == v


def test_purge_documents_propagates_to_ann_store(spark, tmp_path):
    """The purge's optional ANN arm: doomed vec_ids leave the codes
    store inside the same two-phase marker window, and a probe can
    never serve them afterward."""
    from pyspark.sql import functions as F

    from wcdimportbot_spark.operators.ann_store import (
        ann_index_build,
        read_ann_codes,
    )
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    ann_base = str(tmp_path / "ann")
    schema = "doc_id long, text string"
    t_a = "the quick brown fox jumps over the lazy dog near the river bank"
    cn.curate_increment(spark.createDataFrame([(1, t_a)], schema), base)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(128)
    ann_index_build(emb, ann_base)

    doomed_vecs = emb.filter(F.col("vec_id") % 4 == 1).select("vec_id")
    res = cn.purge_documents(
        spark,
        spark.createDataFrame([(1,)], "doc_id long"),
        base,
        ann_path=ann_base,
        ann_vec_ids=doomed_vecs,
    )
    assert res["corpus_deleted"] == 1 and res["hashes_deleted"] == 1
    assert res["ann_deleted"] == doomed_vecs.count()
    assert cn.purge_state(base)["status"] == "committed"
    assert (
        read_ann_codes(spark, ann_base)
        .join(F.broadcast(doomed_vecs), "vec_id", "left_semi")
        .count()
        == 0
    )
    # ANN-only purge (no corpus hashes left): still runs under the marker
    # — and with vacuum=True the CODES store's pre-delete snapshot (the
    # one still holding the doomed vectors' bytes) expires too
    import os

    from wcdimportbot_spark.operators import versioned

    codes = os.path.join(ann_base, "codes")
    assert len(versioned.list_versions(codes)) > 1
    res2 = cn.purge_documents(
        spark,
        spark.createDataFrame([(1,)], "doc_id long"),
        base,
        ann_path=ann_base,
        ann_vec_ids=doomed_vecs,
        vacuum=True,
    )
    assert res2["ann_deleted"] == 0 and res2["corpus_deleted"] == 0
    assert res2["history_expired"] >= 1
    assert len(versioned.list_versions(codes)) == 1
    # the model store is deliberately NOT vacuumed (trained artifact)
    assert len(versioned.list_versions(os.path.join(ann_base, "model"))) >= 1


def test_purge_documents_propagates_to_graph_stores(spark, tmp_path):
    """The purge's optional graph arm: the doomed docs' ITEM hashes leave
    the items, claims, and cache stores (the reference's delete→cache
    flush contract, crud/delete.py:44-61 + src/__init__.py:181) inside
    the same two-phase marker window — a purged page's references can be
    re-imported afterward."""
    from pyspark.sql import functions as F

    from wcdimportbot_spark.operators import cache as cache_ops
    from wcdimportbot_spark.operators import sinks
    from wcdimportbot_spark.plans import curation_nightly as cn
    from wcdimportbot_spark.plans.store_import import store_paths

    base = str(tmp_path / "cur")
    gstore = str(tmp_path / "graph")
    gpaths = store_paths(gstore)
    schema = "doc_id long, text string"
    t_a = "the quick brown fox jumps over the lazy dog near the river bank"
    cn.curate_increment(spark.createDataFrame([(1, t_a)], schema), base)

    items = spark.createDataFrame(
        [(f"Q{i}", "WIKIPEDIA_REFERENCE", f"r{i}", "d", f"hash{i}") for i in range(4)],
        "qid string, instance_of string, label string, description string, hash string",
    )
    sinks.write_items(items, gpaths["items"])
    claims = spark.createDataFrame(
        [(f"Q{i}", p, f"v{i}", None) for i in range(4) for p in ("TITLE", "HASH")],
        "subject_qid string, property string, value_string string, value_qid string",
    )
    sinks.write_claims(claims, gpaths["claims"])
    cache_ops.write_cache(
        spark.createDataFrame(
            [(f"hash{i}", f"Q{i}") for i in range(4)], "hash string, qid string"
        ),
        gpaths["cache"],
    )

    # hash-only relation: the claim subjects come from the items lookup
    doomed = spark.createDataFrame([("hash1",), ("hash2",)], "hash string")
    res = cn.purge_documents(
        spark,
        spark.createDataFrame([(1,)], "doc_id long"),
        base,
        graph_store=gstore,
        item_hashes=doomed,
    )
    assert res["corpus_deleted"] == 1 and res["hashes_deleted"] == 1
    assert res["items_deleted"] == 2
    assert res["claims_deleted"] == 4  # 2 subjects x 2 properties
    assert res["cache_deleted"] == 2
    assert cn.purge_state(base)["status"] == "committed"
    left_items = sinks.read_items(spark, gpaths["items"])
    assert set(r["qid"] for r in left_items.select("qid").collect()) == {"Q0", "Q3"}
    assert (
        sinks.read_claims(spark, gpaths["claims"])
        .filter(F.col("subject_qid").isin("Q1", "Q2"))
        .count()
        == 0
    )
    assert (
        cache_ops.read_cache(spark, gpaths["cache"])
        .join(F.broadcast(doomed), "hash", "left_semi")
        .count()
        == 0
    )

    # purge-twice: swallowed across every graph store
    res2 = cn.purge_documents(
        spark,
        spark.createDataFrame([(1,)], "doc_id long"),
        base,
        graph_store=gstore,
        item_hashes=doomed,
    )
    assert res2["items_deleted"] == 0
    assert res2["claims_deleted"] == 0
    assert res2["cache_deleted"] == 0

    # caller-supplied subject_qid skips the items lookup (the
    # crash-replayable form) and still prunes the claims store
    res3 = cn.purge_documents(
        spark,
        spark.createDataFrame([(99,)], "doc_id long"),  # no corpus row
        base,
        graph_store=gstore,
        item_hashes=spark.createDataFrame(
            [("hash3", "Q3")], "hash string, subject_qid string"
        ),
    )
    assert res3["items_deleted"] == 1 and res3["claims_deleted"] == 2
    assert res3["cache_deleted"] == 1
    assert set(
        r["qid"]
        for r in sinks.read_items(spark, gpaths["items"]).select("qid").collect()
    ) == {"Q0"}


def test_purge_graph_arm_crash_replay_converges(spark, tmp_path):
    """Crash BETWEEN the index arm and the graph arm: the pending marker
    survives recording the requested arm set; replaying with the SAME
    args (hash + subject_qid — the crash-replayable form) converges:
    index deletes swallow, the graph rows leave, marker commits."""
    import unittest.mock as mock

    import pytest
    from pyspark.sql import functions as F

    from wcdimportbot_spark.operators import cache as cache_ops
    from wcdimportbot_spark.operators import sinks
    from wcdimportbot_spark.plans import curation_nightly as cn
    from wcdimportbot_spark.plans.store_import import store_paths

    base = str(tmp_path / "cur")
    gstore = str(tmp_path / "graph")
    gpaths = store_paths(gstore)
    schema = "doc_id long, text string"
    t_a = "the quick brown fox jumps over the lazy dog near the river bank"
    ann1 = {r["doc_id"]: r for r in cn.curate_increment(
        spark.createDataFrame([(1, t_a)], schema), base).collect()}
    sinks.write_items(
        spark.createDataFrame(
            [("Q1", "WIKIPEDIA_REFERENCE", "r1", "d", "ihash1")],
            "qid string, instance_of string, label string, description string, hash string",
        ),
        gpaths["items"],
    )
    cache_ops.write_cache(
        spark.createDataFrame([("ihash1", "Q1")], "hash string, qid string"),
        gpaths["cache"],
    )
    item_rel = spark.createDataFrame(
        [("ihash1", "Q1")], "hash string, subject_qid string"
    )

    from wcdimportbot_spark.operators import ann_store

    # the graph arm runs after the ANN arm; crash there by making the
    # graph store's items delete blow up
    real = sinks.merge_delete_items
    with mock.patch.object(
        sinks, "merge_delete_items", side_effect=RuntimeError("killed")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            cn.purge_documents(
                spark,
                spark.createDataFrame([(1,)], "doc_id long"),
                base,
                graph_store=gstore,
                item_hashes=item_rel,
            )
    state = cn.purge_state(base)
    assert state["status"] == "pending"
    assert state["arms"] == ["corpus", "index", "graph"]
    # corpus/index halves landed; the graph rows are still there
    assert sinks.read_items(spark, gpaths["items"]).count() == 1

    # replay with the SAME args: corpus/index deletes swallow (rows
    # already gone), graph rows leave, marker commits with the arm set
    h = ann1[1]["text_hash"]
    res = cn.purge_documents(
        spark,
        spark.createDataFrame([(h,)], "text_hash string"),
        base,
        graph_store=gstore,
        item_hashes=item_rel,
    )
    assert sinks.merge_delete_items is real
    assert res["corpus_deleted"] == 0 and res["hashes_deleted"] == 0
    # the items delete was the crashed one — the replay must report it.
    # The graph arm's three deletes run CONCURRENTLY (r16): the cache
    # delete may have completed during the crashed attempt (then the
    # replay's is a swallowed 0) or crashed with it (then 1) — the
    # contract is the converged STATE, pinned below, not which attempt
    # got the count.
    assert res["items_deleted"] == 1 and res["cache_deleted"] in (0, 1)
    assert res["claims_deleted"] == 0  # no claims store bootstrapped
    state = cn.purge_state(base)
    assert state["status"] == "committed"
    assert state["arms"] == ["corpus", "index", "graph"]
    # the lone item was the store's only row: its partition vanished
    # with it, leaving an empty (but valid) published snapshot
    assert not sinks.has_parquet_data(gpaths["items"])
    assert (
        cache_ops.read_cache(spark, gpaths["cache"])
        .filter(F.col("hash") == "ihash1")
        .count()
        == 0
    )


def _crash_graph_purge_after_items(spark, tmp_path):
    """A hash-only graph purge of ihash1 (subject Q1; Q2 stays) that
    crashes AFTER the items delete removed the hash→qid lookup source.
    Returns ``(base, gstore, replay)``; ``replay()`` re-runs the purge
    with the same hash-only args."""
    import unittest.mock as mock

    import pytest

    from wcdimportbot_spark.operators import cache as cache_ops
    from wcdimportbot_spark.operators import sinks
    from wcdimportbot_spark.plans import curation_nightly as cn
    from wcdimportbot_spark.plans.store_import import store_paths

    base = str(tmp_path / "cur")
    gstore = str(tmp_path / "graph")
    gpaths = store_paths(gstore)
    t_a = "the quick brown fox jumps over the lazy dog near the river bank"
    cn.curate_increment(
        spark.createDataFrame([(1, t_a)], "doc_id long, text string"), base
    )
    sinks.write_items(
        spark.createDataFrame(
            [
                ("Q1", "WIKIPEDIA_REFERENCE", "r1", "d", "ihash1"),
                ("Q2", "WIKIPEDIA_REFERENCE", "r2", "d", "ihash2"),
            ],
            "qid string, instance_of string, label string, description string, hash string",
        ),
        gpaths["items"],
    )
    sinks.write_claims(
        spark.createDataFrame(
            [("Q1", "TITLE", "t", None), ("Q2", "TITLE", "t", None)],
            "subject_qid string, property string, value_string string, value_qid string",
        ),
        gpaths["claims"],
    )
    cache_ops.write_cache(
        spark.createDataFrame(
            [("ihash1", "Q1"), ("ihash2", "Q2")], "hash string, qid string"
        ),
        gpaths["cache"],
    )

    def replay():
        return cn.purge_documents(
            spark,
            spark.createDataFrame([(1,)], "doc_id long"),
            base,
            graph_store=gstore,
            item_hashes=spark.createDataFrame([("ihash1",)], "hash string"),
        )

    with mock.patch.object(
        sinks, "merge_delete_claims", side_effect=RuntimeError("killed")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            replay()
    assert cn.purge_state(base)["status"] == "pending"
    # the items row is gone — a lookup can no longer resolve Q1
    assert (
        sinks.read_items(spark, gpaths["items"])
        .filter("hash = 'ihash1'")
        .count()
        == 0
    )
    return base, gstore, replay


def _assert_only_q1_claims_purged(spark, base, gstore, res):
    from wcdimportbot_spark.operators import sinks
    from wcdimportbot_spark.plans import curation_nightly as cn
    from wcdimportbot_spark.plans.store_import import store_paths

    gpaths = store_paths(gstore)
    assert res["claims_deleted"] == 1
    assert cn.purge_state(base)["status"] == "committed"
    assert (
        sinks.read_claims(spark, gpaths["claims"])
        .filter("subject_qid = 'Q1'")
        .count()
        == 0
    )
    # Q2 untouched everywhere
    assert sinks.read_items(spark, gpaths["items"]).count() == 1
    assert (
        sinks.read_claims(spark, gpaths["claims"])
        .filter("subject_qid = 'Q2'")
        .count()
        == 1
    )


def test_purge_hash_only_replay_inherits_recorded_qids(spark, tmp_path):
    """The hash-only graph purge is crash-replayable THROUGH the marker:
    the pending marker records the resolved claim subjects (keyed by an
    item-hash digest), so a crash AFTER the items arm — which removes
    the hash→qid lookup source — still converges under a plain replay
    with the same hash-only args."""
    from wcdimportbot_spark.plans import curation_nightly as cn

    base, gstore, replay = _crash_graph_purge_after_items(spark, tmp_path)
    assert cn.purge_state(base)["graph_subject_qids"] == ["Q1"]
    # plain replay with the SAME hash-only args: qids inherited from
    # the marker, claims arm converges, marker commits
    _assert_only_q1_claims_purged(spark, base, gstore, replay())


def test_purge_graph_qids_spill_above_cap(spark, tmp_path, monkeypatch):
    """The recorded claim subjects ride the same cap-or-spill bound as
    every other marker record: above ``MARKER_HASHES_CAP`` they spill to
    a parquet relation the marker references instead of an inline
    list, and a hash-only replay after the items arm still converges
    from the spill alone."""
    import os

    from wcdimportbot_spark.plans import curation_nightly as cn

    monkeypatch.setattr(cn, "MARKER_HASHES_CAP", 0)
    base, gstore, replay = _crash_graph_purge_after_items(spark, tmp_path)
    marker = cn.purge_state(base)
    assert "graph_subject_qids" not in marker
    assert os.path.isdir(os.path.join(base, marker["graph_qids_spill"]))
    _assert_only_q1_claims_purged(spark, base, gstore, replay())
    assert not os.path.exists(os.path.join(base, "_PURGE_SPILL"))


def test_purge_vacuum_scrubs_retained_history(spark, tmp_path):
    """purge_documents(vacuum=True) — the privacy completion: without it
    the copy-on-write deletes leave the doomed rows READABLE in retained
    snapshots (time travel / rollback resurrect purged content) and
    their bytes on disk for RETAIN_SECS. With it, every touched store
    keeps exactly its current tree and a recursive disk scan of ALL
    remaining parquet finds no trace of the purged hash. The replay path
    (purge-twice with vacuum) converges a crash between a prior purge's
    committed marker and its vacuum."""
    import os

    from pyspark.sql import functions as F

    from wcdimportbot_spark.operators import sinks, versioned
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    t_a = "the quick brown fox jumps over the lazy dog near the river bank"
    t_b = ("Completely different words are written about the spark "
           "catalyst optimizer plans and how they work in practice.")
    docs = spark.createDataFrame([(1, t_a), (2, t_b)], schema)
    ann = {r["doc_id"]: r for r in cn.curate_increment(docs, base).collect()}
    h1 = ann[1]["text_hash"]

    stores = [
        cn._corpus_path(base),
        os.path.join(cn._index_path(base), "hashes"),
        os.path.join(cn._index_path(base), "bands"),
    ]

    def disk_scan_hits(store):
        return (
            spark.read.option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(store)
            .filter(F.col("text_hash") == h1)
            .count()
        )

    # 1) plain purge: current forgets, but HISTORY still remembers —
    # the doomed hash is readable via time travel and present on disk
    doomed = spark.createDataFrame([(1,)], "doc_id long")
    res = cn.purge_documents(spark, doomed, base)
    assert res["history_expired"] == 0
    cpath = stores[0]
    old = versioned.list_versions(cpath)[0]
    assert (
        sinks.read_snapshot(spark, cpath, version=old)
        .filter(F.col("text_hash") == h1)
        .count()
        == 1
    )
    assert disk_scan_hits(cpath) == 1

    # 2) replay with vacuum (the crash-between-marker-and-vacuum
    # remediation): history expires on every touched store
    res2 = cn.purge_documents(spark, doomed, base, vacuum=True)
    assert res2["corpus_deleted"] == 0  # swallowed
    assert res2["history_expired"] >= len(stores)
    # the swallow path deliberately writes no marker (no churn): the
    # first purge's committed marker survives
    assert cn.purge_state(base)["vacuum"] is False
    for store in stores:
        assert len(versioned.list_versions(store)) == 1, store
        assert disk_scan_hits(store) == 0, store
    # the untouched doc still serves
    assert [
        r["doc_id"] for r in cn.read_curated_corpus(spark, base).collect()
    ] == [2]

    # 3) one-shot purge with vacuum on a fresh doc: committed marker
    # records the scrub and nothing remains anywhere
    docs2 = spark.createDataFrame([(3, t_a + " extra tail")], schema)
    ann2 = {
        r["doc_id"]: r for r in cn.curate_increment(docs2, base).collect()
    }
    assert ann2[3]["kept"]
    res3 = cn.purge_documents(
        spark, spark.createDataFrame([(3,)], "doc_id long"), base, vacuum=True
    )
    assert res3["corpus_deleted"] == 1 and res3["history_expired"] >= len(stores)
    marker = cn.purge_state(base)
    assert marker["status"] == "committed" and marker["vacuum"] is True
    assert marker["history_expired"] >= 3
    h3 = ann2[3]["text_hash"]
    for store in stores:
        hits = (
            spark.read.option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(store)
            .filter(F.col("text_hash") == h3)
            .count()
        )
        assert hits == 0, store


def test_purge_output_partitions_scrubs_touched_batches(spark, tmp_path):
    """Gate-output scrub (purge boundary (a) made operable): only the
    batch_id partitions holding doomed rows are rewritten (untouched
    partition files survive on their original inodes), an all-doomed
    batch dir is removed outright, absent hashes are swallowed, and the
    composed purge sums the scrub into outputs_deleted."""
    import os

    from pyspark.sql import functions as F

    from wcdimportbot_spark.plans import curation_nightly as cn

    out = str(tmp_path / "fresh_out")
    rows = [
        # batch 0: one doomed + one kept -> rewritten
        (1, "hA", 0), (2, "hB", 0),
        # batch 1: untouched -> inode-pinned survival
        (3, "hC", 1), (4, "hD", 1),
        # batch 2: all doomed -> dir removed
        (5, "hA", 2), (6, "hE", 2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text_hash string, batch_id long")
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out)
    )

    def inodes(batch):
        d = os.path.join(out, f"batch_id={batch}")
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_b1 = inodes(1)
    doomed = spark.createDataFrame([("hA",), ("hE",)], "text_hash string")
    res = cn.purge_output_partitions(spark, doomed, out)
    assert res == {
        "rows_deleted": 3,
        "partitions_rewritten": 1,
        "partitions_removed": 1,
    }
    assert inodes(1) == before_b1  # untouched partition never rewritten
    assert not os.path.isdir(os.path.join(out, "batch_id=2"))
    left = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in left.collect()) == [2, 3, 4]
    assert left.filter(F.col("text_hash").isin("hA", "hE")).count() == 0

    # swallowed on replay / absent hashes
    res2 = cn.purge_output_partitions(spark, doomed, out)
    assert res2 == {
        "rows_deleted": 0,
        "partitions_rewritten": 0,
        "partitions_removed": 0,
    }
    # absent dir is a no-op too
    res3 = cn.purge_output_partitions(spark, doomed, str(tmp_path / "no"))
    assert res3["rows_deleted"] == 0


def test_purge_documents_outputs_arm(spark, tmp_path):
    """The composed purge reaches the gate outputs when their dirs are
    passed: outputs_deleted counts scrubbed rows and the marker records
    the outputs arm."""
    from pyspark.sql import functions as F

    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    t_a = "the quick brown fox jumps over the lazy dog near the river bank"
    t_b = ("Completely different words are written about the spark "
           "catalyst optimizer plans and how they work in practice.")
    docs = spark.createDataFrame([(1, t_a), (2, t_b)], schema)
    ann = {r["doc_id"]: r for r in cn.curate_increment(docs, base).collect()}

    out = str(tmp_path / "fresh_out")
    (
        spark.createDataFrame(
            [(1, ann[1]["text_hash"], 0), (2, ann[2]["text_hash"], 0)],
            "doc_id long, text_hash string, batch_id long",
        )
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(out)
    )
    res = cn.purge_documents(
        spark,
        spark.createDataFrame([(1,)], "doc_id long"),
        base,
        output_dirs=[out],
    )
    assert res["corpus_deleted"] == 1 and res["outputs_deleted"] == 1
    marker = cn.purge_state(base)
    assert marker["status"] == "committed" and "outputs" in marker["arms"]
    left = spark.read.parquet(out)
    assert [r["doc_id"] for r in left.collect()] == [2]


def test_curate_refresh_heals_own_crashed_purge(spark, tmp_path):
    """A refresh that crashes inside its internal purge (after the
    corpus arm deleted the stale rows, before the index forgot them)
    must converge on the NEXT refresh: the stale set is no longer
    re-derivable from the corpus, so the replay runs from the marker's
    recorded hash set — without it the marker wedges pending forever
    and the index keeps the old fingerprints."""
    import unittest.mock as mock

    import pytest
    from pyspark.sql import functions as F

    import wcdimportbot_spark.operators.text_dedup as td
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    v1 = "the quick brown fox jumps over the lazy dog near the river bank"
    v2 = ("the slow brown fox walks under the lazy dog far from the "
          "river bank tonight after dark")
    cn.curate_increment(spark.createDataFrame([(1, v1)], schema), base)

    batch2 = spark.createDataFrame([(1, v2)], schema)
    with mock.patch.object(
        td, "dedup_index_delete", side_effect=RuntimeError("killed")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            cn.curate_refresh(batch2, base)
    marker = cn.purge_state(base)
    assert marker["status"] == "pending"
    assert marker["arms"] == ["corpus", "index"]
    assert len(marker["doomed_hashes"]) == 1
    # the marker records WHICH doc this refresh was replacing and when
    # the window opened (running-vs-crashed discrimination for readers)
    assert marker["refresh_doc_ids"] == [1]
    assert marker["pending_ts"] > 0

    # replaying the refresh heals: marker commits, the index forgot v1,
    # the corpus holds exactly the latest version — and the RETRY's
    # annotation still reports refreshed=True for doc 1 (the heal, not
    # the stale computation, purged its old version; ANN callers key
    # their re-encode on this flag)
    ann = {r["doc_id"]: r for r in cn.curate_refresh(batch2, base).collect()}
    assert cn.purge_state(base)["status"] == "committed"
    assert ann[1]["kept"] and not ann[1]["dup_of_history"]
    assert ann[1]["refreshed"] is True
    corpus = {r["doc_id"]: r["text_hash"]
              for r in cn.read_curated_corpus(spark, base).collect()}
    import hashlib

    assert corpus == {1: hashlib.md5(v2.encode()).hexdigest()}
    # v1's content can re-enter (the index truly forgot it)
    ann3 = {
        r["doc_id"]: r
        for r in cn.curate_increment(
            spark.createDataFrame([(9, v1)], schema), base
        ).collect()
    }
    assert ann3[9]["kept"] and not ann3[9]["dup_of_history"]


def test_curate_refresh_heal_inherits_vacuum(spark, tmp_path):
    """Review-confirmed regression guard: a crashed vacuum=True privacy
    purge healed by the next refresh must KEEP its vacuum obligation —
    healing without it would flip the marker to committed with the
    doomed rows still readable in retained history."""
    import unittest.mock as mock

    import pytest
    from pyspark.sql import functions as F

    import wcdimportbot_spark.operators.text_dedup as td
    from wcdimportbot_spark.operators import versioned
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    t_a = "the quick brown fox jumps over the lazy dog near the river bank"
    t_b = ("Completely different words are written about the spark "
           "catalyst optimizer plans and how they work in practice.")
    cn.curate_increment(
        spark.createDataFrame([(1, t_a), (2, t_b)], schema), base
    )
    with mock.patch.object(
        td, "dedup_index_delete", side_effect=RuntimeError("killed")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            cn.purge_documents(
                spark,
                spark.createDataFrame([(1,)], "doc_id long"),
                base,
                vacuum=True,
            )
    assert cn.purge_state(base)["vacuum"] is True

    # a refresh batch that itself changes nothing: the heal is the only
    # purge work, and it must run WITH the recorded vacuum
    cn.curate_refresh(spark.createDataFrame([(2, t_b)], schema), base)
    marker = cn.purge_state(base)
    assert marker["status"] == "committed"
    assert marker["vacuum"] is True and marker["history_expired"] >= 1
    # history truly scrubbed on the touched stores
    assert len(versioned.list_versions(cn._corpus_path(base))) == 1


def test_purge_output_partitions_generic_key(spark, tmp_path):
    """The output scrub generalizes past text hashes: an ANN gate's
    accepted-ledger (vec_id-keyed, batch_id-partitioned) purges through
    the same engine via key_col — the doomed vectors' ledger rows leave,
    untouched batch partitions survive."""
    import os

    from pyspark.sql import functions as F

    from wcdimportbot_spark.plans import curation_nightly as cn

    out = str(tmp_path / "ledger")
    (
        spark.createDataFrame(
            [(101, 0), (102, 0), (103, 1), (104, 1)],
            "vec_id long, batch_id long",
        )
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(out)
    )
    b1 = os.path.join(out, "batch_id=1")
    before = {
        f: os.stat(os.path.join(b1, f)).st_ino
        for f in os.listdir(b1)
        if f.endswith(".parquet")
    }
    res = cn.purge_output_partitions(
        spark,
        spark.createDataFrame([(101,)], "vec_id long"),
        out,
        key_col="vec_id",
    )
    assert res == {
        "rows_deleted": 1,
        "partitions_rewritten": 1,
        "partitions_removed": 0,
    }
    after = {
        f: os.stat(os.path.join(b1, f)).st_ino
        for f in os.listdir(b1)
        if f.endswith(".parquet")
    }
    assert after == before  # untouched batch partition never rewritten
    left = spark.read.parquet(out)
    assert sorted(r["vec_id"] for r in left.collect()) == [102, 103, 104]


def test_purge_spill_replay_converges_above_cap(
    spark, tmp_path, monkeypatch
):
    """r12 verdict Next #2 — a purge whose resolved hash set exceeds
    MARKER_HASHES_CAP spills the set to a parquet side relation the
    pending marker points at; a crash between arms then replays to
    convergence FROM THE SPILL ALONE (no caller list, no corpus rows to
    re-resolve from), and the spill is removed when the marker
    commits."""
    import os
    import unittest.mock as mock

    import pytest

    import wcdimportbot_spark.operators.text_dedup as td
    from wcdimportbot_spark.plans import curation_nightly as cn

    monkeypatch.setattr(cn, "MARKER_HASHES_CAP", 2)
    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    texts = [
        (i, f"distinct document number {i} with plenty of unique words "
            f"about topic {i * 7} and subject {i * 13} in the corpus")
        for i in range(1, 6)
    ]
    ann = {
        r["doc_id"]: r
        for r in cn.curate_increment(
            spark.createDataFrame(texts, schema), base
        ).collect()
    }
    assert all(ann[i]["kept"] for i in range(1, 6))

    # id-form purge of 4 docs (above the patched cap) crashes after the
    # corpus arm, before the index arm
    doomed = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id long")
    with mock.patch.object(
        td, "dedup_index_delete", side_effect=RuntimeError("killed")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            cn.purge_documents(spark, doomed, base)
    marker = cn.purge_state(base)
    assert marker["status"] == "pending"
    assert marker["hashes_recorded"] is False
    assert "doomed_hashes" not in marker
    spill = os.path.join(base, marker["hashes_spill"])
    spilled = {r["text_hash"] for r in spark.read.parquet(spill).collect()}
    assert spilled == {ann[i]["text_hash"] for i in range(1, 5)}
    # corpus arm committed: an id lookup now resolves nothing on its own
    assert cn.read_curated_corpus(spark, base).count() == 1

    # replay with the SAME id input converges from the spill alone
    res = cn.purge_documents(spark, doomed, base)
    assert res["hashes_deleted"] == 4 and res["bands_deleted"] == 16
    assert cn.purge_state(base)["status"] == "committed"
    assert not os.path.exists(os.path.join(base, "_PURGE_SPILL"))
    # the index truly forgot: purged content re-enters as fresh
    ann2 = {
        r["doc_id"]: r
        for r in cn.curate_increment(
            spark.createDataFrame([(10, texts[0][1])], schema), base
        ).collect()
    }
    assert ann2[10]["kept"] and not ann2[10]["dup_of_history"]


def test_curate_refresh_heals_overcap_crashed_purge(
    spark, tmp_path, monkeypatch
):
    """The refresh self-heal must also work when the crashed internal
    purge was over-cap: the marker carries no JSON hash list, only the
    spill path — healing reads the spill."""
    import unittest.mock as mock

    import pytest

    import wcdimportbot_spark.operators.text_dedup as td
    from wcdimportbot_spark.plans import curation_nightly as cn

    monkeypatch.setattr(cn, "MARKER_HASHES_CAP", 0)
    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    v1 = "the quick brown fox jumps over the lazy dog near the river bank"
    v2 = ("the slow brown fox walks under the lazy dog far from the "
          "river bank tonight after dark")
    cn.curate_increment(spark.createDataFrame([(1, v1)], schema), base)
    batch2 = spark.createDataFrame([(1, v2)], schema)
    with mock.patch.object(
        td, "dedup_index_delete", side_effect=RuntimeError("killed")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            cn.curate_refresh(batch2, base)
    marker = cn.purge_state(base)
    assert marker["status"] == "pending"
    assert "doomed_hashes" not in marker and marker["hashes_spill"]

    ann = {r["doc_id"]: r for r in cn.curate_refresh(batch2, base).collect()}
    assert cn.purge_state(base)["status"] == "committed"
    assert ann[1]["kept"] and ann[1]["refreshed"] is True
    # v1 truly forgotten by the index
    ann3 = {
        r["doc_id"]: r
        for r in cn.curate_increment(
            spark.createDataFrame([(9, v1)], schema), base
        ).collect()
    }
    assert ann3[9]["kept"] and not ann3[9]["dup_of_history"]


def test_purge_legacy_overcap_marker_raises_not_swallows(
    spark, tmp_path, monkeypatch
):
    """r12 ADVICE — a LEGACY over-cap marker (digests only, no spill)
    whose corpus arm already committed must make the id-form replay
    RAISE with replay-in-hash-form guidance, never report all-zero
    success while the marker stays pending."""
    import json
    import os
    import shutil
    import unittest.mock as mock

    import pytest

    import wcdimportbot_spark.operators.text_dedup as td
    from wcdimportbot_spark.plans import curation_nightly as cn

    monkeypatch.setattr(cn, "MARKER_HASHES_CAP", 0)
    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    t = "the quick brown fox jumps over the lazy dog near the river bank"
    cn.curate_increment(spark.createDataFrame([(1, t)], schema), base)
    doomed = spark.createDataFrame([(1,)], "doc_id long")
    with mock.patch.object(
        td, "dedup_index_delete", side_effect=RuntimeError("killed")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            cn.purge_documents(spark, doomed, base)
    # simulate the pre-spill marker: strip the spill reference + files
    mpath = os.path.join(base, cn.PURGE_MANIFEST)
    with open(mpath, encoding="ascii") as f:
        marker = json.load(f)
    shutil.rmtree(os.path.join(base, "_PURGE_SPILL"))
    del marker["hashes_spill"]
    cn._write_purge_marker(base, marker)

    with pytest.raises(RuntimeError, match="HASH form"):
        cn.purge_documents(spark, doomed, base)
    assert cn.purge_state(base)["status"] == "pending"
    # hash-form replay with the caller's own list still converges
    h = spark.createDataFrame(
        [(r["text_hash"],) for r in spark.createDataFrame(
            [(1, t)], schema
        ).select(F.md5("text").alias("text_hash")).collect()],
        "text_hash string",
    )
    res = cn.purge_documents(spark, h, base)
    assert res["hashes_deleted"] == 1
    assert cn.purge_state(base)["status"] == "committed"


def test_curate_refresh_string_ids(spark, tmp_path):
    """r12 ADVICE — nothing forbids string doc ids; the refresh's
    empty-corpus and heal branches must derive the id type from the
    batch schema instead of hardcoding `long`."""
    import unittest.mock as mock

    import pytest

    import wcdimportbot_spark.operators.text_dedup as td
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    schema = "doc_id string, text string"
    v1 = "the quick brown fox jumps over the lazy dog near the river bank"
    v2 = ("the slow brown fox walks under the lazy dog far from the "
          "river bank tonight after dark")
    # empty-corpus branch: first refresh bootstraps the store
    ann0 = {
        r["doc_id"]: r
        for r in cn.curate_refresh(
            spark.createDataFrame([("doc-a", v1)], schema), base
        ).collect()
    }
    assert ann0["doc-a"]["kept"] and ann0["doc-a"]["refreshed"] is False
    # heal branch: crash the internal purge of a changed re-send, then
    # heal on the retry — the healed-ids union must accept string ids
    batch2 = spark.createDataFrame([("doc-a", v2)], schema)
    with mock.patch.object(
        td, "dedup_index_delete", side_effect=RuntimeError("killed")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            cn.curate_refresh(batch2, base)
    assert cn.purge_state(base)["refresh_doc_ids"] == ["doc-a"]
    ann = {r["doc_id"]: r for r in cn.curate_refresh(batch2, base).collect()}
    assert cn.purge_state(base)["status"] == "committed"
    assert ann["doc-a"]["kept"] and ann["doc-a"]["refreshed"] is True


def test_scrub_staging_heals_crashed_swap(spark, tmp_path):
    """r12 verdict Next #3 — the scrub stages kept rows to disk and
    swaps partition dirs with two renames; a crash BETWEEN the renames
    leaves the partition's only copy in a hidden trash twin. The next
    scrub must restore it first (doomed rows included) and then
    converge — never silently lose the kept rows."""
    import os
    import shutil

    from wcdimportbot_spark.operators import sinks
    from wcdimportbot_spark.plans import curation_nightly as cn

    out = str(tmp_path / "gate_out")
    rows = [(f"h{i}", i, 100 + (i % 3)) for i in range(30)]
    df = spark.createDataFrame(
        rows, "text_hash string, payload long, batch_id long"
    )
    df.write.partitionBy("batch_id").parquet(out)

    # simulate the crash window: live partition renamed to trash, the
    # staged replacement never landed (staging then cleaned by a crash
    # path is equivalent — the trash is the only copy)
    live = os.path.join(out, "batch_id=101")
    trash = os.path.join(out, ".__doomed_batch_id=101")
    os.rename(live, trash)
    # Spark ignores the hidden trash: reads see only the other batches
    spark.catalog.refreshByPath(out)
    assert spark.read.parquet(out).count() == 20

    doomed = spark.createDataFrame([("h1",), ("h4",)], "text_hash string")
    res = cn.purge_output_partitions(spark, doomed, out)
    # heal restored batch 101 before the scan, so BOTH doomed rows
    # (h1 in batch 101, h4 in batch 101) were found and removed
    assert res["rows_deleted"] == 2
    left = spark.read.parquet(out)
    assert left.count() == 28
    assert left.filter(left.text_hash.isin("h1", "h4")).count() == 0
    # batch 101's kept rows survived the heal + scrub
    assert left.filter(left.batch_id == 101).count() == 8
    assert not os.path.exists(trash)
    assert not os.path.exists(os.path.join(out, "_scrub_staging"))

    # completed-swap trash (live twin exists) is discarded, not restored
    keep = os.path.join(out, "batch_id=100")
    stale_trash = os.path.join(out, ".__doomed_batch_id=100")
    shutil.copytree(keep, stale_trash)
    res2 = cn.purge_output_partitions(
        spark, spark.createDataFrame([("h2",)], "text_hash string"), out
    )
    assert res2["rows_deleted"] == 1
    assert not os.path.exists(stale_trash)
    assert spark.read.parquet(out).count() == 27


@pytest.mark.slow
def test_purge_documents_ann_binding(spark, tmp_path):
    """r12 verdict Next #5 — the store-level ANN binding: after
    bind_ann_store declares "the ANN store at PATH indexes this corpus
    keyed by doc_id", purge_documents derives the doomed vec_ids ITSELF
    — id-form directly, hash-form through one pre-corpus-arm resolution
    recorded in the marker — and the doomed vectors leave the codes
    store with no ann_vec_ids argument. A crash between the index arm
    and the ANN arm replays from the marker's recorded resolution."""
    import unittest.mock as mock

    import pytest
    from pyspark.sql.window import Window

    import wcdimportbot_spark.operators.text_dedup as td
    from wcdimportbot_spark.operators.ann_store import (
        ann_index_build,
        read_ann_codes,
    )
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(
        [
            (i, f"the quick brown fox number {i} jumps over the lazy "
                f"dog near the river bank tonight")
            for i in range(1, 31)
        ],
        schema,
    )
    ann = {r["doc_id"]: r for r in cn.curate_increment(docs, base).collect()}
    assert all(ann[i]["kept"] for i in range(1, 31))

    # ANN store whose vec_ids ARE the corpus doc_ids (the binding key)
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .orderBy("vec_id")
        .limit(30)
        .withColumn(
            "vec_id",
            F.row_number()
            .over(Window.orderBy("vec_id"))
            .cast("long"),
        )
    )
    ann_index_build(emb, str(tmp_path / "cur" / "ann_store"))
    cn.bind_ann_store(base, "ann_store", key="doc_id")

    def codes_has(*ids):
        return (
            read_ann_codes(spark, str(tmp_path / "cur" / "ann_store"))
            .filter(F.col("vec_id").isin(*ids))
            .count()
        )

    # binding key mismatch fails loudly (an id-form purge can only map
    # ids to vec_ids when the binding keys vectors by that same column)
    cn.bind_ann_store(base, "ann_store", key="other_id")
    with pytest.raises(ValueError, match="keys vectors by 'other_id'"):
        cn.purge_documents(
            spark, spark.createDataFrame([(3,)], "doc_id long"), base
        )
    cn.bind_ann_store(base, "ann_store", key="doc_id")

    # id-form purge: vec_ids derived from the input ids, no argument
    res = cn.purge_documents(
        spark, spark.createDataFrame([(3,), (4,)], "doc_id long"), base
    )
    assert res["ann_deleted"] == 2 and res["corpus_deleted"] == 2
    assert cn.purge_state(base)["arms"] == ["corpus", "index", "ann"]
    assert codes_has(3, 4) == 0

    # hash-form purge: vec_ids resolved through the corpus scan
    res2 = cn.purge_documents(
        spark,
        spark.createDataFrame(
            [(ann[5]["text_hash"],)], "text_hash string"
        ),
        base,
    )
    assert res2["ann_deleted"] == 1 and res2["corpus_deleted"] == 1
    assert codes_has(5) == 0

    # crash between the index arm and the ANN arm: the corpus rows are
    # gone, but the marker recorded the resolved vec_ids — the replay
    # inherits them and the vectors still leave
    h6 = ann[6]["text_hash"]
    real_delete = td.dedup_index_delete
    calls = {"n": 0}

    def crash_once(*a, **k):
        if calls["n"] == 0:
            calls["n"] = 1
            real_delete(*a, **k)
            raise RuntimeError("killed after index arm")
        return real_delete(*a, **k)

    with mock.patch.object(td, "dedup_index_delete", crash_once):
        with pytest.raises(RuntimeError, match="killed after index arm"):
            cn.purge_documents(
                spark,
                spark.createDataFrame([(h6,)], "text_hash string"),
                base,
            )
    marker = cn.purge_state(base)
    assert marker["status"] == "pending"
    assert marker["ann_from_binding"] is True
    assert marker["ann_vec_ids"] == [6]
    assert codes_has(6) == 1  # crash left the vector behind
    res3 = cn.purge_documents(
        spark,
        spark.createDataFrame([(h6,)], "text_hash string"),
        base,
    )
    assert res3["ann_deleted"] == 1
    assert cn.purge_state(base)["status"] == "committed"
    assert codes_has(6) == 0


def test_curate_refresh_heals_binding_ann_purge(spark, tmp_path):
    """With an ANN binding, curate_refresh's internal purge carries the
    ann arm — its self-heal must still auto-replay it (the binding +
    recorded resolution make the arm reproducible), not refuse as a
    foreign multi-arm purge."""
    import unittest.mock as mock

    import pytest
    from pyspark.sql.window import Window

    import wcdimportbot_spark.operators.text_dedup as td
    from wcdimportbot_spark.operators.ann_store import (
        ann_index_build,
        read_ann_codes,
    )
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    v1 = "the quick brown fox jumps over the lazy dog near the river bank"
    v2 = ("the slow brown fox walks under the lazy dog far from the "
          "river bank tonight after dark")
    cn.curate_increment(spark.createDataFrame([(1, v1)], schema), base)
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .orderBy("vec_id")
        .limit(4)
        .withColumn(
            "vec_id",
            F.row_number().over(Window.orderBy("vec_id")).cast("long"),
        )
    )
    ann_path = str(tmp_path / "cur" / "ann_store")
    ann_index_build(emb, ann_path)
    cn.bind_ann_store(base, "ann_store", key="doc_id")

    batch2 = spark.createDataFrame([(1, v2)], schema)
    with mock.patch.object(
        td, "dedup_index_delete", side_effect=RuntimeError("killed")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            cn.curate_refresh(batch2, base)
    marker = cn.purge_state(base)
    assert marker["status"] == "pending"
    assert marker["arms"] == ["corpus", "index", "ann"]
    assert marker["ann_from_binding"] is True

    ann = {r["doc_id"]: r for r in cn.curate_refresh(batch2, base).collect()}
    assert cn.purge_state(base)["status"] == "committed"
    assert ann[1]["kept"] and ann[1]["refreshed"] is True
    # the stale doc's vector left the ANN store during the heal — the
    # refresh caller re-encodes + upserts the fresh one
    assert (
        read_ann_codes(spark, ann_path)
        .filter(F.col("vec_id") == 1)
        .count()
        == 0
    )


def test_purge_legacy_digest_marker_replayable(spark, tmp_path):
    """r13 ADVICE: _digest switched from sorted-concat md5 (v1) to the
    distributive xxhash fold (v2), so a pending marker written by the
    legacy code could never match a post-upgrade replay — prior_match
    stayed false and the replay raised 'unrelated purge' whose own
    suggested remediation (replay with the original inputs) could never
    succeed. Markers now carry digest_version, and a versionless
    pending marker is compared like-for-like in the v1 form: the
    original-inputs replay matches and converges, while an UNRELATED
    purge still refuses loudly."""
    import hashlib
    import json
    import os
    import unittest.mock as mock

    import pytest

    from wcdimportbot_spark.operators import text_dedup
    from wcdimportbot_spark.plans import curation_nightly as cn

    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    t_a = "the quick brown fox jumps over the lazy dog near the river bank"
    t_d = ("This doomed document describes the history of distributed "
           "dataflow engines and their shuffle implementations.")
    cn.curate_increment(
        spark.createDataFrame([(1, t_a), (2, t_d)], schema), base
    )
    h_d = hashlib.md5(t_d.encode()).hexdigest()

    def boom(*a, **k):
        raise RuntimeError("crash before index arm")

    with mock.patch.object(text_dedup, "dedup_index_delete", boom):
        with pytest.raises(RuntimeError, match="crash before index arm"):
            cn.purge_documents(
                spark,
                spark.createDataFrame([(h_d,)], "text_hash string"),
                base,
            )
    # forge the marker a LEGACY writer would have left: v1 digests
    # (sorted-concat md5 — of a one-hash set, md5 of the hash string),
    # no digest_version field
    mp = os.path.join(base, cn.PURGE_MANIFEST)
    with open(mp, encoding="ascii") as f:
        m = json.load(f)
    assert m["status"] == "pending" and m.get("digest_version") == 2
    legacy = hashlib.md5(h_d.encode("ascii")).hexdigest()
    m["input_digest"] = legacy
    m["hashes_digest"] = legacy
    del m["digest_version"]
    with open(mp, "w", encoding="ascii") as f:
        json.dump(m, f)

    # an unrelated purge still refuses to clobber the crashed marker
    with pytest.raises(RuntimeError, match="crashed purge is pending"):
        cn.purge_documents(
            spark,
            spark.createDataFrame([("deadbeef" * 4,)], "text_hash string"),
            base,
        )

    # the documented remediation WORKS again: replay with the original
    # inputs matches via the v1 comparison and converges
    res = cn.purge_documents(
        spark, spark.createDataFrame([(h_d,)], "text_hash string"), base
    )
    assert res["hashes_deleted"] == 1 and res["bands_deleted"] == 4
    assert cn.purge_state(base)["status"] == "committed"
    # the re-written marker is v2 now; re-ingest is accepted as fresh
    ann = {
        r["doc_id"]: r
        for r in cn.curate_increment(
            spark.createDataFrame([(10, t_d)], schema), base
        ).collect()
    }
    assert ann[10]["kept"] and not ann[10]["dup_of_history"]


def test_scrub_escaped_partition_names(spark, tmp_path):
    """r13 ADVICE: the scrub compared raw f'{col}={value}' names against
    the staged listing, but Spark percent-escapes special characters in
    partition dir names — a special-char partition was misclassified,
    and an ALL-doomed one had its rmtree target the unescaped
    (nonexistent) path, silently leaving the doomed rows on disk (an
    incomplete privacy purge). Both sides now use the escaped on-disk
    representation: the all-doomed special-char partition is REMOVED
    from disk, the mixed one is rewritten minus its doomed rows."""
    import os

    from wcdimportbot_spark.operators import sinks

    path = str(tmp_path / "out")
    # 'a:b/c' exercises two escaped chars; 'x y%z' mixes a passthrough
    # space with an escaped percent
    rows = [
        ("h1", "a:b/c"),  # all-doomed partition (only row is doomed)
        ("h2", "x y%z"),  # mixed partition
        ("h3", "x y%z"),
        ("h4", "plain"),  # untouched partition
    ]
    spark.createDataFrame(rows, "text_hash string, cat string").write.partitionBy(
        "cat"
    ).parquet(path)
    esc_all = f"cat={sinks.escape_partition_value('a:b/c')}"
    esc_mix = f"cat={sinks.escape_partition_value('x y%z')}"
    assert os.path.isdir(os.path.join(path, esc_all)), esc_all
    assert esc_all == "cat=a%3Ab%2Fc"

    doomed = spark.createDataFrame([("h1",), ("h2",)], "text_hash string")
    res = sinks.scrub_plain_partitions(
        spark, path, doomed, "text_hash", ["cat"]
    )
    assert res == {
        "rows_deleted": 2,
        "partitions_rewritten": 1,
        "partitions_removed": 1,
    }
    # the all-doomed escaped dir is GONE from disk (the privacy purge
    # completed), the mixed one holds exactly its survivor
    assert not os.path.isdir(os.path.join(path, esc_all))
    assert os.path.isdir(os.path.join(path, esc_mix))
    left = spark.read.parquet(path)
    assert sorted(
        (r["text_hash"], r["cat"]) for r in left.collect()
    ) == [("h3", "x y%z"), ("h4", "plain")]


def test_curate_refresh_overcap_ids_spill_heal(spark, tmp_path, monkeypatch):
    """r13 verdict Next #1 — refresh_doc_ids was uncapped (so were the
    graph arm's recorded qids, until every marker record went through one
    cap-or-spill helper): curate_refresh collected every stale id into
    the marker JSON with no spill analog, so a bulk re-crawl refresh
    (millions of edited docs) would collect its whole id set into one
    process and write a multi-hundred-MB marker. Above the cap the id
    set now SPILLS to a parquet side relation the marker points at; a
    refresh that crashes inside its internal purge heals on the next
    call FROM THE SPILL, and the healed docs' retry annotation still
    reports refreshed=True."""
    import unittest.mock as mock

    import pytest

    import wcdimportbot_spark.operators.text_dedup as td
    from wcdimportbot_spark.plans import curation_nightly as cn

    monkeypatch.setattr(cn, "MARKER_HASHES_CAP", 2)
    base = str(tmp_path / "cur")
    schema = "doc_id long, text string"
    olds = [
        (i, f"original document number {i} about topic {i} with plenty "
            f"of distinct words to pass the quality gate easily")
        for i in range(1, 5)
    ]
    news = [
        (i, f"rewritten document number {i} about topic {i} with plenty "
            f"of different words to pass the quality gate easily")
        for i in range(1, 5)
    ]
    cn.curate_increment(spark.createDataFrame(olds, schema), base)
    batch2 = spark.createDataFrame(news, schema)
    with mock.patch.object(
        td, "dedup_index_delete", side_effect=RuntimeError("killed")
    ):
        with pytest.raises(RuntimeError, match="killed"):
            cn.curate_refresh(batch2, base)
    marker = cn.purge_state(base)
    assert marker["status"] == "pending"
    # 4 stale ids > cap 2: no JSON id list, a spill reference instead
    assert "refresh_doc_ids" not in marker
    assert marker["refresh_ids_spill"]

    ann = {r["doc_id"]: r for r in cn.curate_refresh(batch2, base).collect()}
    assert cn.purge_state(base)["status"] == "committed"
    for i in range(1, 5):
        assert ann[i]["kept"] and ann[i]["refreshed"] is True, ann[i]
    # the spill was collected at commit
    import os

    assert not os.path.isdir(os.path.join(base, "_PURGE_SPILL"))
    # the old versions are truly forgotten: re-sends accepted as fresh
    ann3 = {
        r["doc_id"]: r
        for r in cn.curate_increment(
            spark.createDataFrame(
                [(100 + i, t) for i, t in olds], schema
            ),
            base,
        ).collect()
    }
    for i, _t in olds:
        assert ann3[100 + i]["kept"] and not ann3[100 + i]["dup_of_history"]


def test_scrub_heal_scoped_to_candidates(spark, tmp_path):
    """r13 verdict Next #2 — the crash-heal walk is scoped: a crashed
    twin OUTSIDE a shard purge's closed-form candidate set is not this
    scrub's business (the scrub no longer walks the whole tree), while
    a twin INSIDE the candidate set is restored before the doomed scan
    (the closed form guarantees the owning purge's replay recomputes
    the same pair). The full-tree maintenance lever (heal_plain_layout,
    CLI --heal-scrub) still converges everything."""
    import os
    import shutil

    from wcdimportbot_spark.operators import sinks, training_prep

    path = str(tmp_path / "shards")
    docs = spark.createDataFrame(
        [(i, f"document body {i}") for i in range(200)],
        "doc_id long, text string",
    )
    training_prep.write_training_shards(docs, path, n_shards=4)
    # find two keys living in different (split, shard) partitions
    rows = spark.read.parquet(path).select(
        "doc_id", "split", "shard"
    ).collect()
    by_part = {}
    for r in rows:
        by_part.setdefault((r["split"], r["shard"]), []).append(r["doc_id"])
    parts = sorted(by_part)
    target, outside = parts[0], parts[-1]
    assert target != outside
    doomed_key = by_part[target][0]

    # plant crashed twins: one in the target partition (mid-swap crash:
    # live dir missing), one in an unrelated partition
    n_total = len(rows)
    for s, sh in (target, outside):
        live = os.path.join(path, f"split={s}", f"shard={sh}")
        trash = os.path.join(
            path, f"split={s}", f".__doomed_shard={sh}"
        )
        os.rename(live, trash)

    doomed = spark.createDataFrame([(doomed_key,)], "doc_id long")
    res = training_prep.purge_training_shards(doomed, path)
    assert res["rows_deleted"] == 1

    # target partition healed + scrubbed: survivors back, doomed gone
    spark.catalog.refreshByPath(path)
    after = spark.read.parquet(path)
    assert after.filter(F.col("doc_id") == doomed_key).count() == 0
    s, sh = target
    assert (
        after.filter(
            (F.col("split") == s) & (F.col("shard") == sh)
        ).count()
        == len(by_part[target]) - 1
    )
    # the outside twin was NOT healed by the scoped scrub...
    s, sh = outside
    out_trash = os.path.join(path, f"split={s}", f".__doomed_shard={sh}")
    assert os.path.isdir(out_trash)
    assert not os.path.isdir(os.path.join(path, f"split={s}", f"shard={sh}"))
    # ...but the maintenance lever converges it
    sinks.heal_plain_layout(path)
    assert not os.path.isdir(out_trash)
    assert os.path.isdir(os.path.join(path, f"split={s}", f"shard={sh}"))
    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).count() == n_total - 1
    shutil.rmtree(path)


def test_scrub_sentinel_guards_racing_readers(spark, tmp_path):
    """r13 verdict Next #3 — between a swap's two renames a racing
    reader's partition discovery silently misses a dir. The scrub now
    opens a _SCRUB_PENDING sentinel before its first rename and removes
    it after the last: a guarded reader inside the window FAILS LOUDLY
    (or waits it out), never returns a short result; a STALE sentinel
    (crashed scrub) raises with the heal remediation; and the next
    scrub clears a leftover sentinel after healing."""
    import os
    import threading
    import time as _time

    import pytest

    from wcdimportbot_spark.operators import hooks, sinks

    path = str(tmp_path / "out")
    rows = [(f"h{i}", i % 3) for i in range(30)]
    spark.createDataFrame(
        rows, "text_hash string, batch_id int"
    ).write.partitionBy("batch_id").parquet(path)

    def probe_reader():
        hooks.point("test.probe")
        try:
            sinks.assert_no_scrub_pending(path, wait=0.5)
            return "returned"
        except TimeoutError:
            return "timeout"
        finally:
            hooks.point("test.probed")

    doomed = spark.createDataFrame([("h0",), ("h1",)], "text_hash string")
    # the reader probes inside the scrub's swap window
    with hooks.schedule(
        hooks.Rule("test.probe", after="scrub.sentinel.written"),
        hooks.Rule("scrub.sentinel.written", after="test.probed"),
    ), hooks.background(probe_reader) as reader:
        res = sinks.scrub_plain_partitions(
            spark, path, doomed, "text_hash", ["batch_id"]
        )
    # the reader inside the window failed LOUDLY, never a short read
    assert reader.result == "timeout"
    assert res["rows_deleted"] == 2
    # window closed: the guarded read returns the complete layout
    assert not os.path.exists(os.path.join(path, sinks.SCRUB_SENTINEL))
    assert sinks.read_plain_layout(spark, path).count() == 28

    # a FRESH sentinel that clears mid-wait lets the reader proceed
    sinks._write_scrub_sentinel(path, {"ts": _time.time()})
    cleaner = threading.Timer(
        0.3, lambda: os.remove(os.path.join(path, sinks.SCRUB_SENTINEL))
    )
    cleaner.start()
    sinks.assert_no_scrub_pending(path, wait=10)

    # a STALE sentinel (crashed scrub) refuses the read with remediation
    sinks._write_scrub_sentinel(
        path, {"ts": _time.time() - 2 * sinks.SCRUB_STALE_SECS}
    )
    with pytest.raises(RuntimeError, match="heal-scrub"):
        sinks.read_plain_layout(spark, path)
    # the next scrub (different doomed keys) heals + clears it
    res2 = sinks.scrub_plain_partitions(
        spark,
        path,
        spark.createDataFrame([("h2",)], "text_hash string"),
        "text_hash",
        ["batch_id"],
    )
    assert res2["rows_deleted"] == 1
    assert not os.path.exists(os.path.join(path, sinks.SCRUB_SENTINEL))
    assert sinks.read_plain_layout(spark, path).count() == 27


def test_expire_plain_partitions_retention(spark, tmp_path):
    """Gate-output stores grow one batch_id= partition per micro-batch
    forever — the retention lever the purge-boundary docs defer to.
    keep_last keeps the newest N by numeric partition value,
    older_than drops by dir mtime, removal goes through an atomic
    .__expired_* rename (racing readers never see a half-deleted dir),
    and a crashed expiry's leftover twin is collected by the next call
    or the full-tree heal."""
    import os
    import shutil
    import time as _time

    from wcdimportbot_spark.operators import sinks

    path = str(tmp_path / "out")
    spark.createDataFrame(
        [(f"h{i}", b) for b in range(6) for i in range(3)],
        "text_hash string, batch_id int",
    ).write.partitionBy("batch_id").parquet(path)

    res = sinks.expire_plain_partitions(path, keep_last=4)
    assert res == {"partitions_expired": 2, "partitions_kept": 4}
    spark.catalog.refreshByPath(path)
    left = sinks.read_plain_layout(spark, path)
    assert sorted(
        r["batch_id"] for r in left.select("batch_id").distinct().collect()
    ) == [2, 3, 4, 5]
    assert left.count() == 12

    # age-based: make batch_id=2 look old, expire by mtime
    old = os.path.join(path, "batch_id=2")
    os.utime(old, (1, 1))
    res = sinks.expire_plain_partitions(path, older_than_secs=3600)
    assert res["partitions_expired"] == 1
    spark.catalog.refreshByPath(path)
    assert sinks.read_plain_layout(spark, path).count() == 9

    # crashed expiry: a leftover .__expired_ twin is garbage — both the
    # next expiry call and heal_plain_layout collect it
    shutil.copytree(
        os.path.join(path, "batch_id=3"),
        os.path.join(path, ".__expired_batch_id=99"),
    )
    sinks.heal_plain_layout(path)
    assert not os.path.isdir(os.path.join(path, ".__expired_batch_id=99"))
    # both rules together; no rule is an error
    import pytest

    with pytest.raises(ValueError, match="keep_last"):
        sinks.expire_plain_partitions(path)
    res = sinks.expire_plain_partitions(
        path, keep_last=100, older_than_secs=10**9
    )
    assert res == {"partitions_expired": 0, "partitions_kept": 3}


def test_rotate_reject_logs(spark, tmp_path):
    """The rejects side-output is the reference's per-rule *.log family
    as append parquet — one file per import batch per rule, forever.
    Rotation removes files older than the threshold (atomic per-file
    remove: racing readers see a consistent subset) and clears rule
    dirs left empty."""
    import os
    import time as _time

    from wcdimportbot_spark.operators import sinks

    path = str(tmp_path / "rejects")
    df1 = spark.createDataFrame(
        [("r1", "u1"), ("r2", "u2")], "rule string, url string"
    )
    df2 = spark.createDataFrame(
        [("r1", "u3")], "rule string, url string"
    )
    sinks.write_rejects(df1, path)
    _time.sleep(0.05)
    sinks.write_rejects(df2, path)
    # age out ONLY the first batch's files
    cutoff_files = []
    for d in os.listdir(path):
        dd = os.path.join(path, d)
        if d.startswith("rule=") and os.path.isdir(dd):
            for f in sorted(os.listdir(dd)):
                if f.endswith(".parquet"):
                    cutoff_files.append(os.path.join(dd, f))
    # mark every r2 file and the OLDEST r1 file as ancient
    aged = 0
    seen_r1 = False
    for fp in cutoff_files:
        if "rule=r2" in fp or ("rule=r1" in fp and not seen_r1):
            os.utime(fp, (1, 1))
            aged += 1
            if "rule=r1" in fp:
                seen_r1 = True
    res = sinks.rotate_reject_logs(path, older_than_secs=3600)
    assert res["files_removed"] == aged
    assert res["dirs_removed"] == 1  # rule=r2 emptied out
    assert not os.path.isdir(os.path.join(path, "rule=r2"))
    spark.catalog.refreshByPath(path)
    left = spark.read.parquet(path)
    assert [r["url"] for r in left.collect()] == ["u3"]


def test_scrub_sentinel_heartbeat_keeps_slow_live_scrub_fresh(
    spark, tmp_path, monkeypatch
):
    """r14 verdict What's wrong #1: the sentinel's timestamp was written
    once at swap-open, so a LIVE scrub whose O(touched partitions) swap
    loop outlasted SCRUB_STALE_SECS was misdiagnosed as crashed —
    guarded readers raised 'run --heal-scrub' against a healthy writer.
    With per-swap heartbeats a slow live scrub keeps its sentinel fresh
    (a concurrent guarded reader waits it out and succeeds), while a
    truly crashed one still trips staleness."""
    import os
    import threading
    import time as _time
    import unittest.mock as mock

    import pytest

    from wcdimportbot_spark.operators import sinks

    monkeypatch.setattr(sinks, "SCRUB_STALE_SECS", 1.0)
    monkeypatch.setattr(sinks, "SCRUB_HEARTBEAT_SECS", 0.0)

    path = str(tmp_path / "out")
    spark.createDataFrame(
        [(f"h{b}_{i}", b) for b in range(4) for i in range(3)],
        "text_hash string, batch_id int",
    ).write.partitionBy("batch_id").parquet(path)
    # doom one row per partition so every partition is touched/swapped
    doomed = spark.createDataFrame(
        [(f"h{b}_0",) for b in range(4)], "text_hash string"
    )

    real_rename = os.rename

    def slow_rename(src, dst, *a, **kw):
        # slow only the swap renames (trash twins) — 4 partitions ×
        # 0.35s ≈ 1.4s window, past the patched 1.0s staleness
        if ".__doomed_" in str(dst):
            _time.sleep(0.35)
        return real_rename(src, dst, *a, **kw)

    reader_out = {}

    def reader():
        # wait for the swap window to open, then do the guarded wait
        deadline = _time.time() + 30
        while not os.path.exists(os.path.join(path, sinks.SCRUB_SENTINEL)):
            if _time.time() > deadline:
                reader_out["err"] = "sentinel never appeared"
                return
            _time.sleep(0.01)
        try:
            sinks.assert_no_scrub_pending(path, wait=15)
            reader_out["ok"] = True
        except Exception as e:  # noqa: BLE001 — recorded for the assert
            reader_out["err"] = repr(e)

    t = threading.Thread(target=reader)
    t.start()
    with mock.patch("os.rename", slow_rename):
        res = sinks.scrub_plain_partitions(
            spark, path, doomed, "text_hash", ["batch_id"]
        )
    t.join(60)
    assert not t.is_alive()
    assert reader_out.get("ok"), reader_out  # never diagnosed as crashed
    assert res["rows_deleted"] == 4 and res["partitions_rewritten"] == 4
    assert sinks.read_plain_layout(spark, path).count() == 8

    # a TRULY crashed scrub (heartbeats stopped) still trips staleness
    sinks._write_scrub_sentinel(path, {"ts": _time.time() - 2.5})
    with pytest.raises(RuntimeError, match="heal-scrub"):
        sinks.assert_no_scrub_pending(path, wait=5)
    os.remove(os.path.join(path, sinks.SCRUB_SENTINEL))


def test_scrub_sentinel_unparseable_refuses_with_remediation(
    spark, tmp_path
):
    """r14 ADVICE (low): a corrupt/truncated sentinel (non-atomic
    object-store copy, manual edit) used to raise a raw JSONDecodeError
    at readers — now it refuses like the stale case, naming
    --heal-scrub."""
    import os

    import pytest

    from wcdimportbot_spark.operators import sinks

    path = str(tmp_path / "out")
    spark.createDataFrame(
        [("h1", 0)], "text_hash string, batch_id int"
    ).write.partitionBy("batch_id").parquet(path)
    with open(os.path.join(path, sinks.SCRUB_SENTINEL), "w") as f:
        f.write('{"ts": 17')  # truncated
    with pytest.raises(RuntimeError, match="heal-scrub"):
        sinks.read_plain_layout(spark, path)
    # parses but mis-shaped (review r15): non-dict payloads and
    # non-numeric ts must refuse the same way, not raise raw
    # AttributeError/ValueError
    for payload in ("null", "17", "[1]", '{"ts": "not-a-number"}'):
        with open(os.path.join(path, sinks.SCRUB_SENTINEL), "w") as f:
            f.write(payload)
        with pytest.raises(RuntimeError, match="heal-scrub"):
            sinks.read_plain_layout(spark, path)
    sinks.heal_plain_layout(path)
    assert sinks.read_plain_layout(spark, path).count() == 1


def test_read_plain_layout_detects_scrub_inside_listing_gap(
    spark, tmp_path
):
    """r14 ADVICE (medium): check-then-read left a gap — the file index
    spark.read.parquet builds lists the directory AFTER the sentinel
    check, and a scrub whose whole swap window fits inside that gap
    leaves no sentinel at either end. The reader now brackets the
    listing with a scrub-generation comparison and re-lists when a
    scrub's open bump landed inside."""
    import unittest.mock as mock

    from wcdimportbot_spark.operators import sinks

    path = str(tmp_path / "out")
    spark.createDataFrame(
        [(f"h{b}_{i}", b) for b in range(4) for i in range(3)],
        "text_hash string, batch_id int",
    ).write.partitionBy("batch_id").parquet(path)
    doomed = spark.createDataFrame([("h0_0",)], "text_hash string")

    calls = {"n": 0}
    real_assert = sinks.assert_no_scrub_pending

    def hooked(path_, wait=None):
        calls["n"] += 1
        if calls["n"] == 2:
            # the post-listing check of attempt 0: a FULL scrub opened
            # and closed while the reader was listing — no sentinel
            # visible at either check, only the epoch bump remains
            sinks.scrub_plain_partitions(
                spark, path, doomed, "text_hash", ["batch_id"]
            )
        return real_assert(path_, wait)

    with mock.patch.object(sinks, "assert_no_scrub_pending", hooked):
        df = sinks.read_plain_layout(spark, path)
        n = df.count()
    # the epoch comparison detected the in-gap scrub and re-listed:
    # the returned relation is the POST-scrub layout, not the listing
    # whose files the scrub replaced
    assert calls["n"] >= 4  # two bracketed attempts
    assert n == 11


def test_read_plain_layout_close_bump_covers_post_open_reader(
    spark, tmp_path
):
    """Review r15: the open bump alone left one gap — a reader that
    passes its first sentinel check, then reads e0 AFTER the scrub's
    open bump, lists mid-swap, and waits out the sentinel at its
    second check would compare e1 == e0 and keep the short listing.
    The close bump (before sentinel removal) makes its final epoch
    read differ, forcing the re-list."""
    import os
    import time as _time
    import unittest.mock as mock

    from wcdimportbot_spark.operators import sinks, versioned

    path = str(tmp_path / "out")
    spark.createDataFrame(
        [(f"h{b}_{i}", b) for b in range(4) for i in range(3)],
        "text_hash string, batch_id int",
    ).write.partitionBy("batch_id").parquet(path)

    live = os.path.join(path, "batch_id=3")
    trash = os.path.join(path, ".__doomed_batch_id=3")
    state = {"n": 0}
    real_assert = sinks.assert_no_scrub_pending

    def hooked(p_, wait=None):
        state["n"] += 1
        if state["n"] == 1:
            real_assert(p_, wait)
            # the scrub OPENS after the reader's first check but
            # before its e0 read: open bump, sentinel, first rename of
            # a swap — the reader's listing will miss batch_id=3
            versioned.epoch_bump(path, sinks.SCRUB_EPOCH_FILE)
            sinks._write_scrub_sentinel(path, {"ts": _time.time()})
            os.rename(live, trash)
            return
        if state["n"] == 2:
            # the scrub FINISHES while the reader sits at its second
            # check: swap completes, close bump, sentinel cleared
            os.rename(trash, live)
            versioned.epoch_bump(path, sinks.SCRUB_EPOCH_FILE)
            os.remove(os.path.join(path, sinks.SCRUB_SENTINEL))
        return real_assert(p_, wait)

    with mock.patch.object(sinks, "assert_no_scrub_pending", hooked):
        # without the close bump this returned the 9-row short listing
        assert sinks.read_plain_layout(spark, path).count() == 12
    assert state["n"] >= 4  # the epoch mismatch forced a second attempt


def test_retention_levers_refuse_scrub_and_purge_windows(
    spark, tmp_path, monkeypatch
):
    """r14 verdict What's wrong #2: the retention levers were the only
    writer-vs-writer pair left on the single-writer convention — an
    expiry racing a scrub could remove a live dir the scrub then
    restores from staging (a resurrected partition). Both levers now
    honor the scrub sentinel and, when the owning curation store is
    named, refuse while its purge marker is pending."""
    import os
    import time as _time

    import pytest

    from wcdimportbot_spark.operators import sinks
    from wcdimportbot_spark.plans import curation_nightly as cn

    monkeypatch.setattr(sinks, "SCRUB_WAIT_SECS", 0.2)
    path = str(tmp_path / "out")
    spark.createDataFrame(
        [(f"h{b}", b) for b in range(4)],
        "text_hash string, batch_id int",
    ).write.partitionBy("batch_id").parquet(path)

    # (a) a live scrub's swap window is open on the layout
    sinks._write_scrub_sentinel(path, {"ts": _time.time()})
    with pytest.raises(TimeoutError):
        sinks.expire_plain_partitions(path, keep_last=1)
    rejects = str(tmp_path / "rejects")
    sinks.write_rejects(
        spark.createDataFrame(
            [("r1", "u1")], "rule string, url string"
        ),
        rejects,
    )
    sinks._write_scrub_sentinel(rejects, {"ts": _time.time()})
    with pytest.raises(TimeoutError):
        sinks.rotate_reject_logs(rejects, older_than_secs=0.0)
    os.remove(os.path.join(path, sinks.SCRUB_SENTINEL))
    os.remove(os.path.join(rejects, sinks.SCRUB_SENTINEL))

    # (b) the owning curation store has a pending purge marker
    base = str(tmp_path / "cur")
    os.makedirs(base)
    cn._write_purge_marker(base, {"status": "pending"})
    with pytest.raises(RuntimeError, match="pending"):
        sinks.expire_plain_partitions(path, keep_last=1, owner_base=base)
    with pytest.raises(RuntimeError, match="pending"):
        sinks.rotate_reject_logs(
            rejects, older_than_secs=0.0, owner_base=base
        )
    cn._write_purge_marker(base, {"status": "committed"})
    res = sinks.expire_plain_partitions(path, keep_last=1, owner_base=base)
    assert res == {"partitions_expired": 3, "partitions_kept": 1}


def test_expire_keep_last_is_protection_floor(spark, tmp_path):
    """r14 ADVICE (low): with both rules, keep_last used to be OR'd
    with the age rule — an aggressive older_than expired every
    partition including the newest N, while the CLI help read like a
    guarantee. keep_last is now a floor: the newest N partitions are
    exempt from BOTH rules, and a non-numeric partition value under a
    count-only rule warns that it is shielded forever."""
    import os

    import pytest

    from wcdimportbot_spark.operators import sinks

    path = str(tmp_path / "out")
    spark.createDataFrame(
        [(f"h{b}", b) for b in range(6)],
        "text_hash string, batch_id int",
    ).write.partitionBy("batch_id").parquet(path)
    # every partition looks ancient — the age rule alone would doom all
    for b in range(6):
        os.utime(os.path.join(path, f"batch_id={b}"), (1, 1))
    res = sinks.expire_plain_partitions(
        path, keep_last=4, older_than_secs=3600
    )
    assert res == {"partitions_expired": 2, "partitions_kept": 4}
    left = sinks.read_plain_layout(spark, path)
    assert sorted(
        r["batch_id"] for r in left.select("batch_id").distinct().collect()
    ) == [2, 3, 4, 5]

    # combined mode: the AGE rule governs below the floor (review r15 —
    # dooming everything below the floor would make the age knob a
    # no-op: fresh partitions ranked N+1 would expire the minute they
    # were written). Partitions 2,3 are ancient; 4,5 were just touched.
    os.utime(os.path.join(path, "batch_id=4"))
    os.utime(os.path.join(path, "batch_id=5"))
    res = sinks.expire_plain_partitions(
        path, keep_last=1, older_than_secs=3600
    )
    # floor protects 5-from-count? floor = newest 1 (batch 5); below it
    # only the ANCIENT 2,3 expire — fresh 4 survives despite keep_last=1
    assert res == {"partitions_expired": 2, "partitions_kept": 2}
    assert sorted(
        r["batch_id"]
        for r in sinks.read_plain_layout(spark, path)
        .select("batch_id")
        .distinct()
        .collect()
    ) == [4, 5]

    # non-numeric value + count-only rule → shielded forever, warn loud
    os.makedirs(os.path.join(path, "batch_id=final"))
    with pytest.warns(UserWarning, match="non-numeric"):
        sinks.expire_plain_partitions(path, keep_last=2)
    # with an age rule present the value can still rotate — no warning
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        sinks.expire_plain_partitions(
            path, keep_last=2, older_than_secs=10**9
        )


def test_rotate_reject_logs_spares_inflight_writes(tmp_path):
    """r14 ADVICE (low): the rotation rmtree'd any rule= dir holding no
    *.parquet entries — destroying a concurrent write_rejects's
    in-flight _temporary staging — and its re-listing was unguarded.
    A dir is now removed only when this rotation itself emptied it;
    staging-only dirs are untouched."""
    import os

    from wcdimportbot_spark.operators import sinks

    path = str(tmp_path / "rejects")
    # rule=inflight: a writer mid-flight — only Spark staging inside
    os.makedirs(os.path.join(path, "rule=inflight", "_temporary"))
    # rule=mixed: one ancient data file + live staging
    os.makedirs(os.path.join(path, "rule=mixed", "_temporary"))
    fp = os.path.join(path, "rule=mixed", "old.parquet")
    with open(fp, "wb") as f:
        f.write(b"x")
    os.utime(fp, (1, 1))
    # rule=aged: only an ancient data file — rotation empties it
    os.makedirs(os.path.join(path, "rule=aged"))
    fp2 = os.path.join(path, "rule=aged", "old.parquet")
    with open(fp2, "wb") as f:
        f.write(b"x")
    os.utime(fp2, (1, 1))

    res = sinks.rotate_reject_logs(path, older_than_secs=3600)
    assert res == {"files_removed": 2, "dirs_removed": 1}
    assert os.path.isdir(os.path.join(path, "rule=inflight", "_temporary"))
    assert os.path.isdir(os.path.join(path, "rule=mixed", "_temporary"))
    assert not os.path.isdir(os.path.join(path, "rule=aged"))


def test_escape_partition_value_matches_spark_on_disk(spark, tmp_path):
    """escape_partition_value must reproduce Spark's partition-dir
    escaping EXACTLY — the scrub's removal-path comparison depends on
    it. Pin the mapping against Spark's actual on-disk names for an
    adversarial value set (every reserved char, passthrough chars,
    unicode, control chars, null/empty)."""
    import os

    from wcdimportbot_spark.operators import sinks

    vals = [
        "plain", "with space", "a:b", "a/b", "a#b", "a%b", "a=b",
        "a'b", 'a"b', "a*b", "a?b", "a[b]c", "a{b}", "a^b", "a\\b",
        "héllo", "a,b", "a+b", "a\tb", "a\x01b", "a\x7fb", "%2F",
        "__HIVE_DEFAULT_PARTITION__x", None, "",
    ]
    df = spark.createDataFrame(
        [(v, 1) for v in vals], "k string, x int"
    )
    path = str(tmp_path / "esc")
    df.write.partitionBy("k").parquet(path)
    on_disk = {
        d[len("k="):]
        for d in os.listdir(path)
        if d.startswith("k=") and os.path.isdir(os.path.join(path, d))
    }
    expected = {sinks.escape_partition_value(v) for v in vals}
    assert expected == on_disk, expected.symmetric_difference(on_disk)


def test_scrub_heal_walk_is_depth_bounded(tmp_path):
    """The heal walk's cost claim, pinned: for a single-level batch_id=
    layout the depth-bounded walk lists ONLY the dataset root — never
    the contents of any batch partition (the old os.walk descended into
    every leaf, O(all batches ever) driver metadata calls per scrub);
    pair-scoped healing does no listing at all, just O(|pairs|)
    existence checks."""
    import os
    import unittest.mock as mock

    from wcdimportbot_spark.operators import sinks

    path = str(tmp_path / "out")
    for b in range(40):
        d = os.path.join(path, f"batch_id={b}")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as f:
            f.write("x")
    # one crashed twin to actually heal
    os.rename(
        os.path.join(path, "batch_id=7"),
        os.path.join(path, ".__doomed_batch_id=7"),
    )
    calls = []
    real_listdir = os.listdir

    def counting_listdir(d):
        calls.append(d)
        return real_listdir(d)

    with mock.patch("os.listdir", counting_listdir):
        sinks._heal_crashed_swaps(path, partition_cols=["batch_id"])
    assert calls == [path], calls  # exactly one listing: the root
    assert os.path.isdir(os.path.join(path, "batch_id=7"))

    # pair-scoped: zero listings, one isdir probe per candidate pair
    os.rename(
        os.path.join(path, "batch_id=9"),
        os.path.join(path, ".__doomed_batch_id=9"),
    )
    calls.clear()
    with mock.patch("os.listdir", counting_listdir):
        sinks._heal_crashed_swaps(
            path, partition_cols=["batch_id"], pairs={(9,), (11,)}
        )
    assert calls == [], calls
    assert os.path.isdir(os.path.join(path, "batch_id=9"))

    # two-level layouts list only the root + split dirs, never shards
    path2 = str(tmp_path / "shards")
    for s in ("train", "val"):
        for sh in range(20):
            os.makedirs(os.path.join(path2, f"split={s}", f"shard={sh}"))
    calls.clear()
    with mock.patch("os.listdir", counting_listdir):
        sinks._heal_crashed_swaps(path2, partition_cols=["split", "shard"])
    assert sorted(calls) == sorted(
        [path2, os.path.join(path2, "split=train"),
         os.path.join(path2, "split=val")]
    ), calls


def test_partition_tuples_cond_scales_past_catalyst_depth(spark):
    """r15 sf1 rehearsal finding: the scrub's touched-partition filter
    was a left-nested OR whose expression DEPTH equalled the touched
    count — ~500 partitions StackOverflowError'd Catalyst's recursive
    analyzer. Single-column layouts must compile to one flat IN and
    composite keys to a balanced OR tree; both must analyze and select
    correctly at thousands of tuples."""
    from pyspark.sql import functions as F

    from wcdimportbot_spark.operators import sinks

    df = spark.range(0, 4000).select(
        (F.col("id") % 2000).cast("int").alias("a"),
        (F.col("id") % 7).cast("int").alias("b"),
    )
    # single partition column: flat IN over 1500 values
    cond1 = sinks.partition_tuples_cond(["a"], [(i,) for i in range(1500)])
    assert df.filter(cond1).count() == 3000  # ids 0..1499 and 2000..3499
    # composite key: balanced OR over 1500 (a, b) tuples — the old
    # left-nested fold overflowed the analyzer far below this
    tuples = [(i, i % 7) for i in range(1500)]
    cond2 = sinks.partition_tuples_cond(["a", "b"], tuples)
    got = df.filter(cond2).count()
    want = sum(
        1
        for i in range(4000)
        if ((i % 2000), (i % 7)) in set(tuples)
    )
    assert got == want
    # empty tuple set selects nothing on BOTH branches (review r15:
    # the composite branch used to IndexError)
    assert df.filter(sinks.partition_tuples_cond(["a"], [])).count() == 0
    assert (
        df.filter(sinks.partition_tuples_cond(["a", "b"], [])).count() == 0
    )


def test_scrub_stages_one_file_per_partition(spark, tmp_path):
    """r15 staging-layout fix: without the partition-column repartition
    every task wrote into every touched partition dir, so each purge
    staged ~tasks files per dir and the layout's file count compounded
    for every later reader. Each rewritten partition must come back as
    exactly ONE data file."""
    import os

    from pyspark.sql import functions as F

    from wcdimportbot_spark.operators import sinks

    path = str(tmp_path / "out")
    spark.createDataFrame(
        [(f"h{b}_{i}", b) for b in range(6) for i in range(20)],
        "text_hash string, batch_id int",
    ).repartition(4).write.partitionBy("batch_id").parquet(path)
    doomed = spark.createDataFrame(
        [(f"h{b}_0",) for b in range(6)], "text_hash string"
    )
    res = sinks.scrub_plain_partitions(
        spark, path, doomed, "text_hash", ["batch_id"]
    )
    assert res["partitions_rewritten"] == 6
    for b in range(6):
        d = os.path.join(path, f"batch_id={b}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)
    assert sinks.read_plain_layout(spark, path).count() == 6 * 19
