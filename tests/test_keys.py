"""Store probes and declared key uniqueness (functions/keys.py): the
declaration's lifetime, the probe's shape, a run-time check of every
declaration site on the import / increment / ANN / purge paths, and exact
counts for duplicated delete keys."""

from __future__ import annotations

import ast
import hashlib
import os
import sys
import unittest.mock as mock

from pyspark.sql import functions as F

import wcdimportbot_spark
from wcdimportbot_spark.functions import keys

_PAGES_SCHEMA = (
    "page_id long, title string, language_code string, "
    "latest_revision_id long, wikitext string"
)


def _cite(url: str, title: str) -> str:
    return (
        f"{{{{cite web |url={url} |title={title} |last=Author |first=B. "
        f"|access-date=2024-01-01}}}}"
    )


def _pages(spark, rows):
    return spark.createDataFrame(
        [(pid, f"Page {pid}", "en", 1000 + pid, wt) for pid, wt in rows],
        _PAGES_SCHEMA,
    )


def _has_distinct(df) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan or "Deduplicate" in plan


def test_declaration_dies_with_its_relation(spark):
    df = keys.unique(spark.range(5).withColumn("v", F.lit(1)), "id")
    assert keys.declared(df, "id") and keys.declared(df, "id", "v")
    assert not keys.declared(df, "v")
    assert not keys.declared(df.select("id"), "id")
    assert not keys.declared(df.withColumn("w", F.lit(2)), "id")
    assert not keys.declared(df.localCheckpoint(eager=False), "id")
    # a declared relation's key set skips the distinct; any other adds it
    assert not _has_distinct(keys.key_set(df, "id"))
    assert _has_distinct(keys.key_set(df.select("id", "v"), "id"))
    assert keys.declared(keys.key_set(df.select("id"), "id"), "id")


def test_probe_streams_the_store_and_keeps_its_declaration(spark):
    store = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    )
    batch = spark.createDataFrame([(1,), (1,), (7,), (500,)], "k long")
    got = keys.probe(store, batch, "k")
    assert sorted(r["k"] for r in got.collect()) == [1, 7]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert not keys.declared(got, "k")
    assert keys.declared(keys.probe(keys.unique(store, "k"), batch, "k"), "k")


def _declaration_sites() -> set:
    """(file, line) of every ``keys.unique(`` call in the package, outside
    functions/keys.py itself."""
    root = os.path.dirname(os.path.realpath(wcdimportbot_spark.__file__))
    sites = set()
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == os.path.realpath(
                keys.__file__
            ):
                continue
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "unique"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "keys"
                ):
                    sites.add((path, node.lineno))
    return sites


def test_declarations_hold_on_engine_paths(spark, sf_dir, tmp_path):
    """Every declaration on the import, curate_increment, ANN add-batch
    and ANN-bound hash-form purge (with a graph arm) paths is checked
    with count == distinct count, and every declaration site in the
    package fires at least once on those paths."""
    from wcdimportbot_spark.operators import ann_store, sinks
    from wcdimportbot_spark.plans import curation_nightly as cn
    from wcdimportbot_spark.plans import store_import as si

    real = keys.unique
    fired: set = set()
    violations: list = []

    def checked(df, *cols):
        f = sys._getframe(1)
        fired.add((os.path.realpath(f.f_code.co_filename), f.f_lineno))
        n, d = df.count(), df.select(*cols).distinct().count()
        if n != d:
            violations.append((f.f_code.co_name, f.f_lineno, cols, n, d))
        return real(df, *cols)

    gstore = str(tmp_path / "graph")
    gpaths = si.store_paths(gstore)
    base = str(tmp_path / "cur")
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 12)
        .select("doc_id", "text")
    )
    # an in-batch duplicate: the window keeps one winner per text
    night = docs.unionByName(
        docs.filter(F.col("doc_id") == 3).withColumn("doc_id", F.lit(99))
    )
    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")
    with mock.patch.object(keys, "unique", checked):
        url = "https://one.example.com/"
        si.import_pages_to_store(
            spark, _pages(spark, [(1, _cite(url + "a", "A"))]), gpaths
        )
        # a second batch merges into non-empty stores (store-side sites)
        si.import_pages_to_store(
            spark, _pages(spark, [(2, _cite(url + "b", "B"))]), gpaths
        )
        cn.curate_increment(night, base)
        ann_path = os.path.join(base, "ann_store")
        ann_store.ann_index_build(
            emb.filter(F.col("vec_id") < 12), ann_path,
            num_clusters=2, m=2, n_codes=4,
        )
        ann_store.ann_index_add_batch(
            emb.filter(F.col("vec_id").between(12, 15)), ann_path
        )
        cn.bind_ann_store(base, "ann_store", key="doc_id")
        corpus = cn.read_curated_corpus(spark, base)
        doomed = corpus.orderBy("doc_id").limit(2).select("text_hash")
        doomed = spark.createDataFrame(doomed.collect(), "text_hash string")
        item = (
            sinks.read_items(spark, gpaths["items"])
            .orderBy("hash").limit(1).select("hash")
        )
        item = spark.createDataFrame(item.collect(), "hash string")
        out = cn.purge_documents(
            spark, doomed, base, graph_store=gstore, item_hashes=item
        )
    assert out["corpus_deleted"] == 2 and out["ann_deleted"] == 2, out
    assert out["items_deleted"] == 1, out
    assert not violations, violations
    missing = _declaration_sites() - fired
    assert not missing, f"declaration sites never reached: {missing}"


def test_duplicate_delete_keys_count_exactly(spark, tmp_path):
    """Undeclared keys keep the key set's distinct: a repeated key
    deletes (and counts) its row once."""
    from wcdimportbot_spark.operators import sinks, text_dedup

    store = str(tmp_path / "items")
    rows = spark.range(40).select(
        F.concat(F.lit("h"), F.col("id")).alias("hash"),
        F.concat(F.lit("Q"), F.col("id")).alias("qid"),
        F.lit("website").alias("instance_of"),
    )
    sinks.merge_write_items(spark, rows, store)
    dup = spark.createDataFrame(
        [(f"h{i}",) for i in (1, 2, 3, 1, 2, 1)], "hash string"
    )
    assert sinks.delete_from_store(
        spark, dup, store, key="hash", bucket_key="hash",
        partitions=["instance_of", sinks.BUCKET_COL],
    ) == 3
    assert sinks.read_items(spark, store).count() == 37

    index = str(tmp_path / "index")
    texts = [f"document number {i} about distributed joins" for i in range(6)]
    text_dedup.dedup_index_ingest(
        spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string"),
        index,
    )
    h = [hashlib.md5(t.encode()).hexdigest() for t in texts[:2]]
    dup_h = spark.createDataFrame(
        [(x,) for x in h + h + h[:1]], "text_hash string"
    )
    got = text_dedup.dedup_index_delete(dup_h, index)
    assert got == {"hashes_deleted": 2, "bands_deleted": 2 * 4}, got
