"""Plan-shape regression tests: the scale-critical plan properties the
round audits verified with `.explain`, pinned so refactors cannot silently
lose them. Analysis-only — no query executes.

Override the data directory with $SPARK_GRAFT_PLANSHAPE_SF to re-verify
the same shapes at another scale (the sf1 rehearsal runs these against
the 10x corpus: plan shape must be scale-invariant)."""

import json
import os

SF = os.environ.get("SPARK_GRAFT_PLANSHAPE_SF", "/root/testdata/sf0.001")


def _plan(spark, name):
    from wcdimportbot_spark.plans.benchmark_queries import QUERIES

    # FileScan metadata (DataFilters/PushedFilters) is truncated to
    # spark.sql.maxMetadataStringLength chars (default 100); expression ids
    # grow with session age, so a filter literal can fall past the cutoff
    # depending on test order — raise the limit while rendering the plan
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "50000")
    try:
        df = QUERIES[name].fn(spark, SF)
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)


def test_q6_predicates_reach_the_scan(spark):
    """Q6 is the pushdown probe: all three predicates must appear as data
    filters on the lineitem scan, not post-scan Filter-only."""
    plan = _plan(spark, "q6_forecast_revenue")
    scan = next(l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l)
    for fragment in ("l_shipdate", "l_discount", "l_quantity"):
        assert fragment in scan, f"{fragment} not pushed to the lineitem scan"


def test_q19_or_branches_derive_single_side_filters(spark):
    """The OR-of-ANDs spans both join sides; Catalyst must still derive
    the single-side implications and push them into BOTH scans."""
    plan = _plan(spark, "q19_disjunctive_pushdown")
    lines = plan.splitlines()
    part_scan = next(l for l in lines if "FileScan" in l and "p_brand" in l)
    li_scan = next(l for l in lines if "FileScan" in l and "l_quantity" in l)
    assert "Brand#12" in part_scan
    assert "l_quantity" in li_scan


def test_domain_pipeline_single_python_stage(spark):
    """The import pipeline's only Python is the Arrow-batched template
    extraction: one mapInPandas stage, never a row-at-a-time
    BatchEvalPython, and no shuffle before extraction beyond the fan_out
    repartition."""
    import __spark_entry__ as em
    from wcdimportbot_spark.operators.analytics import page_hash_statistics
    from wcdimportbot_spark.plans.pipeline import run_import

    res = run_import(em.pages_from_documents(spark, SF), persist=False)
    plan = page_hash_statistics(res.references)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF crept into the hot path"


def test_psl_joins_are_broadcast_in_pipeline(spark):
    """F5 inside the full pipeline must stay per-arity broadcast joins —
    no sort-merge join, no shuffle introduced by the PSL match."""
    import __spark_entry__ as em
    from wcdimportbot_spark.operators.analytics import page_hash_statistics
    from wcdimportbot_spark.plans.pipeline import run_import

    res = run_import(em.pages_from_documents(spark, SF), persist=False)
    plan = page_hash_statistics(res.references)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert len(plan) < 500_000, "plan re-inlined a large literal set"


def test_ann_plan_carries_no_literal_matrix(spark):
    from wcdimportbot_spark.plans.benchmark_queries import QUERIES

    df = QUERIES["sim_ann_lsh"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("1.0,") < 200, "hyperplane matrix inlined into the plan again"


def test_ann_topk_is_two_phase(spark):
    """The ANN family's candidate cut must NOT funnel the scored corpus
    into |Q| reducers: the window ranking the big scored relation has to
    partition by (query_id, _slice) — the per-input-partition partial
    top-k — with the plain query_id window only ranking the tiny
    survivor relation (VERDICT r6 'what's wrong' #1)."""
    import re

    for name in ("sim_ann_pq", "sim_ann_lsh", "sim_ann_ivf", "sim_ann_ivfpq",
                 "sim_cosine_topk"):
        plan = _plan(spark, name)
        specs = re.findall(r"Window \[[^\]]*row_number\(\)[^\]]*\], \[([^\]]*)\]", plan)
        sliced = [s for s in specs if "_slice" in s]
        assert sliced, f"{name}: no (key, _slice) partial top-k window in plan"


def test_embedding_ann_dedup_no_cartesian(spark):
    """The LSH-bucketed embedding near-dup must plan pure equi-joins —
    the whole point of the scale path vs the crossJoin baseline."""
    plan = _plan(spark, "dedup_embedding_ann")
    assert "CartesianProduct" not in plan
    # the only nested-loop join is the 1-row hyperplane-matrix broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_semantic_decon_broadcasts_eval_side(spark):
    """Semantic decontamination must plan the eval side as broadcast-hash
    joins (the corpus side never shuffles on the bucket) and pure
    equi-joins — the linear-in-the-corpus shape its docstring claims."""
    plan = _plan(spark, "decon_semantic")
    assert "CartesianProduct" not in plan
    # the 1-row hyperplane-matrix broadcast, once per bucketing subtree
    # (train and eval derive it independently; the eval one scans only
    # the filtered eval slice)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_registry_size_matches_docs():
    """The registry/docs drift guard (VERDICT r4 'what's wrong' #1): the
    driver-contract docstring, COVERAGE.md, and the 50-query window must
    all describe the same registry. Update __spark_entry__'s docstring and
    regenerate COVERAGE.md (scripts/gen_coverage.py) when this changes."""
    import __spark_entry__ as em
    from wcdimportbot_spark.plans.benchmark_queries import _WINDOW, QUERIES

    assert len(QUERIES) == 129
    assert "129 queries" in em.__doc__
    assert len(_WINDOW) == 50
    assert set(_WINDOW) <= set(QUERIES)
    # the 50-row window is frozen: exactly the r16 correctness run's rows,
    # and __spark_entry__.queries() serves them first, in window order
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "CORRECTNESS_r16.json")) as f:
        assert set(_WINDOW) == set(json.load(f))
    assert list(em.queries())[:50] == _WINDOW
    # every registry entry is oracle-verifiable — the ANN accuracy-contract
    # rework removed the last two rows-only entries
    assert all(spec.oracle is not None for spec in QUERIES.values())


def test_no_cartesian_in_tpch_joins(spark):
    """Every TPC-H shape must plan equi-joins (broadcast or shuffle), with
    the only nested-loop joins being deliberate 1-row scalar broadcasts."""
    for name in (
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q13_customer_distribution",
        "q18_large_volume_customers",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval-benchmark n-gram set must broadcast: the corpus side of
    the decontamination join never shuffles on content at 100 TB."""
    plan = _plan(spark, "decon_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_heavy_ngrams_topk_is_distributed(spark):
    """Top-k must compile to TakeOrderedAndProject (per-partition heaps),
    not a global sort or a single-partition window over the vocabulary."""
    plan = _plan(spark, "corpus_heavy_ngrams")
    assert "TakeOrderedAndProject" in plan


def test_domain_import_memo_reuse_and_disable(spark, monkeypatch):
    """The shared domain-import stage is materialized once per
    (session, sf_dir): a second component request must come from the memo
    (same object), and SPARK_GRAFT_NO_IMPORT_CACHE=1 must bypass it."""
    from wcdimportbot_spark.plans import benchmark_queries as bq

    sf_dir = "/root/testdata/sf0.001"
    bq._IMPORT_MEMO.clear()
    items1 = bq._domain_stage(spark, sf_dir, "items")
    items2 = bq._domain_stage(spark, sf_dir, "items")
    assert items1 is items2
    key = (spark.sparkContext.applicationId, sf_dir)
    assert "res" in bq._IMPORT_MEMO[key] and "items" in bq._IMPORT_MEMO[key]
    # claims reuses the memoized result's checkpointed references
    claims = bq._domain_stage(spark, sf_dir, "claims")
    assert set(claims.columns) == set(bq._MEMO_CLAIM_COLS)
    assert bq._domain_stage(spark, sf_dir, "claims") is claims

    monkeypatch.setenv("SPARK_GRAFT_NO_IMPORT_CACHE", "1")
    bypass = bq._domain_stage(spark, sf_dir, "items")
    assert bypass is not items1
    bq._IMPORT_MEMO.clear()


def test_url_dedup_is_one_aggregate_no_udf(spark):
    """URL normalization must stay inside codegen (no Python stage) and
    the dedup must be a single hash aggregate over the scan — no join,
    no window, no extra exchange beyond the groupBy shuffle."""
    plan = _plan(spark, "dedup_url_canonical")
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") == 1  # the groupBy('url') shuffle only
    assert "HashAggregate" in plan


def test_canonical_keep_window_partitions_by_cluster(spark):
    """The keep-policy window must partition by cluster_id (bounded
    near-clique partitions), never a global single-partition sort."""
    plan = _plan(spark, "dedup_canonical_keep")
    window_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert window_lines, "expected a Window operator in the plan"
    assert any("cluster_id" in ln for ln in window_lines), window_lines


def test_bpe_encode_scan_pruned_and_broadcast(spark):
    """The BPE encode row over the real parquet: the documents scan must
    read ONLY (doc_id, text) — training/encoding never drags lang/source/
    n_chars through the explode — the dictionary join must broadcast,
    and nothing in the pipeline may fall out of codegen into Python."""
    plan = _plan(spark, "bpe_encode_stats")
    scan = next(
        l for l in plan.splitlines() if "FileScan" in l and "documents" in l
    )
    assert "doc_id" in scan and "text" in scan
    for col in ("lang", "source", "n_chars"):
        assert col not in scan, f"{col} leaked into the documents scan"
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_delete_probe_single_annotated_scan(spark, tmp_path):
    """The fused delete probe (sinks._delete_plan): ONE store scan,
    LEFT-joined against the BROADCAST key list (store stream-side —
    never built into a hash table, never shuffled), with stats and kept
    both derived from it. Pins the r15 single-scan shape AND the r10
    join inversion it must preserve."""
    from pyspark.sql import functions as F

    from wcdimportbot_spark.operators import sinks, versioned

    store = str(tmp_path / "delplan")
    df = spark.range(500).select(
        F.col("id").cast("string").alias("hash"), (F.col("id") % 7).alias("v")
    )
    sinks.upsert_into_store(
        spark, df, store, key="hash", bucket_key="hash",
        partitions=[sinks.BUCKET_COL],
    )
    doomed = spark.range(20).select(F.col("id").cast("string").alias("hash"))
    keys_b = sinks.with_bucket(doomed.select("hash"), "hash")
    touched = [
        r[sinks.BUCKET_COL]
        for r in keys_b.select(sinks.BUCKET_COL).distinct().collect()
    ]
    base_dir = versioned.data_dir(store)
    snap = sinks._read_tree(spark, base_dir)
    pruned = snap.filter(F.col(sinks.BUCKET_COL).isin(touched))
    keys_only = F.broadcast(keys_b.select("hash").distinct())
    marked = pruned.join(
        keys_only.withColumn("_doomed", F.lit(True)), "hash", "left"
    )
    plan = marked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan, plan
    assert "SortMergeJoin" not in plan
    # the store side must not shuffle: the only shuffle Exchange allowed
    # is the KEY LIST's distinct (bounded by the doomed-key count); a
    # store-side shuffle would appear as a second one
    shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert len(shuffles) <= 1, shuffles
    # end-to-end: the fused path deletes and tolerates a re-delete
    assert sinks.delete_from_store(
        spark, doomed, store, key="hash", bucket_key="hash",
        partitions=[sinks.BUCKET_COL],
    ) == 20
    assert sinks.delete_from_store(
        spark, doomed, store, key="hash", bucket_key="hash",
        partitions=[sinks.BUCKET_COL],
    ) == 0


def _shuffles(df) -> int:
    """Shuffle Exchange nodes (not BroadcastExchange) in ``df``'s
    physical plan (its initial plan once adaptive execution has run)."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[-1]
    return len(re.findall(r"(?<![A-Za-z])Exchange ", plan))


def _checkpointed(monkeypatch, spark, fn, marker):
    """Run ``fn``; the relations it handed to ``localCheckpoint`` whose
    analyzed plan mentions ``marker``."""
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    seen = []

    def spy(self, *a, **kw):
        seen.append(self)
        return real(self, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(cls, "localCheckpoint", spy)
        fn()
    return [
        d for d in seen
        if marker in d._jdf.queryExecution().analyzed().toString()
    ]


def _declare(df, col, flag):
    """``df`` declared unique on ``col``, and the engine keywords that
    said the same before declarations existed (``flag=True``): the counts
    below hold under either form."""
    try:
        from wcdimportbot_spark.functions import keys
    except ImportError:
        return df, {flag: True}
    return keys.unique(df, col), {}


def test_merge_fresh_plan_skips_distincts_of_unique_batches(
    spark, tmp_path, monkeypatch
):
    """The merge's fresh-row plan (batch LEFT-ANTI matched keys): a
    batch deduped on the anti key, or declared unique on it, broadcasts
    its keys and the store's matched keys without a distinct; any other
    batch pays both distincts."""
    from pyspark.sql import functions as F

    from wcdimportbot_spark.operators import sinks

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("h"), F.col("id")).alias("hash"),
            F.lit("x").alias("v"),
        )

    def fresh_plan(name, df, dedup_key, **kw):
        path = str(tmp_path / name)
        sinks._merge_write(
            spark, batch(0, 40), path, bucket_key="hash", anti_key="hash",
            partitions=[sinks.BUCKET_COL], dedup_key="hash",
        )
        (plan,) = _checkpointed(
            monkeypatch, spark,
            lambda: sinks._merge_write(
                spark, df, path, bucket_key="hash", anti_key="hash",
                partitions=[sinks.BUCKET_COL], dedup_key=dedup_key, **kw,
            ),
            "LeftAnti",
        )
        return _shuffles(plan)

    declared, kw = _declare(batch(20, 60), "hash", "batch_distinct")
    assert fresh_plan("deduped", batch(20, 60), "hash") == 0
    assert fresh_plan("declared", declared, None, **kw) == 0
    assert fresh_plan("plain", batch(20, 60), None) == 2


def test_delete_scan_skips_the_distinct_of_declared_keys(
    spark, tmp_path, monkeypatch
):
    """delete_from_store's annotated scan: declared keys are broadcast
    as they are; undeclared keys pay one distinct."""
    from pyspark.sql import functions as F

    from wcdimportbot_spark.operators import sinks

    def marked_plan(name, doomed, **kw):
        path = str(tmp_path / name)
        sinks.merge_write_items(
            spark,
            spark.range(60).select(
                F.concat(F.lit("h"), F.col("id")).alias("hash"),
                F.lit("Q").alias("qid"),
                F.lit("website").alias("instance_of"),
            ),
            path,
        )
        (plan,) = _checkpointed(
            monkeypatch, spark,
            lambda: sinks.delete_from_store(
                spark, doomed, path, key="hash", bucket_key="hash",
                partitions=["instance_of", sinks.BUCKET_COL], **kw,
            ),
            "_doomed",
        )
        return _shuffles(plan)

    def doomed():
        return spark.createDataFrame(
            [(f"h{i}",) for i in range(10)], "hash string"
        )

    declared, kw = _declare(doomed(), "hash", "keys_unique")
    assert marked_plan("declared", declared, **kw) == 0
    assert marked_plan("plain", doomed()) == 1


def test_incremental_dedup_skips_the_hash_distinct_of_declared_winners(
    spark,
):
    """incremental_dedup's plan: a batch declared unique on its text
    broadcasts its hashes without a distinct."""
    from wcdimportbot_spark.operators.text_dedup import (
        dedup_index,
        incremental_dedup,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} on shuffle joins and window {i % 7}") for i in range(30)],
        "doc_id long, text string",
    )
    hashes, bands_rel = dedup_index(docs.filter("doc_id % 3 = 0"))
    batch = docs.filter("doc_id % 3 != 0")
    # a declaration tags its object: declare a separate one
    declared, kw = _declare(batch.select("*"), "text", "batch_hash_unique")
    assert _shuffles(incremental_dedup(batch, hashes, bands_rel)) == 9
    assert _shuffles(incremental_dedup(declared, hashes, bands_rel, **kw)) == 8
