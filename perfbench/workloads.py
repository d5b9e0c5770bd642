"""The benchmark's workloads: seeded, closed-loop, single client.

Each workload drives the package only through its public functions, one
operation at a time (the next starts when the previous one returned). A
workload has a ``setup`` (store bootstrap, outside the timed loop), a
``step`` (the timed operations on a batch, then their correctness checks) and a ``finish`` (the end-of-run operations and
checks). The timed operations of a step are those named in ``STEP_OPS``;
checks and the benchmark's own glue are outside them. Checks never raise:
a failed check is counted in ``failed`` and described in ``errors``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")


def process_tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid``, its live descendants and its
    reaped children, plus this Python process (the Spark driver JVM, its
    Python workers and the py4j client). Steal time on a shared host
    inflates wall time but not this."""

    def stat(p):
        with open(f"/proc/{p}/stat", encoding="ascii") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return [int(x) for x in fields[11:15]]  # utime stime cutime cstime

    def children(p):
        out = []
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children", encoding="ascii") as f:
                    out += [int(c) for c in f.read().split()]
        except OSError:
            pass
        return out

    total, todo, first = 0, [pid], True
    while todo:
        p = todo.pop()
        try:
            ut, st, cut, cst = stat(p)
        except OSError:
            continue  # exited between listing and reading
        total += ut + st + ((cut + cst) if first else 0)
        first = False
        todo += children(p)
    me = os.times()
    return total / _TICK + me.user + me.system


class Workload:
    name = ""
    #: the timed operations of one step: ``work_per_s`` is the step's work
    #: over their summed wall time
    STEP_OPS: tuple[str, ...] = ()

    def __init__(self, spark, plan: dict, work_dir: str, tracer):
        self.spark = spark
        self.plan = plan
        self.work = work_dir
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.steps = 0
        self.work_done = 0
        self.errors: list[str] = []
        self.counters: dict[str, float] = {}
        self.cpu: dict[str, list[float]] = {}
        self._jvm_pid = spark.sparkContext._gateway.proc.pid

    # -- bookkeeping ----------------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    @contextmanager
    def measure(self, sample: str):
        """One operation under a top-level span; records its wall and CPU time."""
        with self.tracer.span("op", sample):
            c = process_tree_cpu_s(self._jvm_pid)
            t = time.perf_counter()
            yield
            self.samples.setdefault(sample, []).append(time.perf_counter() - t)
            self.cpu.setdefault(sample, []).append(process_tree_cpu_s(self._jvm_pid) - c)

    def timed(self, sample: str, fn, *args, **kwargs):
        with self.measure(sample):
            return fn(*args, **kwargs)

    def step_op_s(self) -> float:
        return sum(sum(self.samples.get(op, ())) for op in self.STEP_OPS)

    def count(self, key: str, n: float = 1) -> None:
        self.counters[key] = self.counters.get(key, 0) + n

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        """A benchmark-side span around a call that includes its action."""
        with self.tracer.span(layer, name):
            return fn(*args, **kwargs)

    def setup(self) -> None:
        raise NotImplementedError

    def step(self) -> bool:
        """One step; False when the inputs are exhausted."""
        raise NotImplementedError

    def finish(self) -> None:
        pass


# ----------------------------------------------------------------------------
# import_batches
# ----------------------------------------------------------------------------


class ImportBatches(Workload):
    """The timed step imports a page batch into an empty store; the run
    ends with checks of the store and, in the traced run, a replay of the
    batch that must write nothing and the read mix on the store."""

    name = "import_batches"
    STEP_OPS = ("import_batch_s",)

    def setup(self) -> None:
        from wcdimportbot_spark.plans import store_import

        self.store = os.path.join(self.work, "store")
        self.paths = store_import.store_paths(self.store)
        self.done = False

    def step(self) -> bool:
        from wcdimportbot_spark.plans import store_import

        if self.done:
            return False
        exp = self.plan["expect"]
        pages = self.spark.read.parquet(self.plan["batch"])
        if self.tracer.active:
            self.probe_layers(pages)
        got = self.timed(
            "import_batch_s", store_import.import_pages_to_store, self.spark, pages, self.paths
        )
        self.done = True
        self.steps += 1
        self.work_done += exp["pages"]
        self.count("pages_sent", exp["pages"])
        self.count("pages_skipped", exp["pages"] - got[0])
        want = (exp["pages"], exp["new_items"])
        self.check(tuple(got) == want, f"imported (pages, new items) {got} != {want}")
        return True

    def probe_layers(self, pages) -> None:
        """Traced run only: run the import's own plan (``run_import`` on
        this batch against the store's cache) and time its lazy outputs by
        writing each to the noop sink."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from wcdimportbot_spark.operators import cache as cache_ops
        from wcdimportbot_spark.plans import pipeline

        sc = self.spark.sparkContext

        def noop(layer, df):
            obs = Observation(f"{layer}_{time.monotonic_ns()}")
            sc.setJobDescription(f"perfbench:{layer}")
            with self.tracer.span(layer, "noop_write") as s:
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                    "overwrite"
                ).save()
            sc.setJobDescription(None)
            return obs.get["n"], s.end - s.start

        with self.tracer.span("probe", "layers"):
            result = pipeline.run_import(pages, cache=cache_ops.read_cache(self.spark, self.paths["cache"]))
            # the first action materializes run_import's persisted stage:
            # the extraction UDF and the normalization it feeds
            n_refs, busy_refs = noop("extract", result.references)
            n_rej, busy_rej = noop("normalize", result.rejects)
            t = time.perf_counter()
            items, claims = result.items, result.claims
            plan_s = time.perf_counter() - t
            n_items, _ = noop("graph", items)
            n_claims, _ = noop("graph", claims)
            self.spark.catalog.clearCache()
        self.count("extract.rows_in", self.plan["expect"]["pages"])
        self.count("extract.templates_out", n_refs)
        self.count("extract.busy_s", busy_refs)
        self.count("normalize.busy_s", busy_rej)
        self.count("normalize.rejects_out", n_rej)
        self.count("graph.plan_build_s", plan_s)
        self.count("graph.items_out", n_items)
        self.count("graph.claims_out", n_claims)
        self.count("probe.batches")

    def finish(self) -> None:
        from wcdimportbot_spark.operators import analytics, sinks
        from wcdimportbot_spark.plans import store_import

        exp = self.plan["expect"]
        with self.tracer.span("check", "store"):
            status = store_import.verify_import_consistency(self.store)["status"]
            self.check(status == "consistent", f"verify_import_consistency: {status}")
            items = sinks.read_snapshot(self.spark, self.paths["items"])
            got = {r["instance_of"]: r["count"] for r in analytics.count_items_by_type(items).collect()}
            self.check(got == exp["items_by_type"], f"items by type {got} != {exp['items_by_type']}")
            rejects = self.spark.read.parquet(self.paths["rejects"]).count()
            self.check(rejects == exp["rejects"], f"rejects {rejects} != {exp['rejects']}")
        # traced run only: a second import and the read mix do not fit the
        # budget of a measured run
        if self.tracer.active:
            self.replay()
            self.read_phase()

    def replay(self) -> None:
        """Re-send the batch: the P12 guard skips every page and no store
        publishes a new version."""
        from wcdimportbot_spark.operators import versioned
        from wcdimportbot_spark.plans import store_import

        stores = ("items", "claims", "cache")
        before = {k: versioned.current_version(self.paths[k]) for k in stores}
        got = self.timed(
            "replay_s",
            store_import.import_pages_to_store,
            self.spark,
            self.spark.read.parquet(self.plan["batch"]),
            self.paths,
        )
        after = {k: versioned.current_version(self.paths[k]) for k in stores}
        sent = self.plan["expect"]["pages"]
        self.count("pages_sent", sent)
        self.count("pages_skipped", sent - got[0])
        self.check(tuple(got) == (0, 0), f"replay imported {got}")
        self.check(before == after, f"replay published new versions {before} -> {after}")

    def read_phase(self) -> None:
        """The read side on the store this run built: md5-hash lookups
        (cache + claims), the statistics screen and the SPARQL surface."""
        from wcdimportbot_spark.operators import analytics, sinks, sparql
        from wcdimportbot_spark.operators import cache as cache_ops

        spark = self.spark
        expect = self.plan["expect"]
        cache = self.call("cache", "read_cache", cache_ops.read_cache, spark, self.paths["cache"])
        claims = sinks.read_snapshot(spark, self.paths["claims"])
        items = sinks.read_snapshot(spark, self.paths["items"])
        sparql.register_graph_views(spark, items, claims)
        # the first lookup compiles the read path; it is checked, not timed
        for i, req in enumerate(self.plan["reads"]):
            kind, h = req["kind"], req.get("hash")
            with self.measure(f"{kind}_s" if i else "first_lookup_s"):
                if kind == "lookup":
                    hit = self.call("cache", "lookup", lambda: [r["qid"] for r in cache_ops.lookup(cache, h).collect()])
                    qids = self.call("analytics", "lookup_qids_for_hash", lambda: [
                        r["subject_qid"] for r in analytics.lookup_qids_for_hash(claims, h).collect()])
                    self.count("cache.lookups")
                    self.count("cache.hits", 1 if hit else 0)
                    ok = hit == req["qids"] and qids == req["qids"]
                elif kind == "sparql":
                    n = self.call("sparql", "statistic_count", lambda: sparql.statistic_count(
                        spark, "CITATIONS", "Q" + h).collect()[0]["count"])
                    qids = self.call("sparql", "items_for_hash", lambda: [
                        r["item"] for r in sparql.items_for_hash(spark, h).collect()])
                    ok = n == req["citations"] and qids == req["qids"]
                else:
                    by_type = self.call("analytics", "count_items_by_type", lambda: {
                        r["instance_of"]: r["count"] for r in analytics.count_items_by_type(items).collect()})
                    usage = self.call("analytics", "count_property_usage", lambda: {
                        r["property"]: r["items_with_property"]
                        for r in analytics.count_property_usage(claims).collect()})
                    ok = by_type == expect["items_by_type"] and usage.get("CITATIONS") == expect["pages_citing"]
            self.check(ok, f"{kind} {h}: wrong answer")


# ----------------------------------------------------------------------------
# nightly_lifecycle
# ----------------------------------------------------------------------------


class NightlyLifecycle(Workload):
    """Set-up builds the ANN index and binds it to the curation stores;
    the timed step is one night: increment, ANN add of the kept docs, a
    probe, and a purge of kept docs through the ANN binding."""

    name = "nightly_lifecycle"
    STEP_OPS = ("increment_s", "add_s", "probe_s", "purge_s")

    def setup(self) -> None:
        from wcdimportbot_spark.operators import ann_store
        from wcdimportbot_spark.plans import curation_nightly as cn

        self.base = os.path.join(self.work, "curation")
        self.ann = os.path.join(self.work, "ann")
        self.vectors = self.spark.read.parquet(self.plan["vectors"])
        self.vec_np = np.load(self.plan["vectors_npy"])
        self.live = set(self.plan["bootstrap_ids"])
        boot = self.spark.createDataFrame([(i,) for i in self.plan["bootstrap_ids"]], "vec_id long")
        ann_store.ann_index_build(
            self.vectors.join(boot, "vec_id", "left_semi"), self.ann, seed=self.plan["params"]["dim"]
        )
        cn.bind_ann_store(self.base, self.ann)
        self.done = False

    def step(self) -> bool:
        from pyspark.sql import functions as F

        from wcdimportbot_spark.operators import ann_store
        from wcdimportbot_spark.plans import curation_nightly as cn

        if self.done:
            return False
        p = self.plan["params"]
        exp = self.plan["expect"]

        def increment():
            out = cn.curate_increment(self.spark.read.parquet(self.plan["docs"]), self.base)
            return self.call("curation", "report", lambda: out.groupBy().agg(
                F.sort_array(F.collect_list(F.when(F.col("kept"), F.col("doc_id")))).alias("kept"),
                F.sum(F.col("dup_of_history").cast("int")).alias("dup_of_history"),
                F.sum(F.col("dup_of_batch").cast("int")).alias("dup_of_batch"),
                F.sum(F.col("low_quality").cast("int")).alias("low_quality"),
                F.count(F.lit(1)).alias("docs"),
            ).collect()[0])

        def probe():
            return self.call("ann", "ann_index_probe", lambda: ann_store.ann_index_probe(
                self.vectors, self.ann, num_queries=p["queries"], k=p["k"],
                nprobe=p["nprobe"], refine=p["refine"]).collect())

        rep = self.timed("increment_s", increment)
        kept = self.spark.createDataFrame([(i,) for i in exp["kept_ids"]], "vec_id long")
        self.timed("add_s", ann_store.ann_index_add_batch,
                   self.vectors.join(kept, "vec_id", "left_semi"), self.ann)
        served = self.timed("probe_s", probe)
        doomed = self.spark.createDataFrame([(i,) for i in self.plan["purge_ids"]], "doc_id long")
        self.timed("purge_s", cn.purge_documents, self.spark, doomed, self.base)
        self.done = True
        self.steps += 1
        self.work_done += exp["docs"]
        with self.tracer.span("check", "night"):
            got = {k: rep[k] for k in ("docs", "dup_of_history", "dup_of_batch", "low_quality")}
            want = {k: exp[k] for k in got}
            self.check(got == want, f"increment counts {got} != {want}")
            self.check(list(rep["kept"]) == exp["kept_ids"], "kept ids differ")
            self.count("docs", exp["docs"])
            self.count("kept", len(rep["kept"]))
            # the probe ran before the purge: the purged docs were live
            self.live |= set(exp["kept_ids"])
            self.check_recall(served)
            self.check_purged()
        return True

    def check_recall(self, rows) -> None:
        """epsilon-recall@k of the served top-k against an exact cosine
        top-k over the live vectors (the registry's ANN contract)."""
        p = self.plan["params"]
        live = np.array(sorted(self.live))
        x = self.vec_np[live]
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        served: dict[int, list[int]] = {}
        for r in rows:
            served.setdefault(int(r["query_id"]), []).append(int(r["neighbor_id"]))
        ok = sorted(served) == list(range(p["queries"]))
        for q, ids in served.items():
            qn = xn[np.searchsorted(live, q)]
            kth = np.sort(xn @ qn)[-p["k"]]
            if len(ids) != p["k"] or not set(ids) <= self.live:
                ok = False
                break
            v = self.vec_np[ids]
            cos = (v / np.linalg.norm(v, axis=1, keepdims=True)) @ qn
            if np.mean(cos >= kth - p["epsilon"]) < p["recall_floor"]:
                ok = False
        self.check(ok, "ANN probe misses the epsilon-recall contract")

    def check_purged(self) -> None:
        from pyspark.sql import functions as F

        from wcdimportbot_spark.operators import ann_store, text_dedup
        from wcdimportbot_spark.plans import curation_nightly as cn

        ids = self.plan["purge_ids"]
        corpus = cn.read_curated_corpus(self.spark, self.base)
        left = corpus.filter(F.col("doc_id").isin(ids)).count()
        hashes = text_dedup.read_dedup_index(self.spark, os.path.join(self.base, cn.INDEX_DIR))[0]
        in_index = hashes.filter(F.col("text_hash").isin(self.plan["purge_hashes"])).count()
        in_ann = ann_store.read_ann_codes(self.spark, self.ann).filter(F.col("vec_id").isin(ids)).count()
        self.check((left, in_index, in_ann) == (0, 0, 0),
                   f"purged docs still present (corpus, index, ann) = {(left, in_index, in_ann)}")


WORKLOADS = {
    "import_batches": ImportBatches,
    "nightly_lifecycle": NightlyLifecycle,
}
