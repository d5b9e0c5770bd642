"""Materialize-before-mutate and arm read isolation, checked at every
store publish on the engine paths.

- **P1 (materialize before mutate).** When a store root R is published,
  every live lazy checkpoint whose plan scans R is already materialized.
  A checkpoint scans what its plan reads directly plus what the lazy
  checkpoints under it scan, if they were still unmaterialized when it
  was built. This is the contract of ``text_dedup.dedup_index_probe``:
  its caller acts on ``ann`` before the first store mutation.
- **P2 (read isolation).** Within one ``versioned.run_publish_ordered``
  group, no arm hands its engine a batch relation that scans a root
  another arm of the same group publishes. The batch's scans include
  those of its checkpoints that were unmaterialized when the group
  started. The group overlaps its arms' batch evaluation on exactly
  this premise.

Both are checked by spies (no engine switch): ``DataFrame.localCheckpoint``
records every lazy checkpoint, ``versioned.commit``/``commit_full`` check
P1 right before a publish, and ``run_publish_ordered`` plus the sinks
engines record each arm's batches and published roots for P2.

A checkpoint is materialized when its RDD ``isCheckpointed()`` or when
every partition is in the block manager: a job checkpoints only the
nearest marked RDD of its lineage, so a checkpoint computed only through
another checkpoint built on it holds its blocks but keeps the flag
False. Neither check runs a Spark job."""

from __future__ import annotations

import ast
import os
import sys
import threading
import unittest.mock as mock
import weakref
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import wcdimportbot_spark

_PAGES_SCHEMA = (
    "page_id long, title string, language_code string, "
    "latest_revision_id long, wikitext string"
)

#: the sinks engines an arm hands its batch relation to
_ENGINES = ("_merge_write", "delete_from_store", "upsert_into_store")


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


def _site(depth: int = 2) -> str:
    f = sys._getframe(depth)
    return f"{os.path.basename(f.f_code.co_filename)}:{f.f_lineno}"


def _under(files, root: str) -> str | None:
    prefix = os.path.join(os.path.abspath(root), "")
    return next((f for f in files if f.startswith(prefix)), None)


class _Spy:
    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.lock = threading.Lock()
        self.local = threading.local()
        #: rdd id -> (weakref to the checkpoint, its JVM rdd, files, site)
        self.checkpoints: dict = {}
        self.done: set = set()  # rdd ids seen materialized
        self.sites: set = set()
        self.groups: list = []
        self.violations: list = []

    def stack(self) -> list:
        return getattr(self.local, "stack", [])

    def materialized(self, rid: int) -> bool:
        if rid not in self.done:
            rdd = self.checkpoints[rid][1]
            master = self.jvm.org.apache.spark.SparkEnv.get().blockManager().master()
            block = self.jvm.org.apache.spark.storage.RDDBlockId
            if rdd.isCheckpointed() or all(
                master.contains(block(rid, i))
                for i in range(rdd.getNumPartitions())
            ):
                self.done.add(rid)
        return rid in self.done

    def scans(self, df: DataFrame, group: dict | None = None) -> frozenset:
        """Files ``df``'s optimized plan reads directly, plus those of
        every recorded lazy checkpoint under it still unmaterialized (at
        the start of ``group``, for checkpoints that existed then)."""
        files = {urlparse(f).path for f in df.inputFiles()}
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() != "LogicalRDD":
                continue
            rid = leaf.rdd().id()
            if rid not in self.checkpoints:
                continue
            if group is not None and rid in group["known"]:
                unmat = rid in group["unmat"]
            else:
                unmat = not self.materialized(rid)
            if unmat:
                files |= self.checkpoints[rid][2]
        return frozenset(files)

    # -- P1 ------------------------------------------------------------------

    def check_p1(self, root: str) -> None:
        with self.lock:
            live = list(self.checkpoints.items())
        for rid, (ref, _rdd, files, site) in live:
            hit = _under(files, root)
            if hit and ref() is not None and not self.materialized(rid):
                self.violations.append(
                    f"P1: {root} published while the lazy checkpoint built "
                    f"at {site} is unmaterialized and scans {hit}"
                )

    # -- P2 ------------------------------------------------------------------

    def open_group(self, site: str, n_arms: int) -> dict:
        with self.lock:
            known = set(self.checkpoints)
        group = {
            "site": site,
            "known": known,
            "unmat": {rid for rid in known if not self.materialized(rid)},
            "reads": [[] for _ in range(n_arms)],
            "writes": [set() for _ in range(n_arms)],
        }
        self.groups.append(group)
        return group

    def record_batch(self, engine: str, args) -> None:
        site = f"{engine} called from {_site(3)}"
        for df in args:
            if isinstance(df, DataFrame):
                for group, i in self.stack():
                    group["reads"][i].append((site, self.scans(df, group)))

    def record_writer(self, root: str) -> None:
        for group, i in self.stack():
            group["writes"][i].add(os.path.abspath(root))

    def check_p2(self, group: dict) -> None:
        for i, reads in enumerate(group["reads"]):
            for j, roots in enumerate(group["writes"]):
                if i == j:
                    continue
                for root in roots:
                    for site, files in reads:
                        hit = _under(files, root)
                        if hit:
                            self.violations.append(
                                f"P2: in the group at {group['site']}, arm "
                                f"{i}'s batch ({site}) scans {hit}, which "
                                f"arm {j} publishes"
                            )

    # -- installation --------------------------------------------------------

    def install(self, stack) -> None:
        from wcdimportbot_spark.operators import sinks, versioned

        spy = self
        cls = type(self.spark.range(0))
        real_lcp = cls.localCheckpoint
        real_commit, real_full = versioned.commit, versioned.commit_full
        real_rpo = versioned.run_publish_ordered

        def local_checkpoint(df, eager=True, storageLevel=None):
            # what the plan scans BEFORE the checkpoint call, which may
            # already run its shuffle stages
            files = None if eager else spy.scans(df)
            cp = real_lcp(df, eager, storageLevel)
            if not eager:
                rdd = cp._jdf.queryExecution().analyzed().rdd()
                with spy.lock:
                    spy.checkpoints[rdd.id()] = (
                        weakref.ref(cp), rdd, files, _site()
                    )
            return cp

        def commit(path, protocol, stage, publish_gate=None):
            spy.record_writer(path)

            def checked(base_dir, vdir):
                result, changed = stage(base_dir, vdir)
                if changed:
                    spy.check_p1(path)
                return result, changed

            return real_commit(path, protocol, checked, publish_gate)

        def commit_full(path, protocol, populate):
            spy.record_writer(path)

            def checked(vdir):
                populate(vdir)
                spy.check_p1(path)

            return real_full(path, protocol, checked)

        def run_publish_ordered(arms):
            f = sys._getframe(1)
            spy.sites.add((os.path.realpath(f.f_code.co_filename), f.f_lineno))
            parent = spy.stack()
            group = spy.open_group(_site(), len(arms))

            def arm_of(i):
                def arm(gate):
                    spy.local.stack = parent + [(group, i)]
                    return arms[i](gate)

                return arm

            out = real_rpo([arm_of(i) for i in range(len(arms))])
            spy.check_p2(group)
            return out

        def engine(name):
            real = getattr(sinks, name)

            def spied(*args, **kwargs):
                spy.record_batch(name, (*args, *kwargs.values()))
                return real(*args, **kwargs)

            return spied

        patches = [
            (cls, "localCheckpoint", local_checkpoint),
            (versioned, "commit", commit),
            (versioned, "commit_full", commit_full),
            (versioned, "run_publish_ordered", run_publish_ordered),
            *[(sinks, name, engine(name)) for name in _ENGINES],
        ]
        for target, name, spy_fn in patches:
            stack.enter_context(mock.patch.object(target, name, spy_fn))


def _publish_group_sites() -> set:
    """(file, line) of every ``versioned.run_publish_ordered(`` call in
    the package."""
    root = os.path.dirname(os.path.realpath(wcdimportbot_spark.__file__))
    sites = set()
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "run_publish_ordered"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "versioned"
                ):
                    sites.add((path, node.lineno))
    return sites


def test_materialize_before_mutate_and_arm_isolation(spark, sf_dir, tmp_path):
    """P1 and P2 hold at every publish of an import run twice, two
    curate_increment nights, two dedup_index_ingest batches, a
    dedup_index_delete, one streaming dedup-gate micro-batch, an ANN
    add-batch and delete, and an ANN-bound hash-form purge with a graph
    arm; every run_publish_ordered call site is reached."""
    import contextlib

    from wcdimportbot_spark.operators import ann_store, sinks, text_dedup
    from wcdimportbot_spark.plans import curation_nightly as cn
    from wcdimportbot_spark.plans import store_import as si
    from wcdimportbot_spark.streaming.dedup_gate import (
        incremental_dedup_batch_fn,
    )

    gstore = str(tmp_path / "graph")
    gpaths = si.store_paths(gstore)
    base = str(tmp_path / "cur")
    index = str(tmp_path / "index")
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 24)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")

    def ids(lo, hi):
        return docs.filter(F.col("doc_id").between(lo, hi))

    spy = _Spy(spark)
    with contextlib.ExitStack() as stack:
        spy.install(stack)
        url = "https://one.example.com/"
        si.import_pages_to_store(
            spark, _pages(spark, [(1, _cite(url + "a", "A"))]), gpaths
        )
        si.import_pages_to_store(
            spark, _pages(spark, [(2, _cite(url + "b", "B"))]), gpaths
        )
        # the second night probes a non-empty index: history dups,
        # fresh docs and an in-batch duplicate
        cn.curate_increment(ids(0, 11), base)
        night2 = ids(6, 17).unionByName(
            ids(3, 3).withColumn("doc_id", F.lit(99))
        )
        cn.curate_increment(night2, base)
        text_dedup.dedup_index_ingest(ids(0, 7), index)
        text_dedup.dedup_index_ingest(ids(4, 13), index)
        doomed = ids(0, 1).select(F.md5("text").alias("text_hash"))
        text_dedup.dedup_index_delete(
            spark.createDataFrame(doomed.collect(), "text_hash string"), index
        )
        incremental_dedup_batch_fn(index, str(tmp_path / "fresh"))(
            ids(0, 19), 0
        )
        ann_path = os.path.join(base, "ann_store")
        ann_store.ann_index_build(
            emb.filter(F.col("vec_id") < 12), ann_path,
            num_clusters=2, m=2, n_codes=4,
        )
        ann_store.ann_index_add_batch(
            emb.filter(F.col("vec_id").between(12, 15)), ann_path
        )
        ann_store.ann_index_delete(
            spark.createDataFrame([(13,)], "vec_id long"), ann_path
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
    assert out["corpus_deleted"] == 2 and out["items_deleted"] == 1, out
    assert not spy.violations, "\n".join(spy.violations)
    # the checks saw real work: every arm handed its engine a batch
    assert spy.groups and all(r for g in spy.groups for r in g["reads"]), [
        (g["site"], [len(r) for r in g["reads"]]) for g in spy.groups
    ]
    missing = _publish_group_sites() - spy.sites
    assert not missing, f"run_publish_ordered sites never reached: {missing}"
