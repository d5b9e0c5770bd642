"""Nightly incremental curation as a MAINTAINED store (r10 verdict
Next #3): the one loop a 100 TB pretraining pipeline actually runs.

``curation_pipeline`` (plans/benchmark_queries.py) verifies the one-shot
composition — profile → exact-dedup winner → quality gate → per-language
yield — over a whole corpus in memory. Production never runs one-shot:
documents arrive in nightly batches, and the pipeline's STATE (which
texts were already seen; which docs were accepted) must live in stores
that each increment probes and grows. This module is that composition
over the round-8/10 store machinery:

- the **dedup index** (text_dedup's two snapshot-versioned MERGE stores:
  exact text hashes + LSH band buckets) answers "seen before?" per
  batch via partition-pruned, join-inverted probes;
- the **curated corpus store** (same MERGE engine, bucketed on
  ``text_hash``) holds the accepted documents with their profile
  columns; insert-if-absent on the content hash makes acceptance
  exactly-once across replays and across racing increments;
- the increment itself is the same stateless profile expressions as
  ``curation_pipeline`` (quality_score / detect_language — identical
  constants, so the two-batch chain is DuckDB-verifiable against the
  one-shot closed form: the ``curation_incremental_store`` registry
  row).

Semantics (ORDER-INDEPENDENT by construction, which is what makes the
two-batch == one-shot contract testable):

- in-batch exact dedup: first ``id_col`` per ``text_hash`` wins (the
  one-shot row_number rule applied within the batch);
- cross-batch exact dedup: winners whose hash the index already holds
  are dropped as history duplicates;
- quality gate: survivors below ``min_quality`` are dropped but their
  hashes STILL enter the index — a re-sent low-quality text is a
  duplicate, not a fresh quality decision (same outcome either way
  since hash determines text determines score; recording it makes the
  re-probe a cheap index hit instead of a re-scoring);
- near-dup LSH flags are carried as ANNOTATION but do not gate
  acceptance here: near-dup policy is corpus-specific and its
  maintenance loop is separately verified (``dedup_incremental*``
  rows); the corpus store's hash key guarantees exactly-once regardless
  of annotation-policy choices.

Durability ordering mirrors the streaming dedup gate (outputs BEFORE
index merge): a crash between the corpus append and the index merge
re-runs the batch, re-accepts the same rows (insert-if-absent absorbs
them), and completes the merge — no loss, no duplicates. The reverse
order would make a replayed batch see its own half-finished ingest as
history and silently drop accepted docs.

Reference scope: beyond-reference (mandated LLM-pipeline composition);
the store machinery cites ``crud/create.py:25-45`` idempotence.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wcdimportbot_spark.functions import keys
from wcdimportbot_spark.functions.partitioning import fan_out
from wcdimportbot_spark.operators import hooks, sinks, versioned

#: store layout under the curation base path
CORPUS_DIR = "corpus"
INDEX_DIR = "dedup_index"

#: the one-shot pipeline's quality threshold (curation_pipeline row)
MIN_QUALITY = 0.7

#: largest resolved-hash set the purge marker records verbatim (~3 MB of
#: JSON at the cap). Above it the set SPILLS to a parquet side relation
#: under ``base/_PURGE_SPILL/<digest>`` (distributed write — the driver
#: never collects the set) whose path the marker records, so bulk purges
#: stay crash-replayable from the marker + spill alone; the spill is
#: removed when the marker commits.
MARKER_HASHES_CAP = 100_000


#: how long an increment waits for a LIVE in-flight purge to commit
#: before treating it as crashed (a crashed purge wedges its marker
#: pending forever; increments must not wedge with it — its remaining
#: arms will never run on their own, so proceeding is safe, and a
#: REPLAY of it during our window changes the marker and triggers the
#: repair below like any other purge). Misjudging a SLOW-but-live
#: purge as crashed is also safe since r14: the increment then writes
#: during the purge's arms, but its INCREMENT_EPOCH_FILE bumps land
#: inside the purge's bracket reads and the purge re-runs its
#: corpus+index deletes — the timeout is a liveness/latency knob, not
#: a correctness one.
PURGE_WAIT_SECS = 120.0

#: the increment's OWN sidecar (r14, closing the r13 ADVICE liveness
#: hole). The marker-fingerprint check alone is one-sided — the purge
#: rewrites its marker only BETWEEN arms, so an increment whose whole
#: write window fell inside one slow arm (>120 s bulk deletes are
#: exactly what the spill path enables) saw identical marker bytes at
#: both reads while the purge never checked for increments at all: the
#: purge's later index arm then deleted hashes the increment had just
#: merged, leaving corpus-present/index-forgotten undetected. Now the
#: purge brackets its corpus+index arms with reads of this sidecar (its
#: own signal writes are the per-arm marker heartbeats).
INCREMENT_EPOCH_FILE = "_INCREMENT_EPOCH.json"


def _corpus_path(base_path: str) -> str:
    return os.path.join(base_path, CORPUS_DIR)


def _index_path(base_path: str) -> str:
    return os.path.join(base_path, INDEX_DIR)


def read_curated_corpus(spark: SparkSession, base_path: str) -> DataFrame:
    """The CURRENT curated-corpus snapshot
    (doc_id, text_hash, quality, detected_lang)."""
    return sinks.read_snapshot(spark, _corpus_path(base_path)).drop(
        sinks.BUCKET_COL
    )


def merge_curated_corpus(
    spark: SparkSession,
    accepted: DataFrame,
    base_path: str,
    protocol: str | None = None,
) -> int:
    """Insert-if-absent by content hash through the shared MERGE engine
    (append-only writes, O(batch) bytes): acceptance is exactly-once
    across replays and across racing increments."""
    return sinks._merge_write(
        spark,
        accepted,
        _corpus_path(base_path),
        bucket_key="text_hash",
        anti_key="text_hash",
        partitions=[sinks.BUCKET_COL],
        dedup_key="text_hash",
        protocol=protocol,
    )


def _marker_fingerprint(base_path: str) -> str:
    """Raw bytes of the purge marker file ('' when absent). EVERY purge
    state transition rewrites the file — the pending write (fresh
    ``pending_ts``), the graph-qid re-record, the committed flip — so
    comparing fingerprints across a write window detects any purge
    activity inside it, including a replay of a crashed purge."""
    try:
        with open(
            os.path.join(base_path, PURGE_MANIFEST), encoding="ascii"
        ) as f:
            return f.read()
    except OSError:
        return ""


def _settle_purges(base_path: str, timeout: float | None = None) -> str:
    """Wait until no LIVE purge is in flight on ``base_path`` and
    return the settled marker fingerprint. "Live" = a pending marker
    whose freshest timestamp is younger than ``timeout`` (default: the
    module's ``PURGE_WAIT_SECS``, resolved at CALL time so operators
    and tests can retune it); an older pending marker is a CRASHED
    purge — its remaining arms will never run on their own, so it does
    not block (and its eventual replay, like any purge, changes the
    marker and triggers the caller's race bracket)."""
    if timeout is None:
        timeout = PURGE_WAIT_SECS
    deadline = time.time() + timeout
    while True:
        fp = _marker_fingerprint(base_path)
        state = purge_state(base_path)
        if state.get("status") != "pending":
            return fp
        # liveness from the freshest signal: the pending write or the
        # last per-arm heartbeat — a purge mid-arms keeps renewing it,
        # a crashed one goes silent and stops blocking after timeout
        ts = max(
            float(state.get("pending_ts") or 0.0),
            float(state.get("heartbeat_ts") or 0.0),
        )
        if time.time() - ts > timeout or time.time() > deadline:
            return fp
        time.sleep(0.05)


def curate_increment(
    batch_docs: DataFrame,
    base_path: str,
    min_quality: float = MIN_QUALITY,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    protocol: str | None = None,
) -> DataFrame:
    """Run ONE nightly curation increment against the maintained stores.

    Returns the batch annotation (one row per input doc, materialized
    against the PRE-increment snapshots): ``text_hash``, ``quality``,
    ``detected_lang``, ``dup_of_batch`` (lost the in-batch hash race),
    ``dup_of_history`` (hash already in the index),
    ``near_dup_of_history`` (LSH flag, annotation only), ``low_quality``
    and ``kept``. Effects: accepted docs land in the corpus store
    (insert-if-absent on hash), then all novel winners' hashes + band
    buckets merge into the dedup index (outputs-before-merge ordering —
    see module docstring).

    Scale shape per increment: one stateless projection over the batch,
    one window on md5(text) (near-uniform shuffle of the BATCH), two
    partition-pruned join-inverted index probes, and O(batch) appends to
    three stores. Nothing scans the corpus."""
    from wcdimportbot_spark.operators.text_analysis import (
        detect_language,
        quality_score,
    )
    from wcdimportbot_spark.operators.text_dedup import (
        dedup_index_merge,
        dedup_index_probe,
    )

    spark = batch_docs.sparkSession
    # a nightly batch often arrives as ONE small file (one scan split):
    # without the fan-out the quality/language expression pass — the
    # costliest per-row compute in the loop — runs on a single core.
    # minhash_signatures fans its own input out already; this puts the
    # scoring pass on the same footing (no-op at scale, see fan_out).
    batch_docs = fan_out(batch_docs, id_col)
    text = F.col(text_col)
    profiled = batch_docs.select(
        id_col,
        text_col,
        F.md5(text).alias("text_hash"),
        # name form → memoized tree construction (expr_memo)
        quality_score(text_col).alias("quality"),
        detect_language(text_col).alias("detected_lang"),
    )
    w = Window.partitionBy("text_hash").orderBy(id_col)
    # checkpoint ONCE: the profile expressions + window feed four
    # separate actions below (probe bands, corpus merge, index merge,
    # annotation) — without the checkpoint each action re-runs the
    # whole scoring chain over the batch (measured 4× the increment).
    # Lazy: the probe's eager `ann` checkpoint consumes this relation
    # (pre-mutation), so one job materializes both (r15).
    ranked = (
        profiled.withColumn("rn", F.row_number().over(w))
        .localCheckpoint(eager=False)
    )
    winners = ranked.filter(F.col("rn") == 1).drop("rn")
    # read-only probe against the PRE-increment index snapshot; ann is
    # materialized inside, so later merges can't tear its plan.
    # with_bands: the batch's minhash signature pass is the expensive
    # part of the loop — reuse it for the index merge below instead of
    # re-shingling the novel docs
    # eager=False: the batch report `out` below is built on top of the
    # annotation and materialized BEFORE any store mutates — that one
    # job pins ann + ranked + new_bands to the pre-increment snapshot
    # (the probe's default would spend a second full pass on it)
    ann, _fresh, new_bands = dedup_index_probe(
        # one row per text: rn == 1 keeps one row per text_hash
        keys.unique(winners.select(id_col, text_col), text_col),
        _index_path(base_path),
        num_hashes,
        bands,
        id_col,
        text_col,
        shingle_n,
        with_bands=True,
        eager=False,
    )
    flags = winners.join(
        ann.select(
            id_col,
            F.col("exact_dup_of_history").alias("dup_of_history"),
            "near_dup_of_history",
        ),
        id_col,
    )
    novel = flags.filter(~F.col("dup_of_history"))
    accepted = novel.filter(F.col("quality") >= min_quality).select(
        id_col, "text_hash", "quality", "detected_lang"
    )
    # ATTRIBUTED band rows (text_hash, band, bucket): the store keys
    # them by contributing hash so the index can forget. Built once —
    # the race bracket below may re-run both merges from these plans
    # (all ancestors are checkpointed/materialized batch relations)
    novel_hashes = novel.select("text_hash").distinct()
    novel_bands = (
        new_bands.join(novel.select(id_col, "text_hash"), id_col)
        .select("text_hash", "band", "bucket")
        .distinct()
    )
    # the batch report references only PRE-increment state (ann probes
    # the pre-merge snapshot; ranked is batch-local), so it is built and
    # materialized HERE, before any store mutates: this one job also
    # materializes the lazy ann/ranked/new_bands checkpoints (the r15
    # fusion rule), so the merge plans below run off cached blocks
    out = (
        ranked.select(id_col, "text_hash", "quality", "detected_lang", "rn")
        # join the annotation directly: flags ≡ winners ⋈ ann carries
        # exactly ann's rows (ann is built OVER winners), so going
        # through flags here only adds a redundant broadcast join
        .join(
            ann.select(
                id_col,
                F.col("exact_dup_of_history").alias("dup_of_history"),
                "near_dup_of_history",
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            "text_hash",
            "quality",
            "detected_lang",
            (F.col("rn") > 1).alias("dup_of_batch"),
            F.coalesce(F.col("dup_of_history"), F.lit(False)).alias(
                "dup_of_history"
            ),
            F.coalesce(F.col("near_dup_of_history"), F.lit(False)).alias(
                "near_dup_of_history"
            ),
            (F.col("quality") < min_quality).alias("low_quality"),
            (
                (F.col("rn") == 1)
                & F.coalesce(~F.col("dup_of_history"), F.lit(True))
                & (F.col("quality") >= min_quality)
            ).alias("kept"),
        )
        .localCheckpoint(eager=True)
    )

    def _mutate() -> None:
        # OUTPUTS FIRST is a PUBLISH order, not a compute order: the
        # corpus append and the index merges overlap their batch-side
        # evaluation, while the gate chain pins corpus → bands → hashes
        # publishes exactly as the serial form did (the index merge's
        # publish_gate waits for the corpus arm — engines call it
        # before taking any lock, see versioned.run_publish_ordered).
        def _corpus_arm(_gate) -> int:
            # arm 0 — no gate; idempotent insert-if-absent by hash
            n = merge_curated_corpus(
                spark, accepted, base_path, protocol=protocol
            )
            hooks.point("increment.corpus.merged")
            return n

        def _index_arm(gate) -> None:
            # the index learns every novel winner (kept or low-quality:
            # its hash is now history either way), reusing the probe's
            # already-materialized signature pass
            dedup_index_merge(
                novel.select(id_col, text_col),
                _index_path(base_path),
                num_hashes,
                bands,
                id_col,
                text_col,
                shingle_n,
                protocol=protocol,
                precomputed=(novel_hashes, novel_bands),
                publish_gate=gate,
            )

        versioned.run_publish_ordered([_corpus_arm, _index_arm])

    # PURGE-RACE CONTRACT (r12 verdict Next #1). The increment's two
    # store mutations can straddle a concurrent purge's arms (corpus
    # delete → index hash delete → index band delete), leaving the
    # MIXED states the serial contract forbids: the corpus holding a
    # batch whose hashes the index forgot, or — worse — the index
    # remembering content the purge removed from the corpus, so every
    # future re-send of it drops as dup_of_history forever. Per-store
    # publishes are already serialized (lock or optimistic CAS); the
    # seam is CROSS-store. Pin: the other side's fingerprint is the
    # purge marker read after settling in-flight purges, so a re-run
    # re-asserts BOTH merges (idempotent insert-if-absent) after the
    # purge commits — converging onto the purge→ingest serial order
    # (content back in corpus AND index together; the reference's
    # conflict-as-success, crud/create.py:39-45).
    versioned.epoch_bracket(
        base_path,
        INCREMENT_EPOCH_FILE,
        lambda: _settle_purges(base_path),
        1.0,
        _mutate,
        "purge_documents",
    )
    return out


#: two-phase purge marker (the store_import.py:74 manifest pattern): a
#: purge spans up to four independent store publishes (corpus, index
#: hashes, index bands, ANN codes); ``pending`` lands atomically BEFORE
#: the first and flips to ``committed`` after the last, so a crash
#: anywhere inside the window is detectable and the remediation — replay
#: the purge — is safe because every component delete swallows
#: already-deleted keys (the reference's tolerant delete,
#: ``crud/delete.py:44-61``).
PURGE_MANIFEST = "_PURGE_MANIFEST.json"


def _write_purge_marker(base_path: str, payload: dict) -> None:
    """Atomic write-temp + rename (the _CURRENT discipline)."""
    import json

    os.makedirs(base_path, exist_ok=True)
    p = os.path.join(base_path, PURGE_MANIFEST)
    tmp = p + ".tmp"
    with open(tmp, "w", encoding="ascii") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)


#: store-level ANN binding (r12 verdict Next #5): a sidecar at the
#: curation base declaring "an ANN store at PATH indexes this corpus,
#: vec_id = <key column>". With it, purge_documents derives the doomed
#: vec_ids ITSELF and runs the ANN arm automatically — a doc-purge
#: caller that maintains an ANN index can no longer silently leave the
#: doomed vectors behind by forgetting the ann_vec_ids argument (the
#: marker's arm list records only what was REQUESTED, so no replay
#: would ever have caught the omission).
ANN_BINDING = "_ANN_BINDING.json"


def bind_ann_store(
    base_path: str, ann_path: str, key: str = "doc_id"
) -> None:
    """Declare that the ANN store at ``ann_path`` indexes this curation
    base's corpus with ``vec_id`` = the corpus's ``key`` column. From
    then on every :func:`purge_documents` on ``base_path`` (including
    :func:`curate_refresh`'s internal purges) derives the doomed
    vec_ids and removes them from the ANN codes store under the same
    two-phase marker — no ``ann_vec_ids`` argument needed. Explicit
    ``ann_path``/``ann_vec_ids`` arguments still win (callers that
    resolved vec_ids themselves skip the derivation). Relative
    ``ann_path`` values resolve against ``base_path``."""
    import json

    os.makedirs(base_path, exist_ok=True)
    p = os.path.join(base_path, ANN_BINDING)
    tmp = p + ".tmp"
    with open(tmp, "w", encoding="ascii") as f:
        json.dump({"ann_path": ann_path, "key": key}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)


def ann_binding(base_path: str) -> dict | None:
    """The base's ANN binding (``{"ann_path", "key"}``) or None."""
    import json

    try:
        with open(
            os.path.join(base_path, ANN_BINDING), encoding="ascii"
        ) as f:
            return json.load(f)
    except OSError:
        return None


def purge_state(base_path: str) -> dict:
    """State of the last purge: ``{"status": "none" | "pending" |
    "committed", ...}``. ``pending`` means a purge is running right now
    or crashed mid-window — replaying it is the safe remediation."""
    import json

    try:
        with open(
            os.path.join(base_path, PURGE_MANIFEST), encoding="ascii"
        ) as f:
            return json.load(f)
    except OSError:
        return {"status": "none"}


def purge_documents(
    spark: SparkSession,
    doomed: DataFrame,
    base_path: str,
    *,
    id_col: str = "doc_id",
    bands: int = 4,
    ann_path: str | None = None,
    ann_vec_ids: DataFrame | None = None,
    graph_store: str | None = None,
    item_hashes: DataFrame | None = None,
    output_dirs: list[str] | None = None,
    vacuum: bool = False,
    force: bool = False,
    marker_extra: dict | None = None,
    protocol: str | None = None,
) -> dict:
    """Composed document PURGE across every store that remembers the
    doomed content (r11 verdict Next #1): curated-corpus rows, dedup-
    index exact hashes AND band fingerprints
    (:func:`~wcdimportbot_spark.operators.text_dedup.dedup_index_delete`),
    and optionally the ANN codes store — all under one two-phase marker.
    The ANN arm runs when the caller passes ``ann_path`` +
    ``ann_vec_ids`` explicitly, OR automatically when the base carries
    an ANN BINDING (:func:`bind_ann_store` — r12 verdict Next #5): the
    binding names the ANN store and the corpus key column that is its
    ``vec_id``, and the purge derives the doomed vec_ids itself
    (id-form input maps directly; hash-form resolves through one
    column-pruned corpus scan run BEFORE the corpus arm and recorded
    in the marker for crash replay). A caller that maintains an ANN
    index can therefore no longer leave doomed vectors behind by
    forgetting the argument.
    After it commits, re-ingesting the same content is ACCEPTED back
    into the corpus (the index forgot), which is the reference's
    delete→re-import contract (``crud/delete.py:44-61``;
    ``tests/test_wikibase_crud.py:168-342``) lifted to the LLM stores.

    ``doomed`` carries either ``text_hash`` directly, or ``id_col`` —
    then the hashes come from ONE column-pruned corpus scan (two string
    columns, semi-joined against the broadcast id list; the corpus is
    keyed on content hash, so a doc-id probe cannot partition-prune —
    callers purging at scale should pass hashes). Note the quality-gate
    asymmetry: a LOW-QUALITY novel doc's hash entered the index but
    never the corpus, so an id-based lookup cannot find it — purge such
    docs by hash.

    The graph arm (``graph_store`` + ``item_hashes``): the citation-graph
    stores key on ITEM identity hashes (P12 / F3-F4), not on document
    ``text_hash`` — the caller that knows which graph items a doomed doc
    produced passes them as a (hash) or (hash, subject_qid) relation.
    With ``subject_qid`` present the claims delete prunes straight off
    it; without it, the qids come from one column-pruned two-column scan
    of the items store (broadcast semi-join on hash — hash-bucketed, so
    the lookup cannot prune; pass qids when purging at scale). The
    resolved qids are RECORDED in the pending marker (keyed by a digest
    of the item-hash set), so a crash after the items arm — which
    removes the lookup source — still converges under a plain hash-only
    replay: the replay inherits the crashed attempt's resolution from
    the marker. All three graph deletes (items, claims, cache) ride the
    same pruned copy-on-write engine as ``--delete-page``
    (cli.py:505-528).

    Order: corpus first (the user-visible content), then index hashes,
    then index bands, then ANN, then the graph stores. A crash between
    any two leaves the ``pending`` marker; replaying the purge WITH THE
    SAME DOOMED INPUT converges: the marker records the input's digest
    plus every resolution the crashed attempt derived from rows its own
    arms then deleted (the id→hash map for id-form purges, the
    hash→qid map for the graph arm), so the replay inherits them
    instead of resolving against stores that no longer hold the rows;
    every component delete is a swallowed no-op on already-deleted
    keys, and each is itself a pruned copy-on-write snapshot publish
    (O(touched-buckets) writes, untouched dirs hardlinked). While a
    pending marker exists, any purge with a DIFFERENT input set — and
    any :func:`curate_refresh`, whose internal purge rides this path —
    raises instead of clobbering the crashed purge's only copy of those
    resolutions; ``force=True`` overrides after manual remediation.

    Concurrency (r12 verdict Next #1 — the purge-vs-writer seam): each
    per-store publish is already serialized (lock file or optimistic
    CAS), so the hazard is CROSS-store — a concurrent
    :func:`curate_increment` whose corpus and index merges straddle
    this purge's arms could leave a mixed state neither serial order
    allows (corpus holding content the index forgot, or the index
    remembering content the corpus dropped — every re-send then drops
    forever). The pin is cooperative and TWO-SIDED (r14 closed the
    one-sided liveness hole): this function heartbeats the marker
    after EVERY arm (``arms_done`` + ``heartbeat_ts``) and the
    increment fingerprints the marker across its own write window,
    settling live purges before writing and re-asserting both of its
    merges if any purge activity landed inside the window; SYMMETRICALLY
    the increment bumps :data:`INCREMENT_EPOCH_FILE` inside every
    mutate attempt and this function brackets its corpus+index arms
    with reads of that sidecar, re-running both deletes when the bytes
    changed — so an increment whose whole window fell inside one slow
    arm (where the marker stays byte-quiet) is still detected, by the
    purge. Every overlap converges onto one of the two serial orders
    (purge→ingest ⇒ the batch's content present in corpus AND index;
    ingest→purge ⇒ doomed content absent from both). Threaded stress
    plus the ``s13_purge_race`` registry row pin exactly this
    serializability.

    Boundary — what a purge does NOT forget (deliberate, documented so
    operators compose remediation correctly): (a) derived OUTPUT
    datasets already shipped downstream (the streaming gates'
    ``fresh_out`` / rejects / accepted-ledger parquet, training-prep
    shards) — those are consumer-owned copies; for the
    ``batch_id``-partitioned gate outputs THIS engine wrote, pass their
    dirs as ``output_dirs`` and the purge rewrites exactly the touched
    batch partitions (:func:`purge_output_partitions`) — copies a
    consumer moved elsewhere remain the consumer's job; (b) trained
    ARTIFACTS whose weights saw the content (BPE merge tables,
    quality-classifier weights, ANN centroids — the ANN staleness
    trigger counts deletes symmetrically, so heavy purging flips
    ``stale`` and the retrain refits on surviving data) and MERGED
    SKETCHES (HLL registers cannot unlearn one item — remediation is
    rebuilding the affected windows); (b2) the graph store's REJECTS
    side-output — diagnostic append-only logs, the analog of the
    reference's ``*.log`` files, which its delete does not scrub
    either (``crud/delete.py`` touches items and cache only): scrub
    via log retention/rotation, not the purge; (c) streaming
    SOURCE checkpoints — a file-source stream will not reprocess a
    file it already consumed, so post-purge re-ingest of identical
    content must arrive as a new file (the ``--rinse`` CLI documents
    the same caveat).

    ``vacuum=True`` finishes the privacy contract: after the committed
    marker lands, every touched store's RETAINED HISTORY is force-
    expired (:func:`~wcdimportbot_spark.operators.versioned.
    expire_history` — Delta's VACUUM with the retention check
    disabled). Without it the copy-on-write deletes leave the doomed
    rows readable in the superseded snapshots (``read_snapshot(
    version=...)`` / ``rollback`` resurrect purged content) and their
    bytes on disk for ``RETAIN_SECS``; with it, removing the pre-purge
    version dirs drops the LAST hardlink of every rewritten file —
    bytes gone — while untouched files live on through the current
    tree's links. The ANN MODEL store is deliberately NOT vacuumed
    (centroids/codebooks are trained aggregates — boundary item (b)
    above); vacuum on a purge REPLAY still runs (that is how a crash
    between the commit marker and the vacuum converges). Cost: pure
    driver-side file removal, no Spark jobs.

    Returns ``{"corpus_deleted", "hashes_deleted", "bands_deleted",
    "ann_deleted", "items_deleted", "claims_deleted", "cache_deleted",
    "outputs_deleted", "history_expired"}`` (``outputs_deleted`` sums
    rows scrubbed across ``output_dirs``; ``history_expired`` counts
    expired snapshot/staging trees across all touched stores, 0 unless
    ``vacuum=True``)."""
    from wcdimportbot_spark.operators import sinks, versioned
    from wcdimportbot_spark.operators.text_dedup import dedup_index_delete

    def _vacuum_stores(paths: list[str]) -> int:
        if not vacuum:
            return 0
        return sum(len(versioned.expire_history(p)) for p in paths)

    vacuum_paths = [
        _corpus_path(base_path),
        os.path.join(_index_path(base_path), "hashes"),
        os.path.join(_index_path(base_path), "bands"),
    ]
    if ann_path is not None:
        from wcdimportbot_spark.operators.ann_store import _codes_path

        vacuum_paths.append(_codes_path(ann_path))
    # store-level ANN binding (r12 verdict Next #5): when the caller
    # passed no explicit ANN arguments, the base's _ANN_BINDING.json —
    # written once by bind_ann_store — makes the purge derive the
    # doomed vec_ids itself. Explicit args win (the caller resolved).
    binding = None
    bound_ann_path = None
    if ann_path is None and ann_vec_ids is None:
        binding = ann_binding(base_path)
        if binding is not None:
            bound_ann_path = binding["ann_path"]
            if not os.path.isabs(bound_ann_path):
                bound_ann_path = os.path.join(base_path, bound_ann_path)
            from wcdimportbot_spark.operators.ann_store import _codes_path

            vacuum_paths.append(_codes_path(bound_ann_path))
    if graph_store is not None:
        from wcdimportbot_spark.plans.store_import import store_paths as _sp

        # rejects stays out: it is the append-only diagnostic log the
        # purge boundary (b2) above excludes — retention/rotation owns it
        _gp = _sp(graph_store)
        vacuum_paths.extend(_gp[k] for k in ("items", "claims", "cache"))

    def _digest_n(df, col):
        # order-insensitive DISTRIBUTIVE digest of a distinct key set:
        # per-row xxhash64 fingerprints folded through count + sum +
        # bit_xor — three single-long partial-aggregating states — then
        # one driver-side md5 over the fold. The previous
        # sort_array/collect_list/concat_ws form concentrated the ENTIRE
        # key set into one executor row (hundreds of MB for a bulk purge
        # of millions of hashes); this never materializes more than 24
        # bytes of state per partition. Callers pass distinct relations,
        # so multiset-vs-set ambiguity cannot arise. Returns
        # ``(digest, count)`` — the fold already carries the exact count,
        # so callers that need both never schedule a separate count job
        # (r15 verdict Next #4: the purge ran count + digest as two jobs
        # over the same cached blocks). The digest BYTES are unchanged
        # from the two-job form (same fold, same formatting) — a byte
        # change here would strand every pre-upgrade pending marker.
        import hashlib

        r = (
            df.select(F.xxhash64(F.col(col).cast("string")).alias("_h"))
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("_h").cast("decimal(38,0)")).alias("s"),
                F.expr("bit_xor(_h)").alias("x"),
            )
            .first()
        )
        digest = hashlib.md5(
            f"{r['n']}:{r['s']}:{r['x']}".encode("ascii")
        ).hexdigest()
        return digest, int(r["n"])

    def _digest(df, col):
        return _digest_n(df, col)[0]

    def _legacy_digest(df, col):
        # the pre-r13 digest form (sorted-concat md5), kept ONLY to
        # recognize pending markers written before the digest became
        # distributive: without it a post-upgrade replay of a crashed
        # legacy purge could never match (prior_match false → 'unrelated
        # purge' raise whose suggested remediation — replay with the
        # original inputs — could never succeed; only force=True, which
        # abandons the crashed purge's recorded resolutions). The concat
        # concentrates the whole key set into one executor row — the OOM
        # the v2 fold fixed — so this runs solely on the one-time
        # versionless-marker upgrade path, never for v2 markers.
        return df.agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.sort_array(F.collect_list(F.col(col).cast("string"))),
                )
            ).alias("d")
        ).first()["d"]

    # this purge's IDENTITY is its doomed input set: the marker records
    # its digest so a replay is recognizable and an UNRELATED purge
    # cannot silently clobber a crashed purge's pending marker (and with
    # it the recorded id->hash / hash->qid resolutions — the only copies
    # once the lookup-source rows are deleted)
    id_form = "text_hash" not in doomed.columns
    # hash form: the doomed input IS the resolved hash set — build the
    # checkpointed relation up front so ONE fused job yields the input
    # digest, the doomed count, and the materialized blocks every arm
    # below reuses (the id form cannot: its hash set depends on the
    # prior-marker resolution, which needs input_digest first)
    if not id_form:
        hashes = keys.key_set(doomed, "text_hash").localCheckpoint(eager=False)
        input_digest, n_doomed = _digest_n(hashes, "text_hash")
    else:
        input_digest = _digest(doomed.select(id_col).distinct(), id_col)
    prior_marker = purge_state(base_path)
    prior_pending = prior_marker.get("status") == "pending"
    # a replay matches by the input digest (same form, same values) OR —
    # for a hash-form replay of an id-form crash — by the crashed
    # attempt's recorded RESOLVED-hash digest: the identity is the
    # doomed content, not the input's spelling
    prior_match = prior_pending and input_digest in (
        prior_marker.get("input_digest"),
        prior_marker.get("hashes_digest"),
    )
    # digests are VERSIONED in the marker (v2 = the distributive fold);
    # a pending marker with no version was written by the legacy
    # sorted-concat code — compare like-for-like in its own form
    legacy_prior = prior_pending and "digest_version" not in prior_marker
    if legacy_prior and not prior_match:
        legacy_input = _legacy_digest(
            doomed.select(id_col if id_form else "text_hash").distinct(),
            id_col if id_form else "text_hash",
        )
        prior_match = legacy_input in (
            prior_marker.get("input_digest"),
            prior_marker.get("hashes_digest"),
        )
    if prior_pending and not prior_match and not force:
        raise RuntimeError(
            f"a crashed purge is pending on {base_path} "
            f"(digest {prior_marker.get('input_digest')}); replay it with "
            f"its original inputs before purging anything else, or pass "
            f"force=True to abandon its recorded state"
        )
    if prior_pending and not prior_match and force:
        # force abandons the crashed purge's recorded state — including
        # its spilled relations (resolved hashes, ANN vec ids, refresh
        # doc ids), which would otherwise orphan
        import shutil

        for k in ("hashes_spill", "ann_vec_spill", "refresh_ids_spill"):
            if prior_marker.get(k):
                shutil.rmtree(
                    os.path.join(base_path, prior_marker[k]),
                    ignore_errors=True,
                )

    if id_form:
        corpus_path = _corpus_path(base_path)
        if not sinks.has_parquet_data(corpus_path):
            hashes = spark.createDataFrame([], "text_hash string")
        else:
            hashes = keys.key_set(
                keys.probe(
                    read_curated_corpus(spark, base_path).select(
                        id_col, "text_hash"
                    ),
                    doomed,
                    id_col,
                ),
                "text_hash",
            )
        # the crashed attempt resolved its hashes while the corpus rows
        # still existed; without this union an id-form replay after the
        # corpus arm committed resolves ZERO hashes and silently leaves
        # the dedup index remembering forever. Sub-cap sets live in the
        # marker JSON; over-cap sets live in the parquet SPILL relation
        # the marker points at (r12 verdict Next #2 — bulk purges are
        # crash-replayable from the spill alone, no caller list needed)
        prior_hashes = None
        if prior_match and prior_marker.get("doomed_hashes"):
            prior_hashes = spark.createDataFrame(
                [(h,) for h in prior_marker["doomed_hashes"]],
                "text_hash string",
            )
        elif prior_match and prior_marker.get("hashes_spill"):
            spill_p = os.path.join(base_path, prior_marker["hashes_spill"])
            if sinks.has_parquet_data(spill_p):
                prior_hashes = spark.read.parquet(spill_p).select(
                    "text_hash"
                )
        if prior_hashes is not None:
            hashes = hashes.union(prior_hashes).distinct()
        hashes = hashes.localCheckpoint(eager=False)
        # ONE fused job (runs the lazy checkpoint): the resolved-set
        # digest and the doomed count come from the same fold — the
        # count ran as a separate second job before (r15 verdict Next #4)
        resolved_digest, n_doomed = _digest_n(hashes, "text_hash")
    else:
        # hash-form input IS its own resolution — same distinct values,
        # same digest (hashes/n_doomed fused into input_digest above)
        resolved_digest = input_digest
    hashes = keys.unique(hashes, "text_hash")  # distinct, checkpointed
    if (
        id_form
        and prior_match
        and n_doomed == 0
        and prior_marker.get("hashes_recorded") is False
        and not prior_marker.get("hashes_spill")
    ):
        # LEGACY over-cap marker (pre-spill): the crashed attempt
        # recorded digests only, the corpus arm already committed, and
        # this id-form replay therefore resolved nothing. Returning the
        # swallowed-zero dict here would report success while the marker
        # stays pending and the index remembers forever — refuse instead
        # (r12 ADVICE). Markers written by this code always carry a
        # spill above the cap, so only pre-spill markers reach this.
        raise RuntimeError(
            f"the crashed purge pending on {base_path} recorded only "
            f"digests ({prior_marker.get('n_hashes')} hashes, above the "
            f"marker cap, no spill relation) and its corpus arm already "
            f"committed — an id-form replay cannot re-resolve the "
            f"doomed hashes. Replay in HASH form with the caller's own "
            f"list (the bulk caller streamed the hashes in and still "
            f"holds them), or pass force=True to abandon the marker"
        )
    if n_doomed == 0 and ann_vec_ids is None and item_hashes is None:
        # nothing anywhere remembers these docs: purge-twice (and purge
        # of never-ingested ids) is swallowed without marker churn. The
        # vacuum still runs — a crash between a prior purge's committed
        # marker and ITS vacuum converges under exactly this replay
        return {
            "corpus_deleted": 0,
            "hashes_deleted": 0,
            "bands_deleted": 0,
            "ann_deleted": 0,
            "items_deleted": 0,
            "claims_deleted": 0,
            "cache_deleted": 0,
            "outputs_deleted": 0,
            "history_expired": _vacuum_stores(vacuum_paths),
        }
    # BOUND ANN arm: derive the doomed vec_ids from the binding. Id-form
    # input maps directly (vec_id = the binding key column, which must
    # BE the purge's id column); hash-form resolves through one
    # column-pruned two-column corpus scan — run NOW, before the corpus
    # arm deletes the lookup rows, and recorded in the marker below so a
    # crash replay inherits the resolution (same discipline as the
    # id→hash and hash→qid maps). Quality-gate asymmetry carries over:
    # a doc that never entered the corpus resolves no vec_id (by
    # construction it was never encoded either).
    bound_vec_df = None
    if bound_ann_path is not None and n_doomed:
        bkey = binding.get("key", "doc_id")
        if id_form:
            if bkey != id_col:
                raise ValueError(
                    f"the ANN binding on {base_path} keys vectors by "
                    f"{bkey!r} but this purge was called with id_col="
                    f"{id_col!r}; pass doomed ids in the binding's key "
                    f"column (or explicit ann_vec_ids)"
                )
            bound_vec_df = (
                doomed.select(F.col(id_col).alias("vec_id"))
                .distinct()
                .localCheckpoint(eager=True)
            )
        else:
            parts = []
            if prior_match and prior_marker.get("ann_vec_ids"):
                parts.append(
                    spark.createDataFrame(
                        [(v,) for v in prior_marker["ann_vec_ids"]],
                        ["vec_id"],
                    )
                )
            elif prior_match and prior_marker.get("ann_vec_spill"):
                vspill = os.path.join(
                    base_path, prior_marker["ann_vec_spill"]
                )
                if sinks.has_parquet_data(vspill):
                    parts.append(
                        spark.read.parquet(vspill).select("vec_id")
                    )
            corpus_path0 = _corpus_path(base_path)
            if sinks.has_parquet_data(corpus_path0):
                corpus_rel = read_curated_corpus(spark, base_path)
                if bkey not in corpus_rel.columns:
                    raise ValueError(
                        f"the ANN binding on {base_path} names key "
                        f"{bkey!r} but the corpus has no such column"
                    )
                matched = keys.probe(
                    corpus_rel.select(bkey, "text_hash"), hashes, "text_hash"
                )
                parts.append(
                    keys.key_set(
                        matched.select(F.col(bkey).alias("vec_id")), "vec_id"
                    )
                )
            if parts:
                vec_union = parts[0]
                for p in parts[1:]:
                    vec_union = vec_union.union(p)
                bound_vec_df = vec_union.distinct().localCheckpoint(
                    eager=True
                )
                if bound_vec_df.count() == 0:
                    bound_vec_df = None
    # the pending marker is self-describing: it records WHICH arms this
    # purge spans, so the remediation that finds it after a crash knows
    # to replay with the same arm set (a replay missing the graph/ANN
    # args would flip the marker to committed with those arms unpurged)
    arms = ["corpus", "index"]
    if ann_path is not None and ann_vec_ids is not None:
        arms.append("ann")
    elif bound_vec_df is not None:
        arms.append("ann")
    if graph_store is not None and item_hashes is not None:
        arms.append("graph")
    if output_dirs:
        arms.append("outputs")
    pending = {
        "status": "pending",
        "n_hashes": int(n_doomed),
        "arms": arms,
        "input_digest": input_digest,
        "hashes_digest": resolved_digest,
        # versioned so a future digest change can again compare
        # like-for-like instead of stranding pending markers (r13
        # ADVICE: the v1→v2 switch made every pre-upgrade replay raise
        # 'unrelated purge' with an impossible remediation)
        "digest_version": 2,
        # self-describing like the arm list: a crash-replay that omits
        # vacuum=True would flip the marker to committed with the
        # doomed rows still readable in retained history
        "vacuum": bool(vacuum),
        # wall-clock of the pending write: 'pending' alone cannot
        # distinguish a purge RUNNING right now from a crashed one —
        # operators (and --purge-status readers) discriminate by age
        "pending_ts": time.time(),
    }
    if marker_extra:
        pending.update(marker_extra)
    # record the resolved hash set NOW, while every store still holds
    # its rows. For the id form this is the only way a replay can
    # re-derive its hashes after the corpus arm commits; for the hash
    # form it lets a caller that LOST its list (curate_refresh derives
    # it from corpus rows the purge itself deletes) replay from the
    # marker alone. CAPPED in the JSON: a bulk purge of millions of
    # hashes must not collect to the driver or bloat the marker — above
    # the cap the set SPILLS to a parquet side relation next to the
    # marker (distributed write, zero driver bytes) whose path + digest
    # the marker records, so a crashed bulk purge replays from the
    # spill alone (r12 verdict Next #2). The spill lands BEFORE the
    # pending marker: a marker that references it can always read it.
    spill_rel = None
    if n_doomed <= MARKER_HASHES_CAP:
        pending["doomed_hashes"] = sorted(
            r["text_hash"] for r in hashes.collect()
        )
        pending["hashes_recorded"] = True
    else:
        spill_rel = os.path.join("_PURGE_SPILL", resolved_digest)
        # hashes is eagerly checkpointed above, so overwriting a prior
        # replay's spill at the same digest never reads what it replaces
        hashes.write.mode("overwrite").parquet(
            os.path.join(base_path, spill_rel)
        )
        pending["hashes_recorded"] = False
        pending["hashes_spill"] = spill_rel
    # binding-derived vec ids ride the same record-or-spill discipline:
    # a hash-form purge's resolution comes from corpus rows its own
    # corpus arm then deletes, so the marker (or spill) is the replay's
    # only source. Id-form purges re-derive from their input — no
    # record needed.
    if bound_vec_df is not None:
        pending["ann_from_binding"] = True
        if not id_form:
            n_vecs = bound_vec_df.count()
            if n_vecs <= MARKER_HASHES_CAP:
                pending["ann_vec_ids"] = sorted(
                    r["vec_id"] for r in bound_vec_df.collect()
                )
            else:
                vec_spill = os.path.join(
                    "_PURGE_SPILL", resolved_digest + ".annvecs"
                )
                bound_vec_df.write.mode("overwrite").parquet(
                    os.path.join(base_path, vec_spill)
                )
                pending["ann_vec_spill"] = vec_spill
    if prior_match:
        # inherit the crashed attempt's recorded resolutions INTO the
        # initial pending write — a replay that crashed between its own
        # pending write and the graph arm's re-record would otherwise
        # lose the qid list permanently (the items rows are gone). The
        # `not in pending` guard keeps a replay's OWN fresher records
        # (already unions of prior + current) from being clobbered.
        for k in (
            "graph_hash_digest",
            "graph_subject_qids",
            "ann_vec_ids",
            "ann_vec_spill",
            "ann_from_binding",
            # a crashed REFRESH purge replayed out-of-band (CLI hash
            # form) must not lose the refresh's recorded doc ids — the
            # retry refresh reads them from the marker to report
            # `refreshed` truthfully
            "refresh_doc_ids",
            "refresh_ids_spill",
        ):
            if k in prior_marker and k not in pending:
                pending[k] = prior_marker[k]
    _write_purge_marker(base_path, pending)

    # per-arm marker HEARTBEAT (r12 verdict Next #1): after every arm's
    # publish commits, the marker is rewritten with the arm appended to
    # ``arms_done`` and a fresh ``heartbeat_ts``. Two consumers: (a)
    # concurrent increments fingerprint the marker across their write
    # window — an arm landing INSIDE the window changes the bytes, so
    # the increment's race repair triggers even when this purge later
    # crashes before its commit flip; (b) crash forensics read exactly
    # how far the purge got (``--purge-status``).
    arms_done: list = []

    def _arm_done(name: str) -> None:
        # idempotent on the LIST (race re-runs must not duplicate the
        # forensic entries) but every call still REWRITES the marker
        # with a fresh heartbeat_ts — the byte change is the signal
        # concurrent increments fingerprint
        if name not in arms_done:
            arms_done.append(name)
        pending["arms_done"] = arms_done
        pending["heartbeat_ts"] = time.time()
        _write_purge_marker(base_path, pending)

    # INCREMENT-race bracket (r14, see INCREMENT_EPOCH_FILE): re-runs
    # are swallowed-delete no-ops unless the increment actually
    # re-merged contested hashes, in which case they converge the final
    # state onto the ingest→purge serial order (content gone from BOTH
    # stores — never corpus-present/index-forgotten).
    corpus_path = _corpus_path(base_path)
    # the corpus and index arms run CONCURRENTLY (guide §2.6 — submit
    # independent jobs from a thread pool so the second arm's tasks
    # back-fill the first's stragglers): they mutate disjoint stores,
    # both read the already-materialized `hashes` blocks, and every
    # partial-crash interleaving is replay-convergent from the pending
    # marker (the recorded hash set + swallowed delete-twice), which is
    # exactly the property the serial order relied on too. The
    # hashes-BEFORE-bands order INSIDE dedup_index_delete stays serial —
    # that one is a real crash-ordering contract (bands-gone/
    # hash-present = can-never-re-enter). Arm heartbeats land after
    # each arm completes (arms_done still records exactly which arms
    # committed).
    from concurrent.futures import ThreadPoolExecutor

    def _corpus_arm() -> int:
        n = 0
        if n_doomed and sinks.has_parquet_data(corpus_path):
            n = sinks.delete_from_store(
                spark,
                hashes,
                corpus_path,
                key="text_hash",
                bucket_key="text_hash",
                partitions=[sinks.BUCKET_COL],
                protocol=protocol,
            )
        hooks.point("purge.corpus.deleted")
        return n

    def _index_arm() -> dict:
        if n_doomed:
            return dedup_index_delete(
                hashes,
                _index_path(base_path),
                bands=bands,
                protocol=protocol,
            )
        return {"hashes_deleted": 0, "bands_deleted": 0}

    def _arms() -> tuple:
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_corpus = pool.submit(_corpus_arm)
            f_index = pool.submit(_index_arm)
            err = None
            try:
                n_c = f_corpus.result()
            except BaseException as exc:  # noqa: BLE001 - joined below
                err = exc
            else:
                _arm_done("corpus")
            try:
                d = f_index.result()
            except BaseException as exc:  # noqa: BLE001
                err = err or exc
            else:
                _arm_done("index")
        if err is not None:
            raise err
        return n_c, d

    if n_doomed:
        attempts = versioned.epoch_bracket(
            base_path,
            None,
            lambda: versioned.epoch_read(base_path, INCREMENT_EPOCH_FILE),
            1.6,
            _arms,
            "curate_increment",
        )
    else:
        # nothing contested: this purge writes nothing an increment
        # could straddle — don't spin on unrelated increment traffic
        attempts = [_arms()]
    n_corpus = sum(n_c for n_c, _ in attempts)
    idx = {
        k: sum(d[k] for _, d in attempts)
        for k in ("hashes_deleted", "bands_deleted")
    }
    n_ann = 0
    if ann_path is not None and ann_vec_ids is not None:
        from wcdimportbot_spark.operators.ann_store import ann_index_delete

        n_ann = ann_index_delete(ann_vec_ids, ann_path, protocol=protocol)
        _arm_done("ann")
    elif bound_vec_df is not None:
        from wcdimportbot_spark.operators.ann_store import (
            _codes_path,
            ann_index_delete,
        )

        # binding-derived arm: absent codes (store not built yet, or
        # vectors never encoded) is the swallowed delete-twice case
        if sinks.has_parquet_data(_codes_path(bound_ann_path)):
            n_ann = ann_index_delete(
                bound_vec_df, bound_ann_path, protocol=protocol
            )
        _arm_done("ann")
    n_items = n_claims = n_cache = 0
    if graph_store is not None and item_hashes is not None:
        from wcdimportbot_spark.operators import cache as cache_ops
        from wcdimportbot_spark.plans.store_import import store_paths

        gpaths = store_paths(graph_store)
        # materialize once: reused by up to three pruned deletes, each
        # of which replaces the snapshot a lazy plan would re-read
        ih = item_hashes.localCheckpoint(eager=True)
        doomed_hashes = ih.select("hash").distinct()
        # resolve claim subjects BEFORE the items delete removes the
        # hash→qid rows — and RECORD them in the pending marker: after a
        # crash past the items arm the lookup source is gone, so a
        # hash-only replay re-derives the qids from the marker instead
        # (inherited only when the prior pending marker's item-hash
        # digest matches this purge's set). Passing (hash, subject_qid)
        # remains the scan-free form; the marker makes the hash-only
        # form crash-replayable too.
        qids = None
        if "subject_qid" in ih.columns:
            qids = ih.select("subject_qid").distinct()
        elif sinks.has_parquet_data(gpaths["claims"]):
            g_digest = _digest(doomed_hashes, "hash")
            # the pending marker carries the inherited resolution when
            # this call is a matched replay (written above, so a crash
            # anywhere past the initial pending write preserves it);
            # a resolution inherited from a LEGACY marker recorded its
            # digest in the v1 form — compare like-for-like there too,
            # else a post-upgrade replay whose items arm already
            # committed would lose the only copy of the qid list
            gh = pending.get("graph_hash_digest")
            match_g = gh == g_digest
            if not match_g and gh is not None and legacy_prior:
                match_g = gh == _legacy_digest(doomed_hashes, "hash")
            recorded = (
                pending.get("graph_subject_qids") if match_g else None
            )
            q_list = []
            if sinks.has_parquet_data(gpaths["items"]):
                items_rel = sinks.read_items(spark, gpaths["items"]).select(
                    "hash", F.col("qid").alias("subject_qid")
                )
                q_list = [
                    r["subject_qid"]
                    for r in keys.key_set(
                        keys.probe(items_rel, ih, "hash"), "subject_qid"
                    ).collect()
                ]
            q_list = sorted(set(q_list) | set(recorded or []))
            if q_list:
                qids = spark.createDataFrame(
                    [(q,) for q in q_list], "subject_qid string"
                )
                # update pending IN PLACE: the arm heartbeats rewrite
                # the same dict, so a merged-copy write here would lose
                # the qid resolution at the next heartbeat
                pending["graph_hash_digest"] = g_digest
                pending["graph_subject_qids"] = q_list
                _write_purge_marker(base_path, pending)
        # IMPORT-race repair (r13/r14): run the three deletes under the
        # shared import-race bracket — a straddle would otherwise leave
        # cache-present/items-absent, and the P12 probe then skips
        # every re-import of the page forever.
        from wcdimportbot_spark.plans.store_import import (
            run_deletes_with_import_repair,
        )

        def _graph_deletes() -> tuple[int, int, int]:
            # three disjoint stores, qids already resolved and recorded
            # in the marker BEFORE any delete — each delete is an
            # idempotent swallowed no-op on replay, so the set is
            # replay-convergent from ANY partial-crash interleaving and
            # the three can run concurrently (guide §2.6). The
            # import-race bracket around this function re-runs the whole
            # set on a detected overlap, parallel or not.
            def _items() -> int:
                n = 0
                if sinks.has_parquet_data(gpaths["items"]):
                    n = sinks.merge_delete_items(
                        spark,
                        doomed_hashes,
                        gpaths["items"],
                        protocol=protocol,
                    )
                hooks.point("purge.graph.items.deleted")
                return n

            def _claims() -> int:
                if qids is not None and sinks.has_parquet_data(
                    gpaths["claims"]
                ):
                    return sinks.merge_delete_claims(
                        spark, qids, gpaths["claims"], protocol=protocol
                    )
                return 0

            def _cache() -> int:
                if sinks.has_parquet_data(gpaths["cache"]):
                    return cache_ops.merge_delete_cache(
                        spark,
                        doomed_hashes,
                        gpaths["cache"],
                        protocol=protocol,
                    )
                return 0

            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=3) as pool:
                futures = [
                    pool.submit(f) for f in (_items, _claims, _cache)
                ]
                return tuple(f.result() for f in futures)

        ni, nc, nk = run_deletes_with_import_repair(
            graph_store, _graph_deletes
        )
        n_items += ni
        n_claims += nc
        n_cache += nk
        _arm_done("graph")
    n_outputs = 0
    if output_dirs and n_doomed:
        # consumer-facing gate outputs: scrub the touched batch
        # partitions (keyed by content hash — the id-based form cannot
        # reach outputs once the corpus row is gone, same asymmetry as
        # the quality-gate note above)
        for d in output_dirs:
            n_outputs += purge_output_partitions(spark, hashes, d)[
                "rows_deleted"
            ]
        _arm_done("outputs")
    out = {
        "corpus_deleted": int(n_corpus),
        "hashes_deleted": int(idx["hashes_deleted"]),
        "bands_deleted": int(idx["bands_deleted"]),
        "ann_deleted": int(n_ann),
        "items_deleted": int(n_items),
        "claims_deleted": int(n_claims),
        "cache_deleted": int(n_cache),
        "outputs_deleted": int(n_outputs),
        # history vacuum AFTER every arm's delete committed: the purged
        # current trees are what survive; everything behind them (the
        # snapshots still holding doomed rows) is expired
        "history_expired": _vacuum_stores(vacuum_paths),
    }
    _write_purge_marker(
        base_path,
        {"status": "committed", "arms": arms, "vacuum": bool(vacuum), **out},
    )
    # the spill is purge-lifetime state: once the marker commits nothing
    # can need it (replays of a committed purge re-resolve or swallow).
    # Removing the whole _PURGE_SPILL dir also collects orphans left by
    # a crash between a prior commit and ITS cleanup — safe because the
    # pending marker serializes purges, so no other purge is in flight.
    import shutil

    shutil.rmtree(
        os.path.join(base_path, "_PURGE_SPILL"), ignore_errors=True
    )
    return out


def purge_output_partitions(
    spark: SparkSession,
    doomed_hashes: DataFrame,
    out_path: str,
    key_col: str = "text_hash",
) -> dict:
    """Scrub purged content out of a CONSUMER-FACING output directory —
    the streaming gates' ``fresh_out`` / rejects side-outputs and any
    other plain ``batch_id=``-partitioned parquet this engine shipped
    downstream. This makes purge boundary item (a) OPERABLE instead of
    merely documented: those dirs are deliberately not snapshot stores
    (the downstream contract is plain parquet), so the pruned
    copy-on-write delete cannot serve them.

    One column-pruned scan of ``key_col`` finds the touched ``batch_id``
    partitions; ONLY those are rewritten minus the doomed rows —
    untouched partitions are never read for data nor written, the same
    O(touched-partitions) write shape as the store deletes. A touched
    partition left EMPTY is removed outright. Absent hashes touch
    nothing — the swallowed delete-twice contract.

    Honesty note: plain dirs mean the rewrite is in-place, not a
    snapshot publish. The kept rows are STAGED TO DISK (a hidden
    ``_scrub_staging`` dir Spark's listing ignores) and swapped in
    per-partition with crash-healing renames
    (:func:`~wcdimportbot_spark.operators.sinks.scrub_plain_partitions`)
    — memory stays one write buffer regardless of partition size, and a
    crash at any point is remediated by replaying the purge
    (idempotent; the next scrub heals half-finished swaps first).
    Readers racing the rewrite should resolve their plans before or
    after, not across, a purge — the documented operational window for
    consumer-owned outputs.

    Returns ``{"rows_deleted", "partitions_rewritten",
    "partitions_removed"}``."""
    from wcdimportbot_spark.operators import sinks

    if not sinks.has_parquet_data(out_path):
        return {
            "rows_deleted": 0,
            "partitions_rewritten": 0,
            "partitions_removed": 0,
        }
    data = spark.read.parquet(out_path)
    if key_col not in data.columns or "batch_id" not in data.columns:
        raise ValueError(
            f"output dir {out_path} lacks a {key_col!r}/batch_id column "
            f"— not a gate output layout this purge understands"
        )
    return sinks.scrub_plain_partitions(
        spark, out_path, doomed_hashes, key_col, ["batch_id"]
    )


def curate_refresh(
    batch_docs: DataFrame,
    base_path: str,
    min_quality: float = MIN_QUALITY,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    protocol: str | None = None,
) -> DataFrame:
    """Re-crawl REFRESH increment (r11 verdict Next #2): a re-sent
    ``doc_id`` whose text CHANGED replaces its old corpus row instead of
    accumulating next to it — the curated corpus converges to one row
    per live text, each the LATEST version of its representative doc.

    Mechanics: find the batch ids' current corpus rows whose stored
    ``text_hash`` differs from the re-sent text's hash (one column-pruned
    two-column corpus scan against the broadcast batch — the corpus is
    hash-keyed, so an id probe cannot prune; re-crawl batches are small
    next to the corpus), PURGE those stale fingerprints through
    :func:`purge_documents` (corpus rows + index hash/band rows, under
    the two-phase marker), then run the standard
    :func:`curate_increment` — the fresh content now probes as novel and
    is accepted on its own quality merits.

    Identity caveat: the corpus keys on CONTENT hash and keeps one
    representative ``doc_id`` per text (the in-batch window winner), so
    a refresh replaces rows whose REPRESENTATIVE id is in the batch; a
    doc that lost its original hash race carries no corpus row of its
    own to replace (its re-sent content simply inserts if novel).
    Unchanged re-sent docs (same hash) are untouched: they annotate as
    ``dup_of_history`` exactly like in the plain increment.

    Crash-safe: a refresh that died inside its internal purge is healed
    on the NEXT refresh call — the stale set is not re-derivable then
    (the crashed corpus arm deleted the rows it comes from), so the
    replay runs from the marker's recorded hash set (the JSON list
    below the marker cap, the parquet spill relation above it) before
    anything else; a crashed MULTI-ARM purge (not this function's shape) raises
    instead, because auto-replaying it corpus+index-only would commit a
    narrower purge than its owner requested.

    Returns the :func:`curate_increment` annotation plus a ``refreshed``
    boolean (this doc's old corpus version was purged this call).
    Callers that also maintain an ANN index over document embeddings
    re-encode the ``refreshed`` docs and push the new vectors through
    :func:`~wcdimportbot_spark.operators.ann_store.ann_index_upsert`
    (NOT add-batch — insert-if-absent would duplicate a re-encoded
    vector whose cluster moved beside its stale row); the streaming
    twin is ``ann_ingest_batch_fn(mode="upsert")``."""
    from wcdimportbot_spark.operators import sinks

    spark = batch_docs.sparkSession
    # a PENDING marker means a purge (possibly this refresh's own, in a
    # crashed earlier run) died mid-window. Its stale set is NOT
    # re-derivable here — the crashed corpus arm already deleted the
    # rows this function computes it from — so replay it from the
    # marker's recorded hash set FIRST; without this the marker wedges
    # pending forever (blocking all purges) and the index keeps the old
    # fingerprints
    prior = purge_state(base_path)
    if prior.get("status") == "pending":
        spill_rel = prior.get("hashes_spill")
        spill_ok = spill_rel and sinks.has_parquet_data(
            os.path.join(base_path, spill_rel)
        )
        # binding-derived ANN arms are auto-replayable: the replay's
        # plain hash-form purge re-derives the arm from the binding and
        # inherits the recorded vec-id resolution from the marker
        replayable_arms = prior.get("arms") == ["corpus", "index"] or (
            prior.get("arms") == ["corpus", "index", "ann"]
            and prior.get("ann_from_binding")
        )
        if not replayable_arms or not (
            prior.get("doomed_hashes") or spill_ok
        ):
            # a crashed MULTI-ARM purge (explicit graph/ann/outputs
            # args) must be replayed by its owner with the full arm set
            # — an auto-replay here would flip the marker to committed
            # with those arms unpurged (the narrower-purge hazard the
            # arm recording exists to prevent)
            raise RuntimeError(
                f"a crashed purge with arms {prior.get('arms')} is "
                f"pending on {base_path}; replay it with its original "
                f"inputs before refreshing"
            )
        # sub-cap hash sets live in the marker JSON; over-cap sets live
        # in the spill relation the marker points at — both heal here
        healed_doomed = (
            spark.createDataFrame(
                [(h,) for h in prior["doomed_hashes"]], "text_hash string"
            )
            if prior.get("doomed_hashes")
            else spark.read.parquet(
                os.path.join(base_path, spill_rel)
            ).select("text_hash")
        )
        # docs whose stale version the heal is about to purge: their
        # retry annotation must say refreshed=True even though the
        # stale computation below finds nothing (the corpus rows were
        # already gone before this call) — ANN-maintaining callers key
        # their re-encode + ann_index_upsert on this flag. Over-cap
        # refreshes recorded the id set in a SPILL relation instead of
        # the marker JSON (same discipline as the hashes); materialize
        # it NOW — the replay purge's commit removes _PURGE_SPILL, and
        # a lazy plan would read a deleted path afterwards.
        healed_ids = list(prior.get("refresh_doc_ids", []))
        healed_ids_df = None
        if not healed_ids and prior.get("refresh_ids_spill"):
            rspill = os.path.join(base_path, prior["refresh_ids_spill"])
            if sinks.has_parquet_data(rspill):
                healed_ids_df = (
                    spark.read.parquet(rspill)
                    .select(id_col)
                    .distinct()
                    .localCheckpoint(eager=True)
                )
        purge_documents(
            spark,
            healed_doomed,
            base_path,
            bands=bands,
            # the crashed purge's recorded obligations carry over: a
            # vacuum=True privacy purge healed WITHOUT its vacuum would
            # commit with the doomed rows still readable in retained
            # history (review-confirmed), and the refresh doc ids are
            # what lets the retry report `refreshed` truthfully below
            vacuum=bool(prior.get("vacuum")),
            marker_extra={
                k: prior[k]
                for k in ("refresh_doc_ids", "refresh_ids_spill")
                if k in prior
            },
            protocol=protocol,
        )
    else:
        healed_ids = []
        healed_ids_df = None
    batch = batch_docs.dropDuplicates([id_col])
    # the id type is the BATCH's property, not ours to assume: a
    # string-keyed corpus (nothing forbids string doc ids — the graph
    # stores key on string hashes) must union cleanly in the empty and
    # heal branches below, so both literal relations derive their
    # schema from the batch instead of hardcoding `long`
    from pyspark.sql.types import StringType, StructField, StructType

    id_field = StructField(id_col, batch_docs.schema[id_col].dataType, True)
    new_hashes = batch.select(
        id_col, F.md5(F.col(text_col)).alias("_new_hash")
    )
    corpus_path = _corpus_path(base_path)
    if sinks.has_parquet_data(corpus_path):
        stale = (
            read_curated_corpus(spark, base_path)
            .select(id_col, "text_hash")
            .join(F.broadcast(new_hashes), id_col)
            .filter(F.col("text_hash") != F.col("_new_hash"))
            .select(id_col, "text_hash")
            .localCheckpoint(eager=True)
        )
    else:
        stale = spark.createDataFrame(
            [],
            StructType(
                [id_field, StructField("text_hash", StringType(), True)]
            ),
        )
    if stale.count():
        # record WHICH docs this refresh is replacing: if this purge
        # crashes, the heal on the next refresh needs the ids to
        # report `refreshed` truthfully (the hash→id mapping dies
        # with the corpus rows the purge deletes). Same cap-or-spill
        # discipline as the marker's hash set (r13 verdict Next #1 —
        # this was the one uncapped marker field): a bulk re-crawl
        # refresh of millions of edited docs must not collect its id
        # set onto the driver nor write a multi-hundred-MB marker.
        # The spill lands BEFORE the pending marker references it; the
        # purge's commit-time _PURGE_SPILL cleanup collects it.
        stale_ids = stale.select(id_col).distinct()
        n_stale_ids = stale_ids.count()
        if n_stale_ids <= MARKER_HASHES_CAP:
            extra = {
                "refresh_doc_ids": sorted(
                    r[id_col] for r in stale_ids.collect()
                )
            }
        else:
            rel = os.path.join("_PURGE_SPILL", "refresh_ids")
            stale_ids.write.mode("overwrite").parquet(
                os.path.join(base_path, rel)
            )
            extra = {"refresh_ids_spill": rel}
        purge_documents(
            spark,
            stale.select("text_hash"),
            base_path,
            bands=bands,
            marker_extra=extra,
            protocol=protocol,
        )
    ann = curate_increment(
        batch_docs,
        base_path,
        min_quality=min_quality,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        protocol=protocol,
    )
    refreshed_ids = stale.select(id_col).distinct()
    if healed_ids:
        refreshed_ids = refreshed_ids.union(
            spark.createDataFrame(
                [(i,) for i in healed_ids], StructType([id_field])
            )
        ).distinct()
    if healed_ids_df is not None:
        refreshed_ids = refreshed_ids.union(healed_ids_df).distinct()
    return ann.join(
        refreshed_ids.withColumn("_r", F.lit(True)),
        id_col,
        "left",
    ).withColumn(
        "refreshed", F.coalesce(F.col("_r"), F.lit(False))
    ).drop("_r")


def curation_increment_batch_fn(
    base_path: str,
    min_quality: float = MIN_QUALITY,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "increment",
):
    """``foreachBatch`` adapter — the STREAMING twin: each micro-batch
    runs one curation increment against the same maintained stores the
    nightly job uses (batch/streaming share state through snapshots,
    not Spark state stores). Idempotent under replay with NO batch-id
    ledger: a replayed micro-batch's docs are either in-batch winners
    that re-accept into the corpus (insert-if-absent absorbs them) or
    index hits that drop; either way the stores converge to the same
    content — pinned by the streaming test.

    ``mode`` mirrors the ANN gate's split (``ann_ingest_batch_fn``):
    ``"increment"`` (default) is :func:`curate_increment` — correct for
    append streams whose re-sends are exact replays. A stream carrying
    RE-CRAWLED docs (same ``doc_id``, possibly CHANGED text) must use
    ``"refresh"`` (:func:`curate_refresh`): under increment mode a
    changed re-send is accepted as a brand-new document NEXT TO its
    stale corpus version, which then lives forever. Refresh replay is
    convergent, not no-op — a replayed batch re-purges fingerprints the
    first attempt already swapped (swallowed) and re-accepts its own
    content (insert-if-absent absorbs it)."""
    if mode not in ("increment", "refresh"):
        raise ValueError(
            f"mode must be 'increment' or 'refresh', got {mode!r}"
        )
    step = curate_increment if mode == "increment" else curate_refresh

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        step(
            batch_df,
            base_path,
            min_quality=min_quality,
            id_col=id_col,
            text_col=text_col,
        )

    return fn
