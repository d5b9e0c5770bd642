"""Maintained, snapshot-versioned IVFPQ ANN index store (r8 verdict #1).

The dedup family already has the full production loop — stored index →
probe → filter → append (``text_dedup.dedup_index_ingest``) — while the
similarity family rebuilt its IVFPQ artifacts per session (a memo, not a
store). At 100 TB an ANN index is a versioned artifact exactly like the
dedup index and the BPE merge table: built once per corpus version,
served by every probe, grown incrementally as ingest batches arrive, and
retrained on an explicit staleness decision. This module publishes the
artifacts through the same snapshot machinery (``operators/versioned``:
staging dir → atomic pointer flip, writer lock, hardlinked unchanged
files) the MERGE stores use.

Store layout under ``base_path``::

    model/_CURRENT -> vNNNNNNNN
    model/vNNNNNNNN/centroids/*.parquet   (cluster, centroid)
    model/vNNNNNNNN/codebooks/*.parquet   (subspace, code, center)
    model/vNNNNNNNN/meta.json             (m, n_codes, dim, seed, n_built)
    codes/_CURRENT -> vNNNNNNNN
    codes/vNNNNNNNN/cluster=C/*.parquet   (vec_id, codes)

- **model** is ONE snapshot holding both relations plus meta — they
  version atomically (codebooks are trained on residuals against
  exactly these centroids; mixing versions would decode garbage). It is
  tiny (k×d + m×n_codes×subdim doubles ≈ a few hundred KB) and loads
  driver-side like the PSL table or a BPE merge list.
- **codes** is the corpus-scale artifact, PARTITIONED BY ``cluster``:
  a probe broadcasts its (query, cluster) LUT fan-out, so the codes
  side of the ADC join never shuffles (no Exchange — broadcast hash
  join), and the driver-known probed-cluster set becomes a partition
  filter, so the scan READS only ``nprobe/num_clusters`` of the files —
  the IVF scan fraction made I/O-real, not just compute-real. Rows are
  sorted (cluster, vec_id) per task so the partitioned writer inserts
  no sort and row-group stats stay tight.

**Incremental add-batch** assigns new vectors to the FROZEN coarse
centroids (same argmin ‖x−c‖² as the k-means assignment), residual-
encodes them with the FROZEN codebooks, and MERGEs them into the codes
store through the shared engine (locked or lock-free optimistic, like
every other MERGE store) — insert-if-absent on ``vec_id``, existing
rows win, and APPEND-ONLY writes: fresh codes land as new part files in
their cluster dirs, never a rewrite of stored rows (O(batch) bytes per
ingest). Exactly the reference's cache-probe-then-upload idempotence
(``src/models/wikimedia/wikipedia/wikipedia_page.py:110-141``): re-adding
a batch after a crash is a no-op. Under a fixed model version
``vec_id → cluster`` is deterministic, so the anti-join probe of only
the batch's touched cluster partitions is exact.

**Staleness contract.** Codebooks quantize the distribution they were
trained on. ``meta.n_built`` records the build-time corpus size;
:func:`ann_index_stats` reports ``growth_ratio`` (stored vectors /
n_built) and its SYMMETRIC form ``drift_ratio = max(growth_ratio,
1/growth_ratio)`` — the retrain trigger. Retrain (``ann_index_build``
again — it atomically replaces both stores) when **drift_ratio**
exceeds ~2× (growth OR heavy deletion: a mostly-purged index is
exactly as stale as a doubled one, and growth_ratio alone would never
flag it) or when the serving-side recall contract
(``ann_recall_report`` / ``recall_margin_ok`` over a sampled query
slice) starts eroding — the margin flag is the designed early-warning
signal. Until then, added vectors are exactly as
searchable as built ones (same codebooks, same scan), merely quantized
by a slightly stale model.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wcdimportbot_spark.functions import keys
from wcdimportbot_spark.operators import versioned

MODEL_DIR = "model"
CODES_DIR = "codes"

CODES_SCHEMA = "vec_id long, cluster int, codes array<int>"

#: per-codes-snapshot sidecar recording the MODEL version the stored
#: codes were encoded under. Model and codes are two independently
#: versioned stores; without the stamp a probe racing a retrain could
#: pair NEW centroids with OLD codes (residuals encoded against the old
#: centroids — wrong ADC distances, silently degraded recall), and two
#: racing rebuilds could settle permanently on writer A's model + writer
#: B's codes (r10 ADVICE, both mediums). The stamp makes the CODES store
#: the authority: probes load the model version the current codes
#: snapshot names, and add-batches verify the model they encoded under
#: is still the one the codes base records. Spark ignores ``_``-prefixed
#: files, and merge hardlinking carries the stamp forward unchanged.
MODEL_STAMP = "_MODEL_VERSION.json"

#: symmetric epoch sidecars (r15) — the ANN-codes twin of the dedup
#: index's merge-vs-delete bracket (text_dedup.DELETE_EPOCH_FILE). The
#: codes store has ONE relation, but the same mixed-state algebra
#: applies because its two writers each have a two-step window the
#: store's snapshot lock does not cover:
#:
#:   DELETE = resolve (vec_id → cluster scan) → publish (pruned CoW).
#:     An add/upsert landing between them can insert (or move, via
#:     upsert) a DOOMED vec_id into a cluster the resolved pair set
#:     never named — the pruned publish misses it and the vector stays
#:     SERVED after a "complete" privacy purge.
#:   MERGE = anti-join probe → publish (insert-if-absent). A delete
#:     landing between them removes a row the probe just saw, so the
#:     merge SKIPS re-inserting it — content the merge claims to have
#:     added is absent, which matches neither serial order when the
#:     delete's pair set simultaneously missed the merge's new rows.
#:
#: Both windows run under :func:`versioned.epoch_bracket`: a delete
#: re-run RE-RESOLVES from the live store and re-deletes (converging on
#: merge→delete: the doomed vector is gone no matter which cluster the
#: racer put it in), a merge re-run repeats its insert-if-absent
#: publish (converging on delete→merge: rows the delete swept mid-probe
#: are re-inserted). ``ann_index_build`` (full-rewrite retrain) only
#: BUMPS the merge side — its codes publish replaces the whole store
#: from the corpus input, so either serial order yields exactly its
#: output and a racing delete just needs to notice and re-resolve
#: against the new snapshot. Files live at the store root, next to
#: model/ and codes/.
ANN_DELETE_EPOCH_FILE = "_ANN_DELETE_EPOCH.json"
ANN_MERGE_EPOCH_FILE = "_ANN_MERGE_EPOCH.json"


def ann_merge_epoch(base_path: str) -> str:
    """Fingerprint of the add/upsert side's epoch sidecar — callers
    that resolve (vec_id, cluster) pairs THEMSELVES before handing them
    to :func:`ann_index_delete` (the upsert's matched-row scan) must
    read this BEFORE their scan and pass it as ``merge_epoch0`` so the
    delete's race window covers the caller's scan too."""
    return versioned.epoch_read(base_path, ANN_MERGE_EPOCH_FILE)


class StaleModelError(RuntimeError):
    """A batch was encoded under a model version the codes store no
    longer records (a retrain/rebuild published between the encode and
    the commit). Merging it would land wrong-cluster, wrong-residual
    codes that the insert-if-absent anti-join then pins forever —
    callers must re-load the model and RE-ENCODE, not merely rebase."""


def _write_model_stamp(vdir: str, model_version: str) -> None:
    # unlink-then-write: the file may be a HARDLINK into earlier
    # versions (link_tree carries it); writing in place would corrupt
    # the shared inode every retained snapshot reads
    p = os.path.join(vdir, MODEL_STAMP)
    if os.path.exists(p):
        os.unlink(p)
    with open(p, "w", encoding="ascii") as f:
        json.dump({"model_version": model_version}, f)


def _read_model_stamp(codes_snapshot_dir: str) -> str | None:
    """Model version the snapshot's codes were encoded under; ``None``
    for a pre-stamp (legacy) store, where pairing can't be verified."""
    try:
        with open(
            os.path.join(codes_snapshot_dir, MODEL_STAMP), encoding="ascii"
        ) as f:
            return json.load(f)["model_version"]
    except (OSError, ValueError, KeyError):
        return None


def _model_path(base_path: str) -> str:
    return os.path.join(base_path, MODEL_DIR)


def _codes_path(base_path: str) -> str:
    return os.path.join(base_path, CODES_DIR)


def _populate_model(vdir: str, centroids, books, meta: dict) -> None:
    """Write one model snapshot (centroids + codebooks + meta) into a
    staging dir. The model is driver-sized (a few hundred KB): written
    with pyarrow directly — plain parquet Spark can read, but without
    two Spark write JOBS for 2k tiny rows (measured ~8s of pure job
    overhead vs ~10ms here; the corpus-scale codes artifact still goes
    through the distributed writer)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(vdir, "centroids"))
    pq.write_table(
        pa.table(
            {
                "cluster": pa.array(range(len(centroids)), type=pa.int32()),
                "centroid": pa.array(
                    # centroids arrive as list-of-lists (ivf_index) or an
                    # ndarray (retrain) — np.asarray(...).tolist() yields
                    # the exact same float values either way without the
                    # per-element float() loop
                    np.asarray(centroids, dtype=np.float64).tolist(),
                    type=pa.list_(pa.float64()),
                ),
            }
        ),
        os.path.join(vdir, "centroids", "part-0.parquet"),
    )
    os.makedirs(os.path.join(vdir, "codebooks"))
    n_sub, n_cd = books.shape[0], books.shape[1]
    pq.write_table(
        pa.table(
            {
                "subspace": pa.array(
                    [j for j in range(n_sub) for _ in range(n_cd)],
                    type=pa.int32(),
                ),
                "code": pa.array(
                    [kk for _ in range(n_sub) for kk in range(n_cd)],
                    type=pa.int32(),
                ),
                "center": pa.array(
                    # same (j, kk) row order as the explicit double loop
                    books.reshape(n_sub * n_cd, books.shape[2]).tolist(),
                    type=pa.list_(pa.float64()),
                ),
            }
        ),
        os.path.join(vdir, "codebooks", "part-0.parquet"),
    )
    with open(os.path.join(vdir, "meta.json"), "w", encoding="ascii") as f:
        json.dump(meta, f)


def ann_index_build(
    embeddings: DataFrame,
    base_path: str,
    num_clusters: int = 16,
    m: int = 8,
    n_codes: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    protocol: str | None = None,
    extra_meta: dict | None = None,
) -> dict:
    """Build the IVFPQ index from scratch and publish it as the store's
    next version — model first, then the full codes rewrite. Both are
    FULL-REWRITE commits (content independent of the base), so under
    ``protocol="optimistic"`` they publish lock-free via
    ``publish_full_optimistic`` (last-writer-wins, a lost race re-targets
    the same staged tree); the default commits under each store's writer
    lock. Because every publish is a NEW retained version, a rebuild
    over a live store is exactly the RETRAIN path: concurrent probes
    keep serving the old snapshots (age-based retention,
    versioned.RETAIN_SECS) until they re-resolve. Returns build stats."""
    from wcdimportbot_spark.operators import sinks
    from wcdimportbot_spark.operators.similarity import (
        ivf_index,
        ivfpq_residual_index,
    )

    spark = embeddings.sparkSession
    # ONE cardinality count for the whole build: ivf_index and
    # ivfpq_residual_index each re-counted the (row-preserving) corpus
    # to size their training-sample fractions (r16)
    n_vec = embeddings.count()
    ivf = ivf_index(
        embeddings, num_clusters, id_col, vec_col, seed, n_vectors=n_vec
    )
    codes_df, books = ivfpq_residual_index(
        embeddings, ivf, m, n_codes, id_col, vec_col, seed=seed,
        n_vectors=n_vec,
    )
    _assigned, centroids = ivf
    # lazy: the count below is the adjacent action that materializes the
    # blocks (one job instead of checkpoint-then-count — the r15 fusion
    # rule), still BEFORE any store mutation
    codes_out = codes_df.select(
        F.col(id_col).alias("vec_id"), "cluster", "codes"
    ).localCheckpoint(eager=False)
    n_built = codes_out.count()
    meta = {
        "num_clusters": int(num_clusters),
        "m": int(books.shape[0]),
        "n_codes": int(books.shape[1]),
        "subdim": int(books.shape[2]),
        "dim": int(len(centroids[0])),
        "seed": int(seed),
        "n_built": int(n_built),
        **(extra_meta or {}),
    }

    mpath = _model_path(base_path)
    cpath = _codes_path(base_path)
    # bump the merge-side epoch around the codes publish so a racing
    # ann_index_delete notices the store changed under its resolved
    # pair set and re-resolves against the NEW snapshot (whose cluster
    # assignments may differ entirely). A full rebuild needs no
    # delete-epoch CHECK of its own: the codes publish replaces the
    # whole store from the corpus input, so either serial order yields
    # exactly this output (see ANN_DELETE_EPOCH_FILE).
    versioned.epoch_bump(base_path, ANN_MERGE_EPOCH_FILE)
    version = versioned.commit_full(
        mpath,
        protocol,
        lambda vdir: _populate_model(vdir, centroids, books, meta),
    )

    def _populate_codes(vdir: str) -> None:
        # one writer task (hence one sorted file) per cluster dir: a
        # probe then opens one footer per cluster instead of tasks ×
        # clusters tiny files. At 100 TB with clusters too large for one
        # task, repartition on (cluster, salt) instead — the probe's
        # partition filter is unchanged.
        sinks._write_sorted(
            codes_out, vdir, ["cluster"], "vec_id", per_dir=True
        )
        # pair stamp: whichever codes commit wins, its stamp names the
        # exact (retained) model it was encoded under — two racing
        # rebuilds can no longer settle on A's model + B's codes (r10
        # ADVICE)
        _write_model_stamp(vdir, version)

    versioned.commit_full(cpath, protocol, _populate_codes)
    versioned.epoch_bump(base_path, ANN_MERGE_EPOCH_FILE)
    return {"n_built": int(n_built), "model_version": version, **meta}


def ann_retrain(
    embeddings: DataFrame,
    base_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    protocol: str | None = None,
) -> dict:
    """Execute the staleness contract's retrain decision (r9 verdict #2):
    rebuild model + codes from the CURRENT corpus under the hyperparams
    the store was built with (read from the stored meta — retrain is a
    refresh, not a re-design), publishing both stores as new snapshot
    versions while concurrent probes keep serving the superseded ones
    (snapshot isolation via age-based retention). ``retrained_from``
    in the new meta records lineage; ``n_built`` resets to the retrain
    corpus size, so ``growth_ratio`` drops back to ~1 and the margin
    contract recovers — the post-retrain index is bit-identical to a
    fresh build over the same corpus (pinned by the sim_ann_retrain
    registry row's fresh-build oracle)."""
    spark = embeddings.sparkSession
    _cent, _books, meta = load_ann_model(spark, base_path)
    return ann_index_build(
        embeddings,
        base_path,
        num_clusters=meta["num_clusters"],
        m=meta["m"],
        n_codes=meta["n_codes"],
        id_col=id_col,
        vec_col=vec_col,
        seed=meta["seed"],
        protocol=protocol,
        extra_meta={
            "retrained_from": versioned.current_version(_model_path(base_path))
        },
    )


def load_ann_model(
    spark: SparkSession, base_path: str, version: str | None = None
):
    """(centroids ndarray (k, d), codebooks ndarray (m, n_codes, subdim),
    meta dict) from the CURRENT model snapshot — or a RETAINED older
    ``version`` (the pair-consistent probe path loads the exact model
    the codes snapshot was encoded under). A bounded driver-side load
    (a few hundred KB), the PSL-table/BPE-merge-list serving pattern."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    mpath = _model_path(base_path)
    if version is not None:
        d = os.path.join(mpath, version)
        if not os.path.isdir(d):
            raise FileNotFoundError(
                f"model snapshot {version!r} of {mpath} is not retained; "
                f"versions: {versioned.list_versions(mpath)}"
            )
    else:
        d = versioned.data_dir(mpath)
    with open(os.path.join(d, "meta.json"), encoding="ascii") as f:
        meta = json.load(f)
    cent = np.zeros((meta["num_clusters"], meta["dim"]), dtype=np.float64)
    ct = pq.read_table(glob.glob(os.path.join(d, "centroids", "*.parquet"))[0])
    for cl, vec in zip(ct["cluster"].to_pylist(), ct["centroid"].to_pylist()):
        cent[cl] = vec
    books = np.zeros(
        (meta["m"], meta["n_codes"], meta["subdim"]), dtype=np.float64
    )
    bt = pq.read_table(glob.glob(os.path.join(d, "codebooks", "*.parquet"))[0])
    for j, kk, c in zip(
        bt["subspace"].to_pylist(),
        bt["code"].to_pylist(),
        bt["center"].to_pylist(),
    ):
        books[j, kk] = c
    return cent, books, meta


def read_ann_codes(spark: SparkSession, base_path: str) -> DataFrame:
    """The CURRENT codes snapshot (vec_id, cluster, codes) — an
    immutable tree; concurrent add-batches publish without tearing it."""
    from wcdimportbot_spark.operators import sinks

    return sinks.read_snapshot(spark, _codes_path(base_path)).select(
        "vec_id", F.col("cluster").cast("int").alias("cluster"), "codes"
    )


def load_ann_pair(spark: SparkSession, base_path: str, retries: int = 4):
    """Resolve a CONSISTENT (model, codes) pair for serving: the codes
    snapshot is the authority — resolve it once, read its stamp, and
    load the model AT THAT VERSION (retained by the same age-floor that
    protects every external reader). Model and codes are independently
    versioned stores published sequentially, so "current of each" can
    pair a new model with old codes during a retrain (wrong residual
    decode — r10 ADVICE); loading the stamped version closes the window.
    A stamp naming an already-pruned model (a commit train outran the
    retention floor mid-resolve) re-resolves: the codes pointer has
    necessarily advanced past it. Returns
    ``(cent, books, meta, codes_df, model_version)``; a legacy
    stampless store falls back to current-of-each (can't verify)."""
    import time as _time

    last_err: Exception | None = None
    for attempt in range(retries):
        if attempt:
            _time.sleep(0.05 * attempt)
        codes_dir = versioned.data_dir(_codes_path(base_path))
        stamp = _read_model_stamp(codes_dir)
        try:
            cent, books, meta = load_ann_model(spark, base_path, version=stamp)
            from wcdimportbot_spark.operators import sinks

            # _read_tree refreshes the listing cache and rides the
            # schema sidecar (skips the per-read inference job, r15)
            codes = sinks._read_tree(spark, codes_dir).select(
                "vec_id", F.col("cluster").cast("int").alias("cluster"), "codes"
            )
            return cent, books, meta, codes, stamp
        except Exception as e:  # pruned stamp / swept tree: re-resolve
            if not (
                isinstance(e, FileNotFoundError)
                or versioned.is_transient_read_race(e)
            ):
                raise
            last_err = e
    raise last_err


def _encode_with_model(
    vecs: DataFrame, cent, books, id_col: str, vec_col: str
) -> DataFrame:
    """Assign + residual-encode a batch under a FROZEN model: cluster =
    argmin ‖x−c‖² against the stored centroids (the k-means assignment
    rule), codes = per-subspace nearest codebook center of ``x − c``.
    One Arrow-batched pass; the model matrices ride the closure
    (hundreds of KB)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from wcdimportbot_spark.operators.similarity import _nearest_center

    m, _n_codes, subdim = books.shape

    def encode(it):
        for pdf in it:
            vmat = np.array(pdf["_v"].tolist(), dtype=np.float64)
            clus = _nearest_center(vmat, cent)
            res = vmat - cent[clus]
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for j in range(m):
                x = res[:, j * subdim : (j + 1) * subdim]
                codes[:, j] = _nearest_center(x, books[j])
            yield pd.DataFrame(
                {
                    "vec_id": pdf["_id"],
                    "cluster": clus.astype("int32"),
                    "codes": list(codes),
                }
            )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )
    return vecs.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(encode, schema)


def ann_index_add_batch(
    new_embeddings: DataFrame,
    base_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    protocol: str | None = None,
) -> dict:
    """Incrementally add a batch to the stored index: encode under the
    frozen model, then MERGE into the codes store through the shared
    engine (operators/sinks.py) — insert-if-absent on ``vec_id`` probing
    only the batch's touched cluster partitions, and APPEND-ONLY on the
    write side: the fresh codes land as new sorted part files inside
    their cluster dirs of a hardlinked snapshot, so a streaming ingest's
    per-batch write cost is O(batch), never O(store) (r9 verdict #1).
    Replaying a batch is a no-op (the reference's conflict-means-success
    idempotence). ``protocol="optimistic"`` (or ``WCD_STORE_PROTOCOL``)
    commits lock-free through the rename arbiter, so a cross-host ingest
    fleet can grow the index concurrently (r9 verdict #5).

    **Changed-content hazard — replays only, never refreshes.** The
    insert-if-absent probe is cluster-PRUNED (it reads only the batch's
    touched cluster partitions — that is what makes it O(batch)), so
    idempotence holds exactly when re-sent content is IDENTICAL: the
    deterministic encode re-derives the same cluster and the existing
    row is found. A re-sent ``vec_id`` with CHANGED embedding whose new
    nearest centroid differs lands in a cluster the probe never
    checked and is INSERTED NEXT TO its stale row — the store then
    serves two versions of one id. Re-crawled / re-encoded vectors go
    through :func:`ann_index_upsert`, which deletes every matched row
    first (and thereby also heals an already-duplicated id).

    **Model-staleness guard (r10 ADVICE):** a concurrent retrain/rebuild
    can publish a new model between this call's encode and its merge;
    committing codes encoded under the STALE centroids would land
    wrong-cluster, wrong-residual rows that insert-if-absent then pins
    forever (a later correct re-add of those vec_ids is skipped). The
    merge therefore verifies — under the writer lock, and again on every
    optimistic rebase — that the codes base's recorded model version
    still matches the one this batch was encoded under, and RE-ENCODES
    under the new model when it changed (a rebase alone re-runs only the
    anti-join, never the encode, so it cannot heal this). Returns
    {added, skipped}.

    **Merge-vs-delete race bracket (r15, see ANN_DELETE_EPOCH_FILE):**
    a concurrent :func:`ann_index_delete` can sweep rows between this
    call's anti-join probe and its publish — the probe saw them, so the
    insert-if-absent skip leaves content this call claims to have added
    absent from the store. Each pass brackets the whole
    encode-probe-publish attempt with merge-epoch bumps (the delete
    side reads them) and RE-RUNS the idempotent merge when the delete
    side's bytes changed across the window, converging on the
    delete→merge serial order. Under a detected race the returned
    counts reflect the final re-assert pass (rows a racing delete
    removed mid-probe count as added when the re-run inserts them)."""
    from wcdimportbot_spark.operators import sinks

    spark = new_embeddings.sparkSession
    cpath = _codes_path(base_path)
    merge_kwargs = dict(
        bucket_key=None,  # partition layout is the domain-derived cluster
        anti_key="vec_id",
        partitions=["cluster"],
        dedup_key=None,  # enc is deduped and declared below
        prune_col="cluster",
        sort_key="vec_id",
    )

    def _do() -> dict:
        for _attempt in range(4):  # each retry RE-ENCODES under a newer model
            mv = versioned.current_version(_model_path(base_path))
            cent, books, _meta = load_ann_model(spark, base_path, version=mv)

            def guard(base_dir: str, _mv=mv) -> None:
                stamp = _read_model_stamp(base_dir)
                if stamp is not None and stamp != _mv:
                    raise StaleModelError(
                        f"batch encoded under model {_mv} but the codes "
                        f"store now records {stamp}; re-encode required"
                    )

            enc = (
                _encode_with_model(
                    new_embeddings, cent, books, id_col, vec_col
                )
                .dropDuplicates(["vec_id"])
                # encode once for count + merge; the count below runs
                # the lazy checkpoint (one job, not two)
                .localCheckpoint(eager=False)
            )
            enc = keys.unique(enc, "vec_id")  # deduped on vec_id above
            n_batch = enc.count()
            try:
                n_fresh = sinks._merge_write(
                    spark,
                    enc,
                    cpath,
                    base_guard=guard,
                    # a codes store born from this merge records the
                    # model its codes were encoded under
                    stamp=lambda vdir, _mv=mv: _write_model_stamp(vdir, _mv),
                    protocol=protocol,
                    **merge_kwargs,
                )
            except StaleModelError:
                continue
            return {"added": int(n_fresh), "skipped": int(n_batch - n_fresh)}
        raise StaleModelError(
            f"add-batch into {base_path} lost 4 consecutive retrain races"
        )

    # merge-vs-delete race (see ANN_DELETE_EPOCH_FILE): a re-run's
    # anti-join probes the post-delete snapshot
    return versioned.epoch_bracket(
        base_path,
        ANN_MERGE_EPOCH_FILE,
        lambda: versioned.epoch_read(base_path, ANN_DELETE_EPOCH_FILE),
        1.0,
        _do,
        "ann_index_delete",
    )[-1]


def ann_index_upsert(
    new_embeddings: DataFrame,
    base_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    protocol: str | None = None,
) -> dict:
    """Re-crawl refresh at the ANN layer — WHEN MATCHED UPDATE, WHEN
    NOT MATCHED INSERT over the codes store, composed from the two
    existing pruned engines. :func:`ann_index_add_batch` is
    deliberately insert-if-absent on ``vec_id`` (the reference's
    conflict-as-success), so a re-crawled document's CHANGED embedding
    was silently dropped and the index served the STALE vector forever
    — the ANN-layer analog of the corpus-refresh gap
    ``plans/curation_nightly.curate_refresh`` closed.

    Mechanics: find the batch ids' current ``(vec_id, cluster)`` rows
    (one column-pruned two-int-column scan semi-joined against the
    broadcast id set), pruned-DELETE them
    (:func:`ann_index_delete` — untouched cluster dirs hardlink), then
    :func:`ann_index_add_batch` the fresh embeddings. The add half
    re-encodes under the CURRENT model, so a replaced vector lands in
    the cluster its NEW content belongs to — an update may MOVE a row
    across cluster dirs, which the generic
    ``sinks.upsert_into_store`` cannot express (its prune set derives
    from the batch's partition values, and ``cluster`` derives from
    content: the OLD row may live in a cluster no batch row touches).

    NOT one atomic publish (two snapshot commits): between them a
    probe sees the replaced ids ABSENT — for approximate serving the
    benign direction (momentarily missing beats serving the stale
    version, and no interleaving ever serves two versions of one id) —
    and a crash between the halves converges on replay (the delete
    swallows, the add inserts). The add half carries add_batch's full
    model-staleness guard (re-encodes when a retrain races in).

    Returns ``{"updated": matched ids replaced, "added": rows the add
    half inserted (replacements + brand-new ids), "skipped": batch ids
    a concurrent writer raced back in between the halves (normally
    0)}``."""
    from wcdimportbot_spark.operators import sinks

    spark = new_embeddings.sparkSession
    n_matched = 0
    if sinks.has_parquet_data(_codes_path(base_path)):
        # read the merge-side epoch BEFORE the matched-row scan, so the
        # delete's race window covers this scan too (see
        # ANN_DELETE_EPOCH_FILE) — an add-batch landing between this
        # scan and the delete's publish is detected and the delete
        # re-resolves from the live store
        m0 = ann_merge_epoch(base_path)
        # the count below runs the lazy checkpoint — materialized
        # BEFORE the delete half mutates the store, in one job
        pairs = keys.probe(
            read_ann_codes(spark, base_path).select("vec_id", "cluster"),
            new_embeddings.select(F.col(id_col).alias("vec_id")),
            "vec_id",
        ).localCheckpoint(eager=False)
        # updated counts matched IDS; pairs stays row-grained so the
        # delete also heals a store that already duplicated an id (see
        # the changed-content hazard in ann_index_add_batch's docstring)
        n_matched = keys.key_set(pairs, "vec_id").count()
        if n_matched:
            ann_index_delete(
                pairs, base_path, protocol=protocol, merge_epoch0=m0
            )
    res = ann_index_add_batch(
        new_embeddings,
        base_path,
        id_col=id_col,
        vec_col=vec_col,
        protocol=protocol,
    )
    return {
        "updated": int(n_matched),
        "added": int(res["added"]),
        "skipped": int(res["skipped"]),
    }


def ann_index_delete(
    vec_ids: DataFrame,
    base_path: str,
    protocol: str | None = None,
    merge_epoch0: str | None = None,
) -> int:
    """Propagate document deletes into the ANN index (r10 verdict Next
    #4): remove the given ``vec_id`` rows from the codes store via the
    same partition-pruned copy-on-write DELETE the graph stores use
    (operators/sinks.delete_from_store) — every untouched ``cluster=``
    dir survives as hardlinks in the new snapshot, only clusters
    actually holding doomed vectors are rewritten minus those rows. A
    subsequent probe can never serve a deleted id (the codes store IS
    the candidate set). Deleting absent ids is swallowed (returns 0).

    ``vec_id → cluster`` is not derivable driver-side without the raw
    vector (the doc may be gone), so the touched clusters come from ONE
    column-pruned scan of (vec_id, cluster) semi-joined against the
    BROADCAST id list — read O(store) on two int columns, write
    O(touched clusters). When the caller still has the pairs it can
    pass (vec_id, cluster) rows directly together with the
    ``merge_epoch0`` fingerprint it read (:func:`ann_merge_epoch`)
    BEFORE its own scan, skipping the lookup on the no-race path.

    **Delete-vs-add race bracket (r15).** A concurrent
    :func:`ann_index_add_batch` / :func:`ann_index_upsert` landing
    between the scan and the pruned publish can insert (or move) a
    doomed ``vec_id`` into a cluster the pair set never named — the
    vector stays served after this call returns "complete". Resolve and
    publish therefore run under :func:`versioned.epoch_bracket` (see
    ``ANN_DELETE_EPOCH_FILE``), every re-run RE-RESOLVING FROM THE LIVE
    STORE. Caller-supplied pairs are honored only on the first attempt
    and only when the caller's ``merge_epoch0`` proves its scan sits
    inside this window; pairs without the token are treated as a hint
    and re-resolved. Returned count accumulates across repair attempts
    (re-deletes of rows a racing merge re-inserted are real
    deletions).

    The model store is untouched: deletes never invalidate centroids or
    codebooks, but they DO count toward staleness — shrinking the store
    raises ``drift_ratio`` (``ann_index_stats``'s symmetric
    max(growth, 1/growth) form) even as ``growth_ratio`` falls, so a
    heavily-deleted index flips the same ~2× retrain trigger as a
    heavily-grown one (n_built still reflects the build corpus)."""
    from wcdimportbot_spark.operators import sinks

    spark = vec_ids.sparkSession
    caller_pairs = None
    if "cluster" in vec_ids.columns:
        caller_pairs = vec_ids.select("vec_id", "cluster")
    # materialized lazily: the token fast path (upsert's common no-race
    # case) publishes the caller's pairs and never needs the id set —
    # an eager checkpoint here would spend a Spark job per upsert whose
    # result is unread, belying the advertised no-race cost
    memo: dict = {}

    def _ids() -> DataFrame:
        if "ids" not in memo:
            # lazy: materialized inside the first pairs computation
            ids = keys.key_set(vec_ids, "vec_id").localCheckpoint(eager=False)
            memo["ids"] = keys.unique(ids, "vec_id")  # a checkpointed key set
        return memo["ids"]

    def _resolve() -> DataFrame | None:
        if not sinks.has_parquet_data(_codes_path(base_path)):
            return None  # nothing built yet — swallowed delete-twice case
        codes = read_ann_codes(spark, base_path).select("vec_id", "cluster")
        # lazy: the delete engine's touched-cluster collect (its first
        # action, before any mutation) runs this checkpoint; the epoch
        # bracket's soundness covers the whole resolve→publish window
        # regardless of where inside it the materialization lands
        pairs = keys.probe(codes, _ids(), "vec_id").localCheckpoint(
            eager=False
        )
        # the codes store holds one row per vec_id (engine invariant)
        return keys.unique(pairs, "vec_id")

    def _publish(pairs: DataFrame | None) -> int:
        if pairs is None or not sinks.has_parquet_data(
            _codes_path(base_path)
        ):
            return 0
        return sinks.delete_from_store(
            spark,
            pairs,
            _codes_path(base_path),
            key="vec_id",
            bucket_key=None,
            partitions=["cluster"],
            prune_col="cluster",
            sort_key="vec_id",
            protocol=protocol,
        )

    # the caller read merge_epoch0 BEFORE its own resolve scan, so the
    # first attempt's check covers that scan and may publish the
    # caller's pairs; every other attempt resolves INSIDE its window (a
    # pair set computed before the epoch read could go stale
    # undetectably)
    token = caller_pairs is not None and merge_epoch0 is not None
    epoch0 = [merge_epoch0] if token else []
    hint = [caller_pairs] if token else []

    def _merge_epoch() -> str:
        if epoch0:
            return epoch0.pop()
        return versioned.epoch_read(base_path, ANN_MERGE_EPOCH_FILE)

    def _attempt() -> int:
        # caller pairs are undeclared (they may repeat a vec_id)
        return _publish(hint.pop() if hint else _resolve())

    # delete-vs-add race (see ANN_DELETE_EPOCH_FILE): re-deletes of
    # rows a racing merge re-inserted are real deletions, so the
    # counts sum over attempts
    attempts = versioned.epoch_bracket(
        base_path,
        ANN_DELETE_EPOCH_FILE,
        _merge_epoch,
        1.6,
        _attempt,
        "ann_index_add_batch/upsert",
    )
    return int(sum(attempts))


def ann_index_probe(
    embeddings: DataFrame,
    base_path: str,
    num_queries: int = 10,
    k: int = 5,
    nprobe: int = 6,
    refine: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve top-k from the MAINTAINED index: resolve a CONSISTENT
    (model, codes) pair — the codes snapshot's stamp names the exact
    model version it was encoded under, so a probe racing a retrain
    never pairs new centroids with old codes (r10 ADVICE) — prune the
    codes scan to the driver-known probed-cluster set (a PARTITION
    filter over the cluster-partitioned store — only
    nprobe/num_clusters of the files are read), and run the standard
    residual-ADC scan + exact refine
    (:func:`similarity.ivfpq_residual_topk` with the stored artifacts
    injected). ``embeddings`` supplies the raw vectors for the query
    side and the exact-refine rescan — the corpus table the index was
    built over."""
    import numpy as np

    from wcdimportbot_spark.operators.similarity import (
        _probe_clusters,
        ivfpq_residual_topk,
    )

    spark = embeddings.sparkSession
    cent, books, _meta, codes, _mv = load_ann_pair(spark, base_path)
    cent_list = np.asarray(cent, dtype=np.float64).tolist()
    queries = embeddings.filter(F.col(id_col) < num_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    # ONE evaluation of the query->cluster fan-out: the collected
    # pairs drive the partition pruning here AND are injected into
    # ivfpq_residual_topk below (which re-ran _probe_clusters twice
    # more before — r16)
    probe_pairs = (
        _probe_clusters(spark, queries, cent_list, nprobe)
        .select("query_id", "cluster")
        .collect()
    )
    probed = sorted({int(r["cluster"]) for r in probe_pairs})
    # partition pruning: `cluster` is the store's partition column, so
    # this filter reaches the scan as a PartitionFilter — unprobed
    # clusters' files are never opened (plan-pinned in tests)
    codes_pruned = codes.filter(F.col("cluster").isin(probed)).withColumnsRenamed(
        {"vec_id": id_col}
    )
    # `ivf[0]` feeds only the QUERY side of the scan (id + vector —
    # clusters come from the stored codes), so the raw corpus relation
    # drops in directly: no corpus-wide join just to fetch |Q| vectors
    return ivfpq_residual_topk(
        embeddings,
        num_queries=num_queries,
        k=k,
        nprobe=nprobe,
        refine=refine,
        id_col=id_col,
        vec_col=vec_col,
        ivf=(embeddings, cent_list),
        rindex=(codes_pruned, books),
        probe_pairs=probe_pairs,
    )


def ann_index_stats(spark: SparkSession, base_path: str) -> DataFrame:
    """Per-cluster stored-vector counts plus the staleness ratios —
    the retrain signal next to the recall-margin contract.
    O(num_clusters) rows. Pair-consistent load: the ratios are measured
    against the meta of the model the codes were built under.

    ``growth_ratio`` = stored / n_built. ``drift_ratio`` (r11 ADVICE-
    adjacent fix, verdict Next #4) is its SYMMETRIC form
    ``max(ratio, 1/ratio)``: growth alone never flags a heavily-DELETED
    index, whose centroids were fitted on data that is mostly gone —
    after ann_index_delete shrinks the store the growth ratio FALLS,
    yet the model is exactly as stale as after the same-sized growth.
    The documented ~2x retrain trigger reads ``drift_ratio``; deletes
    are visible as drift_ratio > 1 with growth_ratio < 1."""
    _cent, _books, meta, codes, _mv = load_ann_pair(spark, base_path)
    growth = F.sum("n_vectors").over(Window.partitionBy()) / F.col("n_built")
    return (
        codes.groupBy("cluster")
        .agg(F.count("*").alias("n_vectors"))
        .withColumn("n_built", F.lit(int(meta["n_built"])))
        .withColumn("growth_ratio", F.round(growth, 4))
        .withColumn(
            "drift_ratio",
            F.round(F.greatest(growth, F.lit(1.0) / growth), 4),
        )
        .orderBy("cluster")
    )


def compact_ann_codes(
    spark: SparkSession, base_path: str, protocol: str | None = None
) -> dict:
    """Fold the per-add-batch appended files back to one sorted file per
    cluster partition (the maintenance companion every append-only MERGE
    store has — items/claims/cache/dedup-index get it via ``--compact``;
    this is the codes-store form). Read-only content change published as
    a new snapshot; a store already compact publishes nothing. Under
    ``protocol="optimistic"`` it commits through the rename arbiter and
    correctly LOSES races to concurrent add-batches (their new files
    make the computed layout stale — the rebase recomputes)."""
    from wcdimportbot_spark.operators import sinks

    return sinks.compact_store(
        spark,
        _codes_path(base_path),
        sort_key="vec_id",
        partitions=["cluster"],
        protocol=protocol,
    )
