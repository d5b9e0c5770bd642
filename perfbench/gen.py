"""Seeded input generator with closed-form expectations.

Everything the benchmark feeds the engine comes from here, from one seed:
a page batch and the read-request mix (``import_batches``), a nightly
document batch, its purge set and the vectors (``nightly_lifecycle``). A run
executes one batch (one cold import, one night are all its budget holds),
so the generator makes one. Inputs are written as parquet; the engine sees
only those files.
Next to the inputs the generator returns what a correct engine must
produce, computed in plain Python from the same draws:

- reference, website and page item hashes follow the engine's identity
  rule (MD5 over ``sandbox.wiki`` + the lowercased, space-stripped key;
  the page hash is MD5 over ``sandbox.wiki`` + language + page id), and
  ``qid = "Q" + hash``;
- a document is kept when it is the first of its text in the batch, its
  text is not in the dedup index, and it has at least 10 tokens (the
  quality gate: no punctuation, so 10+ tokens score at least 0.7).

Where each parameter comes from is noted next to it in ``PARAMS``:
"documents table" and "embeddings table" are the repository's sf0.1 test
tables (TESTDATA.md), measured once, since a run may read only inside its
checkout; "registry" is ``plans/benchmark_queries.py`` and
``__spark_entry__.pages_from_documents``. Values marked *unverified* have
no source in the repository: they make every branch the checks cover occur
on every seed, or keep a run inside its time budget.

Pure Python + numpy + pyarrow: no Spark, so the expectations do not share
code with the engine they check.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WIKIBASE = "sandbox.wiki"

#: generator parameters per workload (recorded in the run result)
PARAMS = {
    "import_batches": {
        # unverified: run budget (one cold import per run). FIXTURES.md's
        # page-size anchors have 134 and 216 references; pages that size
        # add about 10 s to an import, which the run budget does not hold
        "pages_per_batch": 12,
        "refs_per_page": [1, 9],
        # registry pages: one unhashable string citation (cite news
        # without url) of three templates
        "string_citation_share": 1 / 3,
        # registry pages: one of three templates is a cite journal whose
        # DOI is shared by every 10th page, i.e. a pool of 10
        "shared_ref_share": 1 / 3,
        "shared_pool": 10,
        # registry pages: one document excerpt per three templates
        "templates_per_paragraph": 3,
        # unverified: the rejects channel
        "unknown_key_share": 0.05,
        "unsupported_per_page": [0, 2],
        # unverified request mix; Zipf exponent for the lookup keys
        "reads": {"lookup": 6, "lookup_miss": 2, "sparql": 2, "stats": 2},
        "zipf_s": 1.1,
    },
    "nightly_lifecycle": {
        # unverified: run budget
        "batch_docs": 40,
        # unverified shares of the batch (the documents table has 0.16 %
        # exact duplicates and no document under 10 words); the rest are
        # fresh documents
        "mix": {
            "near_dup": 0.1,
            "low_quality": 0.1,
            "batch_dup": 0.05,
        },
        # documents table: 10-100 words, min 10 / median 54 / max 100
        "doc_words": [10, 100],
        # below the quality gate's 10-token length band
        "low_quality_words": [3, 9],
        # unverified: kept docs purged after the night
        "purge_docs": 4,
        # embeddings table: 64 dimensions, 10 labels, unit-norm rows;
        # label centres have norm 0.07, rows spread 0.125 per dimension
        "dim": 64,
        "vector_clusters": 10,
        "center_norm": 0.07,
        "within_std": 0.125,
        # registry ANN-store row: index over 2/3 of the sf0.1 embeddings
        # table's 2000 vectors, probe with 10 queries, k 5, nprobe 8,
        # refine 10; the epsilon-recall contract is 0.6 at epsilon 0.05
        "bootstrap_docs": 1333,
        "queries": 10,
        "k": 5,
        "nprobe": 8,
        "refine": 10,
        "epsilon": 0.05,
        "recall_floor": 0.6,
    },
}

#: the vocabulary of the documents table (its 31 distinct words)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def reference_hash(key: str) -> str:
    return _md5(WIKIBASE + key.replace(" ", "").lower())


def page_hash(language_code: str, page_id: int) -> str:
    return _md5(f"{WIKIBASE}{language_code}{page_id}")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _text(rng: random.Random, lo: int, hi: int) -> str:
    """A documents-table-shaped text: ``lo``-``hi`` words of its vocabulary."""
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


# --------------------------------------------------------------------------
# page batches and read requests (import_batches)
# --------------------------------------------------------------------------


class _RefFactory:
    """Draws citation references: cite web/news (url, website item),
    cite journal (doi), cite book (isbn)."""

    def __init__(self, rng: random.Random, prefix: str):
        self.rng = rng
        self.prefix = prefix
        self.n = 0

    def new(self) -> dict:
        self.n += 1
        rid = f"{self.prefix}{self.n}"
        kind = self.rng.choice(["web", "news", "journal", "book"])
        d = self.rng.randrange(24)
        if kind == "web":
            url = f"https://site{d:02d}.org/a/{rid}"
            return {"key": url, "fld": f"site{d:02d}.org",
                    "body": f"cite web |url={url} |title=Web article {rid} |website=Site {d}"}
        if kind == "news":
            url = f"https://daily{d:02d}.com/news/{rid}"
            return {"key": url, "fld": f"daily{d:02d}.com",
                    "body": f"cite news |url={url} |title=News item {rid} |newspaper=Daily {d}"}
        if kind == "journal":
            doi = f"10.5555/bench.{rid}"
            return {"key": doi, "fld": None,
                    "body": f"cite journal |title=Paper {rid} |journal=Journal {d} |doi={doi} |year=2019"}
        isbn = "978" + _md5(rid).translate(str.maketrans("abcdef", "123456"))[:10]
        return {"key": isbn, "fld": None,
                "body": f"cite book |title=Book {rid} |isbn={isbn} |publisher=Press {d}"}


def _make_page(rng, page_id, refs_factory, shared, p) -> tuple[dict, dict]:
    """One page row plus its expectation record."""
    templates, valid_refs, rejects = [], [], 0
    for _ in range(rng.randint(*p["refs_per_page"])):
        if rng.random() < p["string_citation_share"]:
            rejects += 1  # no url/doi/isbn: unhashable, goes to rejects
            templates.append(
                f"{{{{cite news |title=Bulletin {rng.randrange(10**6)} |agency=Agency {rng.randrange(9)}}}}}")
            continue
        ref = rng.choice(shared) if rng.random() < p["shared_ref_share"] else refs_factory.new()
        if rng.random() < p["unknown_key_share"]:
            rejects += 1  # unknown parameter: the whole template is rejected
            templates.append("{{" + ref["body"] + " |zzq_unknown=1}}")
        else:
            valid_refs.append(ref)
            templates.append("{{" + ref["body"] + "}}")
    for _ in range(rng.randint(*p["unsupported_per_page"])):
        templates.append(rng.choice([
            f"{{{{Infobox settlement |name=Town {rng.randrange(999)}}}}}",
            "{{Use dmy dates|date=May 2020}}",
            "{{Reflist}}",
        ]))
    rng.shuffle(templates)
    per = p["templates_per_paragraph"]
    parts = []
    for i in range(0, max(len(templates), 1), per):
        parts.append(_text(rng, *PARAMS["nightly_lifecycle"]["doc_words"]))
        parts += templates[i:i + per]
    row = {
        "page_id": page_id,
        "title": f"Bench page {page_id}",
        "language_code": "en",
        "latest_revision_id": page_id * 10 + 1,
        "wikitext": "\n".join(parts),
    }
    exp = {
        "page_hash": page_hash("en", page_id),
        "refs": sorted({reference_hash(r["key"]) for r in valid_refs}),
        "sites": sorted({reference_hash(r["fld"]) for r in valid_refs if r["fld"]}),
        "rejects": rejects,
    }
    return row, exp


_PAGE_SCHEMA = pa.schema([
    ("page_id", pa.int64()),
    ("title", pa.string()),
    ("language_code", pa.string()),
    ("latest_revision_id", pa.int64()),
    ("wikitext", pa.string()),
])


def _import_expectations(batch) -> dict:
    """What importing the batch into an empty store must produce."""
    refs, sites, items, rejects = set(), set(), set(), 0
    citing: dict[str, set] = {}
    for row, exp in batch:
        rejects += exp["rejects"]
        items.update([exp["page_hash"], *exp["refs"], *exp["sites"]])
        refs.update(exp["refs"])
        sites.update(exp["sites"])
        for h in exp["refs"]:
            citing.setdefault(h, set()).add(row["page_id"])
    return {
        "pages": len(batch),
        "new_items": len(items),
        "rejects": rejects,
        "items_by_type": {
            "WIKIPEDIA_PAGE": len(batch),
            "WIKIPEDIA_REFERENCE": len(refs),
            "WEBSITE_ITEM": len(sites),
        },
        "pages_citing": len({p for ps in citing.values() for p in ps}),
        "citations": {h: len(ps) for h, ps in citing.items()},
    }


def _reads(rng: random.Random, p: dict, seed: int, expect: dict) -> list[dict]:
    """The read requests on the store the batch built: md5-hash lookups
    with Zipf-skewed keys over its references, then misses, SPARQL lookups
    and the statistics screen. The order is fixed, so every seed pays the
    same first-call costs in the same place."""
    ranked = sorted(expect["citations"])
    rng.shuffle(ranked)
    weights = [1.0 / (r + 1) ** p["zipf_s"] for r in range(len(ranked))]
    n = p["reads"]

    def hit(kind):
        h = rng.choices(ranked, weights)[0]
        return {"kind": kind, "hash": h, "qids": ["Q" + h], "citations": expect["citations"][h]}

    out = [hit("lookup") for _ in range(n["lookup"] - n["lookup_miss"])]
    out += [{"kind": "lookup", "hash": _md5(f"miss:{seed}:{i}"), "qids": [], "citations": 0}
            for i in range(n["lookup_miss"])]
    out += [hit("sparql") for _ in range(n["sparql"])]
    out += [{"kind": "stats"} for _ in range(n["stats"])]
    return out


def gen_import_batches(seed: int, out: str) -> dict:
    p = PARAMS["import_batches"]
    rng = random.Random(f"import_batches:{seed}")
    factory = _RefFactory(rng, "r")
    shared = [factory.new() for _ in range(p["shared_pool"])]
    batch = [_make_page(rng, i, factory, shared, p) for i in range(1, p["pages_per_batch"] + 1)]
    path = "pages_000.parquet"
    _write(pa.Table.from_pylist([row for row, _ in batch], schema=_PAGE_SCHEMA), os.path.join(out, path))
    expect = _import_expectations(batch)
    reads = _reads(rng, p, seed, expect)
    del expect["citations"]
    return {"batch": path, "reads": reads, "expect": expect}


# --------------------------------------------------------------------------
# nightly document batches + vectors (nightly_lifecycle)
# --------------------------------------------------------------------------

_DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
_VEC_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])


def gen_nightly_lifecycle(seed: int, out: str) -> dict:
    """One night into empty curation stores: fresh documents, near-
    duplicates of them, low-quality ones and in-batch exact duplicates;
    then a purge of some of the kept docs."""
    p = PARAMS["nightly_lifecycle"]
    rng = random.Random(f"nightly_lifecycle:{seed}")
    texts_seen: set[str] = set()
    boot = list(range(p["bootstrap_docs"]))  # the ANN index's initial vectors
    next_id = len(boot)

    def novel(lo: int, hi: int) -> str:
        while True:
            t = _text(rng, lo, hi)
            if t not in texts_seen:
                texts_seen.add(t)
                return t

    def near_dup(src: str) -> str:
        words = src.split()
        while True:
            w = list(words)
            w[rng.randrange(len(w))] = rng.choice(VOCAB)
            t = " ".join(w)
            if t not in texts_seen:
                texts_seen.add(t)
                return t

    n = p["batch_docs"]
    counts = {k: round(n * s) for k, s in p["mix"].items()}
    n_fresh = n - sum(counts.values())
    fresh = []
    for _ in range(n_fresh):
        fresh.append((next_id, novel(*p["doc_words"])))
        next_id += 1
    rows, kept = list(fresh), [i for i, _ in fresh]
    for _, src in rng.sample(fresh, counts["near_dup"]):
        rows.append((next_id, near_dup(src)))
        kept.append(next_id)
        next_id += 1
    for _ in range(counts["low_quality"]):
        rows.append((next_id, novel(*p["low_quality_words"])))
        next_id += 1
    for _, t in rng.sample(fresh, counts["batch_dup"]):
        rows.append((next_id, t))  # higher id than its twin: loses the batch race
        next_id += 1
    texts = dict(rows)
    docs_path = "docs_000.parquet"
    _write(pa.Table.from_pylist(
        [{"doc_id": i, "text": t} for i, t in sorted(rows)], schema=_DOC_SCHEMA),
        os.path.join(out, docs_path))
    purge_ids = sorted(rng.sample(kept, p["purge_docs"]))

    # one unit vector per doc id, shaped like the embeddings table: label
    # centres of norm ``center_norm`` plus per-dimension noise
    vrng = np.random.default_rng(np.random.SeedSequence([seed, 0x7EC]))
    centers = vrng.normal(size=(p["vector_clusters"], p["dim"]))
    centers *= p["center_norm"] / np.linalg.norm(centers, axis=1, keepdims=True)
    assign = vrng.integers(0, p["vector_clusters"], size=next_id)
    vecs = centers[assign] + p["within_std"] * vrng.normal(size=(next_id, p["dim"]))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    vec_path = "vectors.parquet"
    _write(pa.Table.from_arrays(
        [pa.array(np.arange(next_id, dtype=np.int64)),
         pa.array(list(vecs), type=pa.list_(pa.float32()))],
        schema=_VEC_SCHEMA), os.path.join(out, vec_path))
    np.save(os.path.join(out, "vectors.npy"), vecs)
    return {
        "bootstrap_ids": boot,
        "docs": docs_path,
        "expect": {
            "docs": len(rows),
            "kept_ids": sorted(kept),
            "dup_of_history": 0,
            "dup_of_batch": counts["batch_dup"],
            "low_quality": counts["low_quality"],
        },
        "purge_ids": purge_ids,
        "purge_hashes": sorted(_md5(texts[i]) for i in purge_ids),
        "vectors": vec_path,
        "vectors_npy": "vectors.npy",
    }


GENERATORS = {
    "import_batches": gen_import_batches,
    "nightly_lifecycle": gen_nightly_lifecycle,
}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's inputs under ``out``; return the input paths,
    request mix and expectations (also saved, with paths relative to
    ``out``, as ``plan.json``)."""
    os.makedirs(out, exist_ok=True)
    plan = GENERATORS[workload](seed, out)
    plan["params"] = PARAMS[workload]
    with open(os.path.join(out, "plan.json"), "w", encoding="utf-8") as f:
        json.dump(plan, f, sort_keys=True)
    return _resolve(plan, out)


def _resolve(obj, out: str):
    """The plan with every input file name made a path under ``out``."""
    if isinstance(obj, dict):
        return {k: _resolve(v, out) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_resolve(v, out) for v in obj]
    if isinstance(obj, str) and obj.endswith((".parquet", ".npy")):
        return os.path.join(out, obj)
    return obj
