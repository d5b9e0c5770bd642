"""End-to-end import pipeline (the reference's ``--import-title`` flagship,
SURVEY §3.1, restated for Spark):

    pages → extract (F1) → filter/fix/validate (P1-P5) → normalize (F4-F22)
    → dedup (A5/A6) → items/claims (F24-F26, J5) → merge sinks (S7/S9)

One job; shuffles only at the dropDuplicates — the plan SURVEY §3.1 calls
for. The store import's insert-if-absent merges and its page-level cache
probe (plans/store_import.py) stand in for the J4 cache anti-join.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column, DataFrame

from wcdimportbot_spark.functions.hashing import DEFAULT_WIKIBASE_TITLE
from wcdimportbot_spark.functions.partitioning import fan_out
from wcdimportbot_spark.operators.extract import (
    extract_raw_templates,
    filter_supported_templates,
    fix_param_keys,
    split_valid_and_rejects,
)
from wcdimportbot_spark.operators.graph import (
    build_claims,
    build_items,
)
from wcdimportbot_spark.operators.normalize import build_references, collect_rejects


class ImportResult:
    """Pipeline outputs, built LAZILY: constructing the items/claims plans
    costs seconds of driver-side expression building + analysis (hundreds of
    claim-struct expressions), so single-output consumers (the hash
    statistics screen reads only ``references``) should not pay for graph
    emission they never trigger. Each property is a DataFrame plan; caching
    keeps repeated access cheap and plan-identical. ``persisted`` are the
    stages ``run_import`` persisted; :meth:`release` unpersists them."""

    def __init__(
        self,
        references: DataFrame,
        pages: DataFrame,
        schema_rejects: DataFrame,
        wikibase_title: str,
        retrieved_date: Column | None,
        persisted: tuple[DataFrame, ...] = (),
    ):
        self.references = references
        self._persisted = persisted
        self._pages = pages
        self._schema_rejects = schema_rejects
        self._wikibase_title = wikibase_title
        self._retrieved_date = retrieved_date
        self._items: DataFrame | None = None
        self._claims: DataFrame | None = None

    @property
    def items(self) -> DataFrame:
        if self._items is None:
            self._items = build_items(
                self._pages, self.references, self._wikibase_title
            )
        return self._items

    @items.setter
    def items(self, df: DataFrame) -> None:
        self._items = df

    @property
    def claims(self) -> DataFrame:
        if self._claims is None:
            self._claims = build_claims(
                self._pages,
                self.references,
                self._wikibase_title,
                self._retrieved_date,
            )
        return self._claims

    @claims.setter
    def claims(self, df: DataFrame) -> None:
        self._claims = df

    @cached_property
    def rejects(self) -> DataFrame:
        return collect_rejects(self.references).unionByName(self._schema_rejects)

    def release(self) -> None:
        """Unpersist the persisted stages: the session's cache manager
        keeps them until then, one pair per import. Call once every
        output has been written or checkpointed."""
        for df in self._persisted:
            df.unpersist()


def run_import(
    pages: DataFrame,
    cache: DataFrame | None = None,
    wikibase_title: str = DEFAULT_WIKIBASE_TITLE,
    retrieved_date: Column | None = None,
    persist: bool = True,
) -> ImportResult:
    """pages(page_id, title, language_code, latest_revision_id, wikitext)
    → graph tables + rejects. ``cache`` is accepted for older callers and
    unused: the store import's cache merge counts the new mappings.

    ``persist=True`` (default) materializes the normalized references once:
    extraction + normalization is the expensive narrow stage and every
    downstream output (items, three claim families, rejects, cache) branches
    from it — without persistence each branch would re-run the Python
    extraction UDF. On a cluster this is the natural stage boundary to
    checkpoint; disable only for single-output plans."""
    # mapInPandas parallelism equals input partitioning: a small dump read
    # (one parquet file) would run the whole extraction on ONE core
    pages = fan_out(pages, "page_id")
    persisted = []
    raw = extract_raw_templates(pages)
    if persist:
        # persist the PYTHON stage's output, not just the normalized
        # references below: the rejects channel branches off BEFORE
        # build_references (schema_rejects comes from raw), so without
        # this the Arrow extraction re-runs for every import's rejects
        # write — the one stage whose recompute pays the JVM↔Python
        # boundary twice (guide §4). Populated en route by whichever
        # downstream branch acts first; O(batch) like the refs persist.
        raw = raw.persist()
        persisted.append(raw)
    raw = filter_supported_templates(raw)
    raw = fix_param_keys(raw)
    valid, schema_rejects = split_valid_and_rejects(raw)
    refs = build_references(valid, wikibase_title)
    # A5 in-page dedup happens inside graph emission (citations edges)
    refs = refs.join(
        pages.select("page_id", "latest_revision_id"), "page_id", "left"
    )
    if persist:
        refs = refs.persist()
        persisted.append(refs)
    # graph emission (items/claims) and rejects are built lazily on first
    # access — see ImportResult
    return ImportResult(
        references=refs,
        pages=pages,
        schema_rejects=schema_rejects,
        wikibase_title=wikibase_title,
        retrieved_date=retrieved_date,
        persisted=tuple(persisted),
    )
