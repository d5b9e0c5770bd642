"""Store probes and declared key uniqueness.

Every idempotent write first asks a store which of the batch's keys it
already holds (the hash→QID cache, the content-hash dedup index, the
insert-if-absent merges). The probe has ONE shape here, :func:`probe`:
the store is scanned on the STREAM side and semi-joined against the
BROADCAST batch key set. The obvious ``batch LEFT-ANTI store`` form
builds its right side, which at scale is the whole store; this form
keeps every hash table bounded by the batch.

Whether a key set needs its defensive ``.distinct()`` (one exchange) is
decided by a declaration on the relation itself: :func:`unique` marks
one DataFrame OBJECT as having one row per the given columns. Any
transformation (``select``, ``withColumn``, ``localCheckpoint`` ...)
returns a new, undeclared object, so a declaration cannot outlive the
relation it describes. An engine that reshapes a declared input and
keeps its rows one-for-one re-declares its own result.

Plan building only: nothing here runs a Spark action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ATTR = "_unique_on"


def unique(df: DataFrame, *cols: str) -> DataFrame:
    """Declare that ``df`` (this object) has one row per ``cols``;
    returns ``df``."""
    # vars(): a missing attribute would go through DataFrame.__getattr__,
    # which resolves column names against the analyzed schema
    vars(df).setdefault(_ATTR, set()).add(frozenset(cols))
    return df


def declared(df: DataFrame, *cols: str) -> bool:
    """True when ``df`` is declared unique on a subset of ``cols`` (one
    row per subset value implies one row per ``cols`` value)."""
    return any(d <= set(cols) for d in vars(df).get(_ATTR, ()))


def key_set(df: DataFrame, *cols: str) -> DataFrame:
    """The distinct ``cols`` of ``df``, declared unique. The distinct is
    skipped when ``df`` is already declared unique on them."""
    out = df.select(*cols)
    if not declared(df, *cols):
        out = out.distinct()
    return unique(out, *cols)


def probe(store: DataFrame, batch: DataFrame, *cols: str) -> DataFrame:
    """The ``store`` rows whose ``cols`` occur in ``batch``: the store
    streams, the batch's key set is broadcast. A semi-join only drops
    store rows, so a store declared unique on ``cols`` yields a unique
    result."""
    batch_keys = F.broadcast(key_set(batch, *cols))
    out = store.join(batch_keys, list(cols), "left_semi")
    if declared(store, *cols):
        out = unique(out, *cols)
    return out
