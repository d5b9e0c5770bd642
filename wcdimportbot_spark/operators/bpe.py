"""Byte-pair-encoding subword tokenizer: distributed training + encoding.

The LLM-pipeline tokenizer step the task brief asks for beyond the
reference surface (the bot never tokenizes; its text handling stops at
template parameters, wcdimportbot src/models/wikimedia/wikipedia/reference.py
by intent). `text_analysis.subword_count` is the regex *approximation*;
this module is the real thing: a learned merge table (classic BPE,
Sennrich et al. 2016, the subword-nmt algorithm) and corpus encoding
under it.

Spark-first decomposition — the standard distributed-BPE shape:

- **Word-frequency table, not corpus.** Training operates on the
  DISTINCT-word relation weighted by frequency (one map-combinable
  ``groupBy(word)`` over the corpus — the only corpus-sized shuffle).
  At 100 TB the corpus is billions of docs but the distinct-word table
  is ~10-100M rows; every training iteration touches only that.
- **Per-iteration**: one narrow projection (symbol pairs via
  ``transform``/``slice`` — no explode of the corpus, no join), one
  map-combinable ``groupBy(pair).sum(freq)``, and a 1-ROW collect (the
  argmax pair — bounded driver data). ``localCheckpoint`` after each
  merge keeps the plan constant-size across iterations.
- **Merge application is a string ``replace``** over a delimited symbol
  encoding ``(s1)(s2)...(_)``: because every symbol is fully wrapped,
  plain leftmost non-overlapping substring replace-all IS the BPE merge
  rule (repeated within the word, never across a symbol boundary, no
  regex). One codegen expression, no UDF.
- **Encoding** applies the M learned merges as ONE nested-replace
  projection over the distinct-word relation, then joins the tiny
  word -> token-count dictionary back to the exploded corpus (broadcast
  at test scale; a shuffle hash join on the near-uniform word key at
  100 TB) and aggregates per doc.

Oracle story (what makes this row DuckDB-hash-verifiable): the training
loop unrolls into a CTE chain — pairs_i / best_i (ordered-FIRST
aggregate, NULL row when saturated) / rep_{i+1} — with the identical
wrapped-symbol replace, so both engines run the same greedy algorithm
step for step; ties break on (count DESC, left ASC, right ASC), binary
collation in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

#: Tokenization shared by train/encode and the SQL oracles: lowercase,
#: split on non-letters, drop empties. Must stay in lockstep with the
#: ``string_split_regex(lower(text), '[^a-z]+')`` in the oracle SQL.
_WORD_SPLIT = "[^a-z]+"

#: End-of-word marker symbol (its own symbol, merge-able into suffixes
#: — the subword-nmt convention). '_' cannot occur in `[a-z]+` words.
_EOW = "_"

MERGE_SCHEMA = (
    "merge_rank int, left_sym string, right_sym string, pair_count bigint"
)


def _wrapped(word_col) -> F.Column:
    """Delimited symbol representation of a word: ``scan`` ->
    ``(s)(c)(a)(n)(_)``. Parens cannot occur inside a symbol, so plain
    substring replace of ``(a)(b)`` -> ``(ab)`` applies a BPE merge with
    exact boundary semantics."""
    return F.concat(
        F.regexp_replace(word_col, "(.)", r"($1)"), F.lit(f"({_EOW})")
    )


def _word_freq(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the corpus — the one corpus-sized shuffle."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), _WORD_SPLIT)).alias(
                "word"
            )
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _pair_counts(reps: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts (freq-weighted, overlapping positions
    counted — the subword-nmt statistic) from the wrapped reps."""
    syms = F.split(F.expr("trim(BOTH '()' FROM rep)"), r"\)\(")
    pairs = F.expr(
        "transform(slice(syms, 1, size(syms)-1),"
        " (x, i) -> struct(x AS l, element_at(syms, i+2) AS r))"
    )
    return (
        reps.select(F.col("freq"), syms.alias("syms"))
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def train_merges(
    docs: DataFrame, num_merges: int = 12, text_col: str = "text"
) -> list[tuple[int, str, str, int]]:
    """Learn the BPE merge list. Driver work per iteration is ONE row
    (the argmax pair); the returned list is ``num_merges`` rows — both
    bounded, never corpus-sized. Stops early if the corpus saturates
    (every word fused to a single symbol)."""
    reps = (
        _word_freq(docs, text_col)
        .select(_wrapped(F.col("word")).alias("rep"), "freq")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        best = (
            _pair_counts(reps)
            .orderBy(
                F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")
            )
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = (
            best[0]["left_sym"],
            best[0]["right_sym"],
            int(best[0]["pair_count"]),
        )
        merges.append((rank, l, r, cnt))
        reps = reps.withColumn(
            "rep",
            F.replace("rep", F.lit(f"({l})({r})"), F.lit(f"({l}{r})")),
        ).localCheckpoint(eager=True)
    return merges


def _merge_syms(syms: list[str], l: str, r: str) -> list[str]:
    """Apply one merge to a symbol list — leftmost non-overlapping,
    repeated in-pass, the EXACT semantics of the delimited-string
    ``replace`` the distributed loop uses (and of subword-nmt)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_merges_local(
    docs: DataFrame,
    num_merges: int = 12,
    text_col: str = "text",
    top_k_words: int = 65_536,
) -> list[tuple[int, str, str, int]]:
    """Driver-local BPE training over the frequency-covering top-K of
    the word table — the wall-clock answer to a PRODUCTION vocabulary
    (r8 verdict #2).

    :func:`train_merges` is the right shape per iteration (distinct-word
    relation, 1-row argmax collect) but runs ONE SPARK JOB PER MERGE: at
    a production vocab of ~32k merges that is ~32k sequential jobs over
    a 10-100M-row word relation — scheduler latency alone is hours,
    regardless of per-job cost. subword-nmt's own shape fixes it: the
    corpus-sized work (word counting) happens ONCE, distributed; the
    greedy merge loop then runs on the collected (word, freq) dictionary
    driver-side, where one iteration is microseconds, not a job. With
    ``top_k_words`` covering the distinct-word table the result is
    BIT-IDENTICAL to the distributed loop (pinned in tests/test_bpe.py);
    when the dictionary is truncated, merges learned from the top-K mass
    are the standard practical approximation (tail words contribute
    pair counts ~their frequency — negligible by construction under a
    frequency-ordered cut). SCALE.md documents the measured crossover.

    The loop is pure python but NOT per-document work: it iterates the
    distinct-word dictionary (bounded by ``top_k_words``), exactly what
    subword-nmt does after its own counting pass."""
    rows = (
        _word_freq(docs, text_col)
        # deterministic frequency-covering cut: freq desc, word asc
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(top_k_words)
        .collect()
    )
    vocab: list[tuple[list[str], int]] = [
        (list(r["word"]) + [_EOW], int(r["freq"])) for r in rows
    ]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, cnt))
        vocab = [(_merge_syms(syms, l, r), freq) for syms, freq in vocab]
    return merges


def bpe_train(
    docs: DataFrame,
    num_merges: int = 12,
    text_col: str = "text",
    local: bool = False,
    top_k_words: int = 65_536,
) -> DataFrame:
    """The learned merge table as a relation:
    (merge_rank, left_sym, right_sym, pair_count). ``local=True`` uses
    the driver-local loop (:func:`train_merges_local`) — one distributed
    counting pass, then sub-second training for production-sized merge
    counts."""
    spark = docs.sparkSession
    trained = (
        train_merges_local(docs, num_merges, text_col, top_k_words)
        if local
        else train_merges(docs, num_merges, text_col)
    )
    return spark.createDataFrame(trained, MERGE_SCHEMA)


def _apply_merges(rep_col: F.Column, merges) -> F.Column:
    """All learned merges as ONE nested-replace codegen expression, in
    merge-rank order (BPE applies merges by learned priority)."""
    out = rep_col
    for _, l, r, _cnt in merges:
        out = F.replace(out, F.lit(f"({l})({r})"), F.lit(f"({l}{r})"))
    return out


def bpe_encode_profile(
    docs: DataFrame,
    num_merges: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges: list[tuple[int, str, str, int]] | None = None,
) -> DataFrame:
    """Train on the corpus, then encode it: per-doc BPE token counts.

    Encoding cost is O(distinct words) — the nested-replace projection
    runs once per dictionary word, and the corpus side only pays the
    word explode + a join against the tiny (word, n_tokens) dictionary
    + one map-combinable per-doc aggregate.

    Output: (doc_id, n_words, n_bpe_tokens, tokens_per_word,
    chars_per_token) — the fertility/compression numbers a tokenizer
    ablation reports.

    ``merges`` lets callers reuse a stored merge table (a tokenizer is
    trained once per corpus version and SERVED thereafter — the
    registry's session memo mirrors that); omitted, it trains here."""
    if merges is None:
        merges = train_merges(docs, num_merges, text_col)
    words = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), _WORD_SPLIT)).alias(
                "word"
            ),
        )
        .filter(F.length("word") > 0)
    )
    rep_final = _apply_merges(_wrapped(F.col("word")), merges).alias("rep")
    dictionary = (
        words.select("word")
        .distinct()
        .select("word", rep_final)
        .select(
            "word",
            F.size(F.split(F.expr("trim(BOTH '()' FROM rep)"), r"\)\("))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    return (
        words.join(F.broadcast(dictionary), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tokens").alias("n_bpe_tokens"),
            F.sum(F.length("word")).alias("_chars"),
        )
        .select(
            id_col,
            "n_words",
            "n_bpe_tokens",
            (F.col("n_bpe_tokens").cast("double") / F.col("n_words")).alias(
                "tokens_per_word"
            ),
            (F.col("_chars").cast("double") / F.col("n_bpe_tokens")).alias(
                "chars_per_token"
            ),
        )
    )


def bpe_vocab_stats(
    docs: DataFrame,
    num_merges: int = 12,
    text_col: str = "text",
    merges: list[tuple[int, str, str, int]] | None = None,
) -> DataFrame:
    """Vocabulary coverage audit of the learned tokenizer: every final
    symbol with its corpus usage count, share, and cumulative coverage
    — the table a tokenizer ablation reads to pick the vocab size V
    (what share of tokens the top-V symbols carry, what the OOV tail
    would be).

    Shape: the merge chain applies over the distinct-word relation,
    symbols explode weighted by word frequency into one map-combinable
    groupBy. The result relation is BOUNDED by the symbol inventory
    (alphabet + markers + one new symbol per merge — never corpus- or
    dictionary-sized), so the unpartitioned ranking window at the end
    is a deliberate single-task step over a tiny relation, not a skew
    risk. Shares divide exact BIGINT counts (running count first, one
    double division after), keeping both engines bit-identical."""
    if merges is None:
        merges = train_merges(docs, num_merges, text_col)
    reps = _word_freq(docs, text_col).select(
        _apply_merges(_wrapped(F.col("word")), merges).alias("rep"), "freq"
    )
    syms = reps.select(
        F.explode(
            F.split(F.expr("trim(BOTH '()' FROM rep)"), r"\)\(")
        ).alias("symbol"),
        "freq",
    )
    counts = syms.groupBy("symbol").agg(F.sum("freq").alias("token_count"))
    order = W.orderBy(F.desc("token_count"), F.asc("symbol"))
    total = W.partitionBy()
    return counts.select(
        F.row_number().over(order).alias("vocab_rank"),
        "symbol",
        "token_count",
        (
            F.col("token_count").cast("double")
            / F.sum("token_count").over(total)
        ).alias("corpus_share"),
        (
            F.sum("token_count")
            .over(order.rowsBetween(W.unboundedPreceding, 0))
            .cast("double")
            / F.sum("token_count").over(total)
        ).alias("cum_share"),
    )


def bpe_vocab_sql(table: str, num_merges: int = 12) -> str:
    """DuckDB twin of :func:`bpe_vocab_stats`."""
    return f"""
WITH {_chain_ctes(table, num_merges, carry_word=True)},
syms AS MATERIALIZED (
  SELECT unnest(string_split(trim(rep, '()'), ')(')) AS symbol, freq
  FROM rep{num_merges}
),
counts AS MATERIALIZED (
  SELECT symbol, SUM(freq)::BIGINT AS token_count FROM syms GROUP BY symbol
)
SELECT ROW_NUMBER() OVER (ORDER BY token_count DESC, symbol) AS vocab_rank,
       symbol,
       token_count,
       token_count::DOUBLE / SUM(token_count) OVER () AS corpus_share,
       SUM(token_count) OVER (ORDER BY token_count DESC, symbol
                              ROWS UNBOUNDED PRECEDING)::DOUBLE
         / SUM(token_count) OVER () AS cum_share
FROM counts
"""


def bpe_token_count(text_col, merges) -> F.Column:
    """Per-ROW BPE token count under a stored merge table, as ONE
    whole-stage-codegen expression: words array -> per-word merge chain
    inside a ``transform`` lambda -> ``aggregate`` sum. No explode, no
    dictionary join, no shuffle, NO STATE — which is exactly what a
    Structured Streaming ingest gate needs (a stream can select this
    column per micro-batch with zero watermark/state machinery, unlike
    the batch profile's explode + join + groupBy). The trade: merges
    re-apply per word occurrence instead of per distinct word — right
    for streams and map-only contexts, while :func:`bpe_encode_profile`
    stays the batch shape.

    Token count needs no symbol trim: ``size(split(rep, ')('))`` counts
    delimiter gaps, and the outer parens create none."""
    words = F.filter(
        F.split(F.lower(text_col), _WORD_SPLIT),
        lambda w: F.length(w) > 0,
    )
    return F.aggregate(
        F.transform(
            words,
            lambda w: F.size(
                F.split(_apply_merges(_wrapped(w), merges), r"\)\(")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------------------------------
# Tokenizer store — the merge table as a versioned artifact
# ---------------------------------------------------------------------------


def save_merges(
    spark, merges: list[tuple[int, str, str, int]], path: str
) -> str:
    """Publish the merge table as a new snapshot version of a tokenizer
    store (a full rewrite through ``versioned.commit_full``: staged
    write, atomic pointer flip, under the store's write protocol). A
    tokenizer is a *versioned corpus artifact* — retraining publishes a
    new version while encode jobs pinned to the old one keep reading it
    (``load_merges(version=...)``), exactly the items/claims-store
    contract. Returns the published version name."""
    from wcdimportbot_spark.operators import versioned

    df = spark.createDataFrame(merges, MERGE_SCHEMA)
    # M rows — one file, no partitioning
    return versioned.commit_full(
        path,
        None,
        lambda vdir: df.coalesce(1).write.mode("overwrite").parquet(vdir),
    )


def load_merges(
    spark, path: str, version: str | None = None
) -> list[tuple[int, str, str, int]]:
    """Load a stored merge table (CURRENT snapshot by default, or a
    retained ``version`` for time travel) back into the bounded list
    :func:`bpe_encode_profile` consumes."""
    from wcdimportbot_spark.operators import sinks

    rows = (
        sinks.read_snapshot(spark, path, version)
        .orderBy("merge_rank")
        .collect()
    )
    return [
        (
            int(r["merge_rank"]),
            r["left_sym"],
            r["right_sym"],
            int(r["pair_count"]),
        )
        for r in rows
    ]


# ---------------------------------------------------------------------------
# DuckDB oracles — the unrolled greedy loop
# ---------------------------------------------------------------------------


def _chain_ctes(table: str, num_merges: int, carry_word: bool) -> str:
    """The shared CTE chain: words -> rep0 -> (pairs_i, best_i,
    rep_{i+1}) * num_merges. ``best_i`` is an ordered-FIRST aggregate so
    it always yields exactly one row (all-NULL once saturated), and
    rep_{i+1} degrades to the identity then — mirroring the Spark
    loop's early stop."""
    word_sel = "word, " if carry_word else ""
    parts = [
        f"""toks AS MATERIALIZED (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM {table}
),
words AS MATERIALIZED (
  SELECT w AS word, COUNT(*)::BIGINT AS freq FROM toks
  WHERE length(w) > 0 GROUP BY w
),
rep0 AS MATERIALIZED (
  SELECT {word_sel}freq,
         regexp_replace(word, '(.)', '(\\1)', 'g') || '(_)' AS rep
  FROM words
)"""
    ]
    for i in range(num_merges):
        parts.append(
            f"""pairs{i} AS MATERIALIZED (
  SELECT u.p[1] AS l, u.p[2] AS r, SUM(freq)::BIGINT AS cnt
  FROM (SELECT freq, string_split(trim(rep, '()'), ')(') AS s FROM rep{i}),
       UNNEST(list_zip(s[1:len(s)-1], s[2:len(s)])) AS u(p)
  GROUP BY 1, 2
),
best{i} AS MATERIALIZED (
  SELECT first(l ORDER BY cnt DESC, l, r) AS l,
         first(r ORDER BY cnt DESC, l, r) AS r,
         first(cnt ORDER BY cnt DESC, l, r) AS cnt
  FROM pairs{i}
),
rep{i + 1} AS MATERIALIZED (
  SELECT {word_sel}freq,
         CASE WHEN b.l IS NULL THEN rep
              ELSE replace(rep, '(' || b.l || ')(' || b.r || ')',
                                '(' || b.l || b.r || ')')
         END AS rep
  FROM rep{i}, best{i} b
)"""
        )
    return ",\n".join(parts)


def bpe_train_sql(table: str, num_merges: int = 12) -> str:
    """DuckDB twin of :func:`bpe_train`."""
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym,"
        f" cnt AS pair_count FROM best{i}"
        for i in range(num_merges)
    )
    return f"""
WITH {_chain_ctes(table, num_merges, carry_word=False)}
SELECT * FROM ({union}) WHERE left_sym IS NOT NULL
"""


def bpe_encode_sql(table: str, num_merges: int = 12) -> str:
    """DuckDB twin of :func:`bpe_encode_profile`."""
    return f"""
WITH {_chain_ctes(table, num_merges, carry_word=True)},
dictionary AS MATERIALIZED (
  SELECT word,
         len(string_split(trim(rep, '()'), ')('))::BIGINT AS n_tokens
  FROM rep{num_merges}
),
docw AS MATERIALIZED (
  SELECT doc_id, w AS word FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM {table}
  ) WHERE length(w) > 0
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_words,
       SUM(n_tokens)::BIGINT AS n_bpe_tokens,
       SUM(n_tokens)::DOUBLE / COUNT(*) AS tokens_per_word,
       SUM(length(word))::DOUBLE / SUM(n_tokens) AS chars_per_token
FROM docw JOIN dictionary USING (word)
GROUP BY doc_id
"""
