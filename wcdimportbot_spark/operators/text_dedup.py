"""Large-scale text deduplication operators (training-data pipeline pack).

Beyond-parity operators mandated by the north star: exact hash dedup,
MinHash+LSH near-dup, SimHash fingerprints, and n-gram Jaccard similarity —
each designed for the 100 TB path:

- **exact**: one groupBy on md5(text) — map-side combinable.
- **MinHash+LSH**: tokens exploded once; K min-hash aggregations computed in
  a SINGLE groupBy (K column aggregates, not K passes); bands hashed; the
  only pairwise work is the self-equi-join on (band, bucket) — the LSH
  trick that replaces the quadratic all-pairs comparison.
- **SimHash**: pure per-row expression after one token explode + groupBy;
  b bit-counters as conditional sums.
- **n-gram Jaccard**: inverted-index join on rare grams (pairs generated
  only for docs sharing a gram), with a doc-frequency cap to bound the
  posting-list blowup on hot grams — at 100 TB this cap is the difference
  between an index join and a cartesian explosion.

All hashing is anchored on md5-hex (portable across engines, verified
against DuckDB oracles). The MinHash family is ONE md5 per shingle reduced
to a 60-bit integer, then K universal-hash permutations
``(a_i*x + b_i) mod P`` over it — K integer ops instead of K md5 digests
per shingle (the md5-per-permutation variant spent most of its runtime in
digest computation). Coefficients come from a fixed LCG so the Spark
operator and the generated DuckDB oracle share the exact family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wcdimportbot_spark.functions import keys
from wcdimportbot_spark.functions.expr_memo import memo_expr
from wcdimportbot_spark.functions.partitioning import fan_out
from wcdimportbot_spark.operators import hooks, versioned

TOKEN_SPLIT_RE = "[^a-z0-9]+"

#: Mersenne prime 2^31-1; permutation arithmetic stays < 2^62 (no overflow)
MINHASH_PRIME = 2147483647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) universal-hash coefficients, from a fixed
    LCG so every engine (and every run) derives the identical family."""
    x = 123456789
    out = []
    for _ in range(num_hashes):
        x = (1103515245 * x + 12345) % (2**31)
        a = x % (MINHASH_PRIME - 1) + 1
        x = (1103515245 * x + 12345) % (2**31)
        b = x % MINHASH_PRIME
        out.append((a, b))
    return out


def tokens(col: Column) -> Column:
    """Lowercased alphanumeric tokens (empty strings removed)."""
    return F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_RE), lambda t: t != ""
    )


def doc_tokens_long(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, token) distinct — the exploded token-set relation."""
    return (
        docs.select(id_col, F.explode(tokens(F.col(text_col))).alias("token"))
        .dropDuplicates([id_col, "token"])
    )


def ngrams_from_tokens(t: Column, n: int) -> Column:
    """Space-joined word n-grams from an ALREADY-MATERIALIZED token-array
    column (empty if < n tokens).

    ``t`` MUST be a plain column reference from a prior projection, never
    the ``tokens(text)`` expression itself: higher-order-function lambdas
    do not share subexpressions with their argument, so an inline token
    expression gets re-split once per ``element_at`` per n-gram —
    O(len²·n) regexp splits per document (measured 13× wall on sf0.1
    trigrams). Two projections (materialize tokens, then build n-grams)
    keep it O(len)."""
    if n == 1:
        return t
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles straight off a text column. Convenience for
    small inputs/tests — hot paths must use the two-projection form
    (see :func:`ngrams_from_tokens` for why). MinHash runs over shingle
    sets, not unigram token sets: on low-vocabulary corpora unigram sets
    are nearly identical across documents and LSH degenerates to
    all-pairs (measured: 54% of all pairs became candidates on the
    synthetic docs); n-gram shingles restore discriminative power."""
    return ngrams_from_tokens(tokens(col), n)


def doc_shingles_long(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    return (
        docs.select(id_col, tokens(F.col(text_col)).alias("_ts"))
        .select(id_col, F.explode(ngrams_from_tokens(F.col("_ts"), n)).alias("token"))
        .dropDuplicates([id_col, "token"])
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, min_doc_id)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 16, id_col: str = "doc_id", shingle_n: int = 3
) -> DataFrame:
    """K-column min-hash signature in one aggregation pass, over the word
    ``shingle_n``-gram shingle set.

    Hash family: x = first 60 bits of md5(shingle) as an integer, then
    h_i(shingle) = (a_i*(x mod P) + b_i) mod P with P = 2^31-1 and fixed
    LCG coefficients (:func:`minhash_coeffs`) — one digest + K integer ops
    per shingle instead of K digests.

    MIN is duplicate-insensitive, so the shingle multiset is NOT
    deduplicated first — that removes an entire shuffle; the one remaining
    shuffle (groupBy doc) is map-side combinable. The input is fanned out
    before the explode so a few large input files cannot serialize the
    shingling work.

    The K aggregation expressions and the shingle-hash base are pure
    trees over fixed constants, memoized per (JVM, num_hashes/shingle_n)
    — the dedup index rebuilds this plan on every probe/ingest/delete
    (functions/expr_memo.py)."""
    long = (
        fan_out(docs, id_col)
        .select(id_col, tokens(F.col("text")).alias("_ts"))
        .select(
            id_col,
            F.explode(
                memo_expr(
                    ("mh_shingles", shingle_n),
                    lambda: ngrams_from_tokens(F.col("_ts"), shingle_n),
                )
            ).alias("token"),
        )
        .select(
            id_col, memo_expr(("mh_base",), _minhash_base).alias("_hx")
        )
    )
    aggs = memo_expr(
        ("mh_aggs", num_hashes), lambda: _minhash_aggs(num_hashes)
    )
    return long.groupBy(id_col).agg(*aggs)


def _minhash_base() -> Column:
    return (
        F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("bigint")
        % MINHASH_PRIME
    )


def _minhash_aggs(num_hashes: int) -> tuple:
    return tuple(
        F.min((F.lit(a) * F.col("_hx") + F.lit(b)) % MINHASH_PRIME).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )


def lsh_bands(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Signature → (doc_id, band, bucket): bucket = md5 of the band's rows."""
    bb = memo_expr(
        ("lsh_band_array", num_hashes, bands),
        lambda: _lsh_band_array(num_hashes, bands),
    )
    return signatures.select(id_col, F.explode(bb).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _lsh_band_array(num_hashes: int, bands: int) -> Column:
    rows = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bucket")
            )
        )
    return F.array(*band_cols)


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs: docs sharing ≥1 LSH band bucket.

    ``max_bucket_size`` drops degenerate buckets before the self-join: a
    bucket with m members contributes m(m-1)/2 pairs, so one hot bucket can
    dominate the whole job. Dropped buckets are the explicit recall/cost
    trade (same role as the gram-df cap in :func:`ngram_jaccard_pairs`)."""
    from pyspark.sql.window import Window

    b = lsh_bands(
        minhash_signatures(docs, num_hashes, id_col, shingle_n), num_hashes, bands, id_col
    )
    # bucket-size cap as a window count: one shuffle on (band, bucket) that
    # the self-join below reuses, instead of a groupBy + join back
    sized = (
        b.withColumn(
            "_bsz", F.count("*").over(Window.partitionBy("band", "bucket"))
        )
        .filter(F.col("_bsz") <= max_bucket_size)
        .select(id_col, "band", "bucket")
    )
    left = sized.withColumnRenamed(id_col, "doc_a")
    right = sized.withColumnRenamed(id_col, "doc_b")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_sql(
    table: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
) -> str:
    """DuckDB oracle for :func:`lsh_candidate_pairs` (generated from the same
    parameters so both engines share shingling, hash family, banding, and
    the bucket-size cap)."""
    rows = num_hashes // bands
    P = MINHASH_PRIME
    base = f"(('0x' || substring(md5(token), 1, 15))::BIGINT % {P})"
    mh_exprs = ",\n               ".join(
        f"min(({a} * {base} + {b}) % {P}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    sep = " || '|' || "
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band, "
        f"md5({sep.join(f'CAST(mh{b * rows + r} AS VARCHAR)' for r in range(rows))}) AS bucket FROM sigs"
        for b in range(bands)
    )
    shingle_expr = sep.join(f"ts[i + {j}]" for j in range(shingle_n)).replace(
        "'|'", "' '"
    )
    return f"""
    WITH toklist AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS ts
        FROM {table}
    ),
    tok AS (
        SELECT DISTINCT doc_id, {shingle_expr} AS token
        FROM toklist, UNNEST(range(1, len(ts) - {shingle_n - 2})) AS t(i)
        WHERE len(ts) >= {shingle_n}
    ),
    sigs AS (
        SELECT doc_id,
               {mh_exprs}
        FROM tok GROUP BY doc_id
    ),
    bands AS (
{band_selects}
    ),
    kept AS (
        SELECT band, bucket FROM bands GROUP BY 1, 2
        HAVING COUNT(*) <= {max_bucket_size}
    ),
    sized AS (SELECT b.* FROM bands b JOIN kept k USING (band, bucket))
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sized a JOIN sized b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _nibble(hex_char: Column) -> Column:
    """hex char → 0..15 via position in the hex alphabet (portable)."""
    return F.instr(F.lit(_HEX), hex_char) - 1


def simhash(docs: DataFrame, bits: int = 16, id_col: str = "doc_id") -> DataFrame:
    """b-bit SimHash over the token multiset: bit j is set iff the weighted
    sum of (bit j of md5(token)) * 2 - 1 over all token occurrences is
    positive. Ties (sum == 0) resolve to 0."""
    toks = fan_out(docs, id_col).select(
        id_col, F.explode(tokens(F.col("text"))).alias("token")
    ).groupBy(id_col, "token").agg(F.count("*").alias("cnt"))
    h = F.md5(F.col("token"))
    bit_sums = []
    for j in range(bits):
        nib = _nibble(F.substring(h, j // 4 + 1, 1))
        bit = F.floor(nib / (2 ** (3 - j % 4))) % 2
        bit_sums.append(
            F.sum(F.col("cnt") * (bit * 2 - 1)).alias(f"s{j}")
        )
    sums = toks.groupBy(id_col).agg(*bit_sums)
    value = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2 ** (bits - 1 - j))).otherwise(F.lit(0))
        value = term if value is None else value + term
    return sums.select(id_col, value.cast("bigint").alias("simhash"))


def simhash_sql(table: str, bits: int = 16) -> str:
    """DuckDB oracle for :func:`simhash` — same bit extraction, generated
    from the same loop parameters."""
    bit_sums = []
    for j in range(bits):
        nib = f"(strpos('{_HEX}', substring(md5(token), {j // 4 + 1}, 1)) - 1)"
        bit = f"(CAST(floor({nib} / {2 ** (3 - j % 4)}) AS BIGINT) % 2)"
        bit_sums.append(f"sum(cnt * ({bit} * 2 - 1)) AS s{j}")
    terms = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2 ** (bits - 1 - j)} ELSE 0 END)" for j in range(bits)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, t.token, COUNT(*) AS cnt
        FROM {table}, UNNEST(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS t(token)
        GROUP BY doc_id, t.token
    ),
    sums AS (
        SELECT doc_id, {', '.join(bit_sums)} FROM toks GROUP BY doc_id
    )
    SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM sums
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def word_bigrams(col: Column) -> Column:
    """Convenience for small inputs/tests; hot paths use the
    two-projection form (:func:`ngrams_from_tokens`)."""
    return ngrams_from_tokens(tokens(col), 2)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_gram_df: int = 50,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs with word-bigram Jaccard ≥ threshold via an inverted-index join.

    ``max_gram_df`` drops grams appearing in more than that many docs before
    the self-join — hot grams contribute O(df²) candidate pairs while adding
    almost no discriminative signal. NOTE: pairs whose every shared gram is
    hot are missed; that is the standard recall/cost trade and the cap is an
    explicit parameter."""
    grams = (
        fan_out(docs, id_col)
        .select(id_col, tokens(F.col("text")).alias("_ts"))
        .select(id_col, F.explode(ngrams_from_tokens(F.col("_ts"), 2)).alias("g"))
        .dropDuplicates([id_col, "g"])
    )
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("sz"))
    rare = grams.join(
        grams.groupBy("g").agg(F.count("*").alias("df")).filter(F.col("df") <= max_gram_df),
        "g",
    ).select(id_col, "g")
    a = rare.select(F.col(id_col).alias("doc_a"), "g")
    b = rare.select(F.col(id_col).alias("doc_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_sql(table: str, threshold: float = 0.5, max_gram_df: int = 50) -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS ts
        FROM {table}
    ),
    grams AS (
        SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] AS g
        FROM tok, UNNEST(range(1, len(ts))) AS t(i)
        WHERE len(ts) >= 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
    rare AS (
        SELECT doc_id, g FROM grams
        WHERE g IN (SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= {max_gram_df})
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE round(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 4) >= {threshold}
    """


def repeated_spans(
    docs: DataFrame,
    window: int = 8,
    flag_ratio: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated-span report — exact-substring dedup at the
    passage level: a ``window``-token span occurring in MORE THAN ONE
    document marks copied text (licence boilerplate, syndicated passages,
    quotations) that whole-document dedup cannot see.

    Per document with >= 1 span: total spans (positions, not distinct
    grams), spans whose hash also occurs in another document, their
    ratio, and a decision bit at ``flag_ratio``. Downstream either drops
    flagged docs or cuts the shared spans out.

    Scale shape: one posexplode (narrow), one groupBy(gram) with
    map-side combine to find cross-doc grams, one posting-list join back
    (shuffle keyed on the gram hash — near-uniform by construction), one
    groupBy(doc). No all-pairs anything; the reference corpus-level
    structure (suffix array) is replaced by the hash-bucket equivalent,
    which distributes."""
    grams = (
        fan_out(docs, id_col)
        .select(id_col, tokens(F.col(text_col)).alias("_ts"))
        .select(
            id_col,
            F.posexplode(ngrams_from_tokens(F.col("_ts"), window)).alias(
                "pos", "g"
            ),
        )
        # hash the span so the shuffle key is fixed-width
        .select(id_col, F.md5(F.col("g")).alias("h"))
    )
    shared = (
        grams.groupBy("h")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= 2)
        .select("h")
    )
    marked = grams.join(shared.withColumn("_shared", F.lit(1)), "h", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.coalesce(F.col("_shared"), F.lit(0))).alias("n_shared"),
        )
        .withColumn(
            "shared_ratio",
            F.round(F.col("n_shared") / F.col("n_spans").cast("double"), 4),
        )
        .withColumn("flagged", F.col("shared_ratio") >= flag_ratio)
    )


def repeated_spans_sql(table: str, window: int = 8, flag_ratio: float = 0.5) -> str:
    g = " || ' ' || ".join(f"ts[i + {j}]" for j in range(window))
    return f"""
    WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS ts
        FROM {table}
    ),
    grams AS (
        SELECT doc_id, md5({g}) AS h
        FROM tok, UNNEST(range(1, len(ts) - {window - 2})) AS t(i)
        WHERE len(ts) >= {window}
    ),
    shared AS (SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    per AS (
        SELECT doc_id, COUNT(*) AS n_spans,
               CAST(SUM(CASE WHEN h IN (SELECT h FROM shared) THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        FROM grams GROUP BY doc_id
    )
    SELECT doc_id, n_spans, n_shared,
           round(n_shared / CAST(n_spans AS DOUBLE), 4) AS shared_ratio,
           round(n_shared / CAST(n_spans AS DOUBLE), 4) >= {flag_ratio} AS flagged
    FROM per
    """


# ---------------------------------------------------------------------------
# URL-level dedup
# ---------------------------------------------------------------------------


def normalize_url(url: Column) -> Column:
    """Canonical form for URL-granularity dedup: scheme and ``www.``
    prefix stripped, host lowercased (paths keep their case — they are
    case-sensitive), query string / fragment / trailing slashes removed.
    Pure Catalyst expressions — the normalization runs inside whole-stage
    codegen, no UDF."""
    no_scheme = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", "")
    no_q = F.regexp_replace(no_scheme, r"[?#].*$", "")
    host = F.regexp_replace(
        F.lower(F.regexp_extract(no_q, r"^([^/]*)", 1)), r"^www\.", ""
    )
    path = F.regexp_replace(
        F.regexp_extract(no_q, r"^[^/]*(/.*)?$", 1), r"/+$", ""
    )
    return F.concat(host, path)


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Crawl-frontier / document-source dedup at URL granularity: group on
    :func:`normalize_url` and keep the smallest id per canonical URL
    (first-fetch-wins). Output one row per canonical URL —
    ``(url, n_docs, keep_doc_id)``.

    Scale shape: one map-side-combinable groupBy keyed on the normalized
    URL (near-uniform after hashing); the normalization itself is
    projection-only. The standard first pass of a crawl-based training
    pipeline — cheaper than any content-based dedup and typically removes
    the bulk of exact duplicates before MinHash runs."""
    norm = normalize_url(F.col(url_col)).alias("url")
    return (
        df.select(norm, F.col(id_col))
        .groupBy("url")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_doc_id"),
        )
    )


def url_dedup_sql(rows_sql: str) -> str:
    """DuckDB oracle: the same normalization over ``rows_sql``, which must
    select ``(doc_id, url)``."""
    return f"""
    WITH rows_in AS ({rows_sql}),
    norm AS (
        SELECT doc_id,
               regexp_replace(lower(regexp_extract(
                   regexp_replace(regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://', ''), '[?#].*$', ''),
                   '^([^/]*)', 1)), '^www\\.', '')
               ||
               regexp_replace(regexp_extract(
                   regexp_replace(regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://', ''), '[?#].*$', ''),
                   '^[^/]*(/.*)?$', 1), '/+$', '')
               AS url
        FROM rows_in
    )
    SELECT url, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
    FROM norm GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs a stored index (the 100 TB shape)
# ---------------------------------------------------------------------------


def dedup_index(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The persistent dedup index of the corpus seen so far: the distinct
    exact-hash relation and the distinct LSH (band, bucket) relation.

    At 100 TB this pair lives as two bucketed store tables that each
    ingest batch APPENDS to — corpus-scale dedup is never recomputed,
    only probed (the same MERGE pattern as the citation cache,
    operators/cache.py)."""
    hashes = docs.select(F.md5(F.col(text_col)).alias("text_hash")).distinct()
    bands_rel = (
        lsh_bands(
            minhash_signatures(docs, num_hashes, id_col, shingle_n),
            num_hashes,
            bands,
            id_col,
        )
        .select("band", "bucket")
        .distinct()
    )
    return hashes, bands_rel


def incremental_dedup(
    new_docs: DataFrame,
    history_hashes: DataFrame,
    history_bands: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Annotate a NEW batch against the stored index: per new doc, its
    text hash, ``exact_dup_of_history``, ``near_dup_of_history`` (shares
    an LSH band bucket with any already-seen doc), and ``fresh``.

    Scale shape: the batch side is small next to the corpus; both probes
    are equi-joins keyed on a hash (near-uniform), against index
    relations that are bucketable on exactly those keys — no corpus
    rescan, no all-pairs anything. This is the production dedup loop:
    full-corpus pair generation (lsh_candidate_pairs) bootstraps the
    index once; every batch after that runs this probe and appends its
    own hashes/buckets.

    Both probes are :func:`keys.probe` (the index streams, the batch
    keys are broadcast; plan-pinned in tests/test_llm_ops.py). A batch
    declared unique on ``text_col`` skips the hash key set's distinct."""
    hashed = new_docs.withColumn("text_hash", F.md5(F.col(text_col)))
    if keys.declared(new_docs, text_col):
        hashed = keys.unique(hashed, "text_hash")  # one row per text
    # membership only (it feeds a semi-join's build side): no outer
    # dedup, so repeated index rows cannot change the result
    matched_hashes = keys.probe(history_hashes, hashed, "text_hash")
    exact_ids = (
        hashed.join(F.broadcast(matched_hashes), "text_hash", "left_semi")
        .select(id_col)
        .withColumn("_e", F.lit(True))
    )
    if new_bands is None:
        # callers holding a precomputed (doc, band, bucket) relation for
        # the batch (e.g. one shared minhash pass sliced by group) pass
        # it via ``new_bands`` instead of re-shingling here
        new_bands = lsh_bands(
            minhash_signatures(new_docs, num_hashes, id_col, shingle_n),
            num_hashes,
            bands,
            id_col,
        )
    # the attributed store (r12) keeps one row per contributing hash:
    # the outer key set bounds the matched set by the BATCH's bucket
    # count, never the store's fan-in
    matched_buckets = keys.key_set(
        keys.probe(
            history_bands.select("band", "bucket"), new_bands, "band", "bucket"
        ),
        "band",
        "bucket",
    )
    near_ids = (
        new_bands.join(
            F.broadcast(matched_buckets), ["band", "bucket"], "left_semi"
        )
        .select(id_col)
        .distinct()
        .withColumn("_n", F.lit(True))
    )
    return (
        hashed.select(id_col, "text_hash")
        .join(exact_ids, id_col, "left")
        .join(near_ids, id_col, "left")
        .select(
            id_col,
            "text_hash",
            F.coalesce(F.col("_e"), F.lit(False)).alias("exact_dup_of_history"),
            F.coalesce(F.col("_n"), F.lit(False)).alias("near_dup_of_history"),
            (
                ~F.coalesce(F.col("_e"), F.lit(False))
                & ~F.coalesce(F.col("_n"), F.lit(False))
            ).alias("fresh"),
        )
    )


# ---------------------------------------------------------------------------
# Persistent index store: probe → filter → append, snapshot-versioned
# ---------------------------------------------------------------------------


def _with_band_key(bands_rel: DataFrame) -> DataFrame:
    """Single-column merge key for the ATTRIBUTED band relation
    (text_hash, band, bucket): ``bk = text_hash#band`` — the MERGE
    engine's anti-join/bucketing key must be one column.

    Keying band rows by their contributing CONTENT HASH (r12: the
    delete path) rather than by the bucket value does three things at
    once: (a) deletes are derivable from the doomed hashes ALONE —
    ``bk`` enumerates as hash × band index, no signature recompute and
    no stored hash→bands side relation; (b) refcounting is automatic —
    a (band, bucket) shared by several texts keeps one row per
    contributing hash, so purging one text leaves the bucket visible to
    the probe through the others' rows; (c) replay idempotence is
    unchanged — identical text re-derives identical (hash, band) keys
    and the insert-if-absent merge drops them. Cost: the store keeps
    one row per (hash, band) instead of distinct buckets — ``bands``
    (default 4) small rows per unique text, the standard posting-list
    trade for deletability."""
    return bands_rel.withColumn(
        "bk",
        F.concat(F.col("text_hash"), F.lit("#"), F.col("band").cast("string")),
    )


def _band_keys_for_hashes(doomed_hashes: DataFrame, bands: int) -> DataFrame:
    """Every ``bk`` the given content hashes ever contributed to the
    bands store — pure driver-known enumeration (hash × band index)."""
    bks = keys.key_set(doomed_hashes, "text_hash").select(
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.col("text_hash"), F.lit("#"), F.lit(str(b))
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk")
    )
    return keys.unique(bks, "bk")  # distinct hashes × distinct band indices


def _attributed_bands(
    docs: DataFrame,
    num_hashes: int,
    bands: int,
    id_col: str,
    text_col: str,
    shingle_n: int,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """The ATTRIBUTED band relation for ``docs``: distinct
    (text_hash, band, bucket). ``new_bands`` reuses an
    already-materialized (id, band, bucket) signature pass."""
    if new_bands is None:
        new_bands = lsh_bands(
            minhash_signatures(docs, num_hashes, id_col, shingle_n),
            num_hashes,
            bands,
            id_col,
        )
    return (
        new_bands.join(
            docs.select(
                id_col, F.md5(F.col(text_col)).alias("text_hash")
            ),
            id_col,
        )
        .select("text_hash", "band", "bucket")
        .distinct()
    )


def read_dedup_index(spark, base_path: str):
    """(hashes_df, bands_df) from the stored index under ``base_path``
    (subdirs ``hashes`` and ``bands``); empty-but-typed relations when a
    store does not exist yet, so the first ingest bootstraps cleanly."""
    import os

    from wcdimportbot_spark.operators import sinks

    hpath = os.path.join(base_path, "hashes")
    bpath = os.path.join(base_path, "bands")
    if sinks.has_parquet_data(hpath):
        hashes = sinks.read_snapshot(spark, hpath).select("text_hash")
    else:
        hashes = spark.createDataFrame([], "text_hash string")
    if sinks.has_parquet_data(bpath):
        bands_rel = sinks.read_snapshot(spark, bpath).select("band", "bucket")
    else:
        bands_rel = spark.createDataFrame([], "band int, bucket string")
    return hashes, bands_rel


#: writer-property sidecar for the dedup index (the _SHARDS.json /
#: _BUCKETS.json discipline): num_hashes/bands/shingle_n determine the
#: stored band keys, so a later probe or delete that guesses them wrong
#: silently probes the wrong buckets or leaves fingerprints behind.
INDEX_PARAMS_FILE = "_INDEX.json"


def _index_params(base_path: str) -> dict | None:
    import json
    import os

    try:
        with open(
            os.path.join(base_path, INDEX_PARAMS_FILE), encoding="ascii"
        ) as f:
            return json.load(f)
    except OSError:
        return None


def _record_index_params(
    base_path: str, num_hashes: int, bands: int, shingle_n: int
) -> None:
    """Record (or verify) the index's signature parameters. First writer
    records; a later merge under DIFFERENT parameters would interleave
    band rows from two incompatible signature schemes — fail loudly
    instead (rebuild the index to change parameters)."""
    import json
    import os

    want = {"num_hashes": int(num_hashes), "bands": int(bands),
            "shingle_n": int(shingle_n)}
    have = _index_params(base_path)
    if have is not None:
        if have != want:
            raise ValueError(
                f"dedup index {base_path} was built with {have}; merging "
                f"with {want} would corrupt its band keys — rebuild the "
                f"index to change signature parameters"
            )
        return
    os.makedirs(base_path, exist_ok=True)
    p = os.path.join(base_path, INDEX_PARAMS_FILE)
    tmp = p + ".tmp"
    with open(tmp, "w", encoding="ascii") as f:
        json.dump(want, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)


#: the merge's and the delete's own sidecars for
#: :func:`versioned.epoch_bracket`. Why the pair races: the merge
#: publishes bands then hashes, the delete hashes then bands, and an
#: interleaving such as M_bands → D_hashes → M_hashes → D_bands leaves
#: hash present / bands absent — the permanent near-dup blind spot,
#: since re-sends drop as exact dups before reaching the band merge.
#: The merge's check alone misses that one (the delete's second
#: publish lands after it), hence a bracket on both sides. The opposite
#: mixed state (hash absent / bands present) is impossible by order
#: algebra: it would need M_h < D_h < D_b < M_b while M_b < M_h.
DELETE_EPOCH_FILE = "_DELETE_EPOCH.json"
MERGE_EPOCH_FILE = "_MERGE_EPOCH.json"


def dedup_index_ingest(
    new_docs: DataFrame,
    base_path: str,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    protocol: str | None = None,
) -> DataFrame:
    """The production dedup LOOP, one batch: probe the stored index
    (:func:`incremental_dedup`), then MERGE the FRESH survivors' hashes
    and band buckets back into the index so the next batch dedups
    against them too. Returns the batch annotation (materialized BEFORE
    the store mutates — its plan reads the pre-ingest snapshot).

    Store shape: two snapshot-versioned MERGE stores
    (operators/sinks.py engine — hardlinked snapshots, atomic pointer
    publish, writer lock, insert-if-absent anti-join), hash-bucketed on
    exactly the probe keys, so at 100 TB each batch touches only its
    own buckets and concurrent readers never block. DuckDB-verified as
    the two-batch chain (``dedup_incremental_maint`` registry row /
    :func:`incremental_maint_sql`)."""
    # resolve signature parameters ONCE from the store's sidecar so the
    # probe's precomputed bands and the merge's recorded check agree
    # even when the caller's arguments drifted from the writer's
    recorded = _index_params(base_path)
    if recorded is not None:
        num_hashes = recorded["num_hashes"]
        bands = recorded["bands"]
        shingle_n = recorded["shingle_n"]
    ann, survivors, new_bands = dedup_index_probe(
        new_docs, base_path, num_hashes, bands, id_col, text_col, shingle_n,
        with_bands=True,
    )
    fresh_ann = ann.filter(F.col("fresh"))
    pre_hashes = fresh_ann.select("text_hash").distinct()
    pre_bands = (
        new_bands.join(fresh_ann.select(id_col, "text_hash"), id_col)
        .select("text_hash", "band", "bucket")
        .distinct()
    )
    dedup_index_merge(
        survivors,
        base_path,
        num_hashes,
        bands,
        id_col,
        text_col,
        shingle_n,
        protocol=protocol,
        precomputed=(pre_hashes, pre_bands),
    )
    return ann


def dedup_index_probe(
    new_docs: DataFrame,
    base_path: str,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    with_bands: bool = False,
    eager: bool = True,
):
    """Read-only half of the ingest loop: annotate the batch against the
    current index snapshot, WITHOUT mutating the store. Returns
    ``(ann, survivors)`` — the annotation (materialized, so its plan is
    pinned to the pre-merge snapshot) and the fresh-document relation to
    hand to :func:`dedup_index_merge` once the batch's outputs are
    durable. The split exists for at-least-once callers (the streaming
    gate): merging the index BEFORE the outputs land means a replayed
    batch sees its own half-finished ingest as history and its docs
    never reach the output sink — silent loss; outputs-then-merge flips
    the recovery failure mode to duplicate output rows, which append
    sinks absorb downstream (the standard at-least-once contract).

    ``with_bands=True`` returns ``(ann, survivors, new_bands)`` where
    ``new_bands`` is the batch's MATERIALIZED (id, band, bucket)
    relation — shingling + minhash is the expensive part of the loop,
    and the merge needs exactly these rows again, so callers pass them
    back via ``dedup_index_merge(precomputed=...)`` instead of paying
    the signature computation twice per batch.

    Signature parameters come from the store's ``_INDEX.json`` sidecar
    when present (the WRITER's recorded values — a probe under guessed
    parameters silently probes the wrong buckets); the arguments apply
    only to sidecar-less stores (bootstrap, legacy).

    ``eager=False`` returns ``ann`` as a LAZY checkpoint for callers
    that build one more pre-mutation relation ON TOP of the annotation
    and materialize THAT instead (curate_increment's batch report):
    one job then pins both plans to the pre-merge snapshot instead of
    two. The caller owns the contract the default otherwise enforces —
    it MUST run an action over ``ann`` (or a consumer) before any
    store mutation."""
    recorded = _index_params(base_path)
    if recorded is not None:
        num_hashes = recorded["num_hashes"]
        bands = recorded["bands"]
        shingle_n = recorded["shingle_n"]
    spark = new_docs.sparkSession
    hashes, bands_rel = read_dedup_index(spark, base_path)
    # one signature pass serves probe AND merge; lazy — ann's eager
    # checkpoint below consumes new_bands, so its materialization job
    # persists these blocks too (one job instead of two, r15)
    new_bands = lsh_bands(
        minhash_signatures(new_docs, num_hashes, id_col, shingle_n),
        num_hashes,
        bands,
        id_col,
    ).localCheckpoint(eager=False)
    ann = incremental_dedup(
        new_docs, hashes, bands_rel, num_hashes, bands, id_col, text_col,
        shingle_n, new_bands=new_bands,
    ).localCheckpoint(eager=eager)
    survivors = new_docs.join(
        ann.filter(F.col("fresh")).select(id_col), id_col, "left_semi"
    )
    if with_bands:
        return ann, survivors, new_bands
    return ann, survivors


def dedup_index_merge(
    survivors: DataFrame,
    base_path: str,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    protocol: str | None = None,
    precomputed: tuple[DataFrame, DataFrame] | None = None,
    publish_gate=None,
) -> None:
    """Merge a batch's surviving documents into the persistent index.

    Bands merge BEFORE hashes deliberately: the two stores publish under
    independent locks, so a crash can land between them. With bands
    first, a replayed batch sees its own buckets as history
    (``near_dup_of_history``), gets filtered, and the only lasting gap
    is the hash store missing entries whose future exact duplicates are
    still caught by the band probe (identical text → identical bands) —
    an annotation nuance (reported near-dup instead of exact-dup), not a
    survivorship hole. The reverse order is a permanent near-dup blind
    spot: hash-present/bands-missing docs are filtered as exact dups on
    replay and their band buckets can never be backfilled.

    Concurrency (r13): a concurrent :func:`dedup_index_delete` landing
    BETWEEN the two publishes can produce exactly that blind-spot state
    from the outside (M_bands → D_hashes → D_bands → M_hashes). Both
    writers run their two publishes under
    :func:`versioned.epoch_bracket`, so every interleaving converges on
    a serial order (see the ``DELETE_EPOCH_FILE`` note)."""
    import os

    from wcdimportbot_spark.operators import sinks

    # first merge records the signature parameters; a later merge under
    # different ones fails loudly (see _record_index_params)
    _record_index_params(base_path, num_hashes, bands, shingle_n)

    spark = survivors.sparkSession
    if precomputed is not None:
        # the probe already paid the shingle+minhash pass for exactly
        # these docs (dedup_index_probe(with_bands=True)) — reuse it.
        # s_bands must be the ATTRIBUTED relation (text_hash, band,
        # bucket): the store keys band rows by contributing hash so the
        # index can forget (see _with_band_key)
        s_hashes, s_bands = precomputed
    else:
        s_hashes = (
            survivors.select(F.md5(F.col(text_col)).alias("text_hash"))
            .distinct()
        )
        s_bands = _attributed_bands(
            survivors, num_hashes, bands, id_col, text_col, shingle_n
        )
    def _chain(*gates):
        gates = [g for g in gates if g is not None]
        if not gates:
            return None

        def g() -> None:
            for x in gates:
                x()

        return g

    def _do() -> None:
        # the two merges OVERLAP their batch-side evaluation while the
        # bands-before-hashes publish ORDER is pinned by the gate chain
        # (versioned.run_publish_ordered: the gates run before any lock
        # is taken, so no deadlock against the delete's opposite order;
        # lock-free commits run them before their rename). The external
        # publish_gate is chained into BOTH arms: an empty-bands early
        # return must not let the hashes publish jump the caller's
        # ordering.
        def _bands_arm(gate):
            n = sinks._merge_write(
                spark,
                _with_band_key(s_bands),
                os.path.join(base_path, "bands"),
                bucket_key="bk",
                anti_key="bk",
                partitions=[sinks.BUCKET_COL],
                dedup_key="bk",
                publish_gate=_chain(publish_gate, gate),
                protocol=protocol,
            )
            hooks.point("dedup.bands.merged")
            return n

        def _hashes_arm(gate):
            return sinks._merge_write(
                spark,
                s_hashes,
                os.path.join(base_path, "hashes"),
                bucket_key="text_hash",
                anti_key="text_hash",
                partitions=[sinks.BUCKET_COL],
                dedup_key="text_hash",
                publish_gate=_chain(publish_gate, gate),
                protocol=protocol,
            )

        versioned.run_publish_ordered([_bands_arm, _hashes_arm])

    # merge-vs-delete race (see DELETE_EPOCH_FILE): a re-run converges
    # on the delete→merge serial order
    versioned.epoch_bracket(
        base_path,
        MERGE_EPOCH_FILE,
        lambda: versioned.epoch_read(base_path, DELETE_EPOCH_FILE),
        1.0,
        _do,
        "dedup_index_delete",
    )


def dedup_index_delete(
    doomed_hashes: DataFrame,
    base_path: str,
    bands: int = 4,
    protocol: str | None = None,
) -> dict:
    """Make the dedup index FORGET the given content hashes (r11
    verdict weak #1): remove their ``text_hash`` rows from the hashes
    store and every ``(text_hash, band)`` row they contributed to the
    bands store — both via the partition-pruned copy-on-write DELETE
    (operators/sinks.delete_from_store: untouched bucket dirs hardlink
    into the new snapshot, only buckets holding doomed rows rewrite).

    Why the index must forget: (a) purge completeness — after a
    document leaves the corpus/graph/ANN stores, its exact-hash
    fingerprint and MinHash band rows are content-derived artifacts a
    GDPR-style purge must also remove; (b) re-ingest — the nightly loop
    drops any batch doc whose hash the index knows (``dup_of_history``),
    so content deleted from the corpus could otherwise NEVER re-enter.
    Mirrors the reference's forgetting delete: ``Cache.delete_key``
    removes the hash→QID memory (``src/models/cache.py:136-141``) so a
    deleted page can be re-imported (``tests/test_wikibase_crud.py:
    168-342``); this is the LLM-side analog on the dedup memory.

    Deletion order is hashes FIRST, then bands — the mirror of the
    merge's bands-before-hashes: a crash between the two leaves a
    hash-forgotten/bands-remembered index, under which re-ingested
    identical content is annotated near-dup but ACCEPTED (acceptance
    gates on the exact hash), and a replayed delete (or the re-ingest
    itself, which re-derives exactly the leftover ``bk`` rows)
    converges the bands store. The reverse order would leave the exact
    hash behind — precisely the can-never-re-enter failure this
    operation exists to remove.

    Absent hashes are swallowed (0 deletes, nothing published) — the
    reference's tolerant delete-twice contract (``crud/delete.py:
    44-61``). A pre-r12 bands store (rows keyed ``band#bucket``, no
    ``text_hash`` column) cannot be pruned by hash and fails LOUDLY —
    rebuild the index once to migrate.

    ``bands`` resolves from the store's ``_INDEX.json`` sidecar when
    present (the WRITER's count — deleting under a guessed smaller
    count would leave ``hash#k`` rows for the missing band indices on
    disk, silently breaking the purge-completeness contract above); the
    argument applies only to sidecar-less legacy stores.

    Scale shape: both deletes are O(touched hash-buckets) writes; the
    doomed ``bk`` list is a driver-free enumeration (hash × band index,
    ``bands`` rows per doomed hash), so nothing ever scans the store
    except the pruned buckets themselves. Returns
    ``{"hashes_deleted": n, "bands_deleted": n}``."""
    import os

    from wcdimportbot_spark.operators import sinks

    recorded = _index_params(base_path)
    if recorded is not None:
        bands = recorded["bands"]
    spark = doomed_hashes.sparkSession
    # lazy: the first delete's touched-bucket collect (its first action,
    # before any store mutation in this call) runs the checkpoint; the
    # bands delete and any race-repair re-run then reuse the blocks
    doomed = keys.key_set(doomed_hashes, "text_hash").localCheckpoint(
        eager=False
    )
    doomed = keys.unique(doomed, "text_hash")  # a checkpointed key set
    hpath = os.path.join(base_path, "hashes")
    bpath = os.path.join(base_path, "bands")

    def _do() -> tuple[int, int]:
        # the two deletes OVERLAP their batch-side evaluation; the
        # hashes-BEFORE-bands publish ORDER (the mirror of the merge's
        # crash contract) is pinned by the gate chain. Gates run before
        # any lock is taken (versioned.run_publish_ordered), so this
        # cannot deadlock against a concurrent merge's opposite order.
        def _hashes_arm(gate) -> int:
            if not sinks.has_parquet_data(hpath):
                return 0
            return sinks.delete_from_store(
                spark,
                doomed,
                hpath,
                key="text_hash",
                bucket_key="text_hash",
                partitions=[sinks.BUCKET_COL],
                protocol=protocol,
                publish_gate=gate,
            )

        def _bands_arm(gate) -> int:
            if not sinks.has_parquet_data(bpath):
                return 0
            if "text_hash" not in sinks.read_snapshot(
                spark, bpath
            ).columns:
                raise ValueError(
                    f"bands store {bpath} predates hash attribution "
                    f"(rows keyed band#bucket carry no text_hash) and "
                    f"cannot be pruned by content hash — rebuild the "
                    f"index to migrate"
                )
            return sinks.delete_from_store(
                spark,
                _band_keys_for_hashes(doomed, bands),
                bpath,
                key="bk",
                bucket_key="bk",
                partitions=[sinks.BUCKET_COL],
                protocol=protocol,
                publish_gate=gate,
            )

        n_h, n_b = versioned.run_publish_ordered([_hashes_arm, _bands_arm])
        return n_h, n_b

    # merge-vs-delete race, delete side (see DELETE_EPOCH_FILE): a
    # re-run converges on the merge→delete serial order, and its
    # re-deletes of rows a racing merge re-inserted are real deletions,
    # so the counts sum over attempts
    attempts = versioned.epoch_bracket(
        base_path,
        DELETE_EPOCH_FILE,
        lambda: versioned.epoch_read(base_path, MERGE_EPOCH_FILE),
        1.6,
        _do,
        "dedup_index_merge",
    )
    return {
        "hashes_deleted": int(sum(n_h for n_h, _ in attempts)),
        "bands_deleted": int(sum(n_b for _, n_b in attempts)),
    }


def dedup_index_tables_write(
    hashes: DataFrame,
    bands_rel: DataFrame,
    prefix: str,
    buckets: int = 16,
) -> None:
    """Publish the dedup index as Spark BUCKETED TABLES
    (``{prefix}_hashes`` bucketed on ``text_hash``, ``{prefix}_bands``
    bucketed on ``(band, bucket)``) — the co-located-join form of the
    index.

    Why this exists next to the snapshot-versioned parquet store
    (:func:`dedup_index_ingest`): the probe joins of
    :func:`incremental_dedup` are equi-joins whose BIG side is the index.
    Against a plain parquet store the sort-merge path exchanges BOTH
    sides; against these bucketed tables Spark's scan is pre-partitioned
    on the join key (bucket spec == join keys — ``text_hash`` for the
    exact probe, ``(band, bucket)`` for the band probe), so only the
    (small) batch side shuffles and the corpus-scale index never moves —
    pinned by tests/test_llm_ops.py::test_bucketed_index_probe_no_store_shuffle.
    At 100 TB ``buckets`` scales with the store (≈ store_size /
    executor-comfortable-chunk, same sizing rule as sinks.N_BUCKETS)."""
    (
        hashes.write.bucketBy(buckets, "text_hash")
        .sortBy("text_hash")
        .mode("overwrite")
        .saveAsTable(f"{prefix}_hashes")
    )
    # bucket columns must EXACTLY match the probe's join keys — v1
    # bucketing is disabled by the planner for subset matches
    (
        bands_rel.write.bucketBy(buckets, "band", "bucket")
        .sortBy("band", "bucket")
        .mode("overwrite")
        .saveAsTable(f"{prefix}_bands")
    )


def dedup_index_tables_read(spark, prefix: str) -> tuple[DataFrame, DataFrame]:
    """(hashes_df, bands_df) from the bucketed-table form of the index —
    drop-in history relations for :func:`incremental_dedup`."""
    return spark.table(f"{prefix}_hashes"), spark.table(f"{prefix}_bands")


def _mh_cte_block(
    table: str,
    group_sql: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> str:
    """Shared DuckDB CTE text for the minhash band relation: toklist →
    shingles → signatures → ``bandsrel(doc_id, g, band, bucket)``, where
    ``g`` is the per-doc INT group from ``group_sql`` (history/batch
    membership). Uses the SAME hash-family constants as the Spark side."""
    rows = num_hashes // bands
    P = MINHASH_PRIME
    base = f"(('0x' || substring(md5(token), 1, 15))::BIGINT % {P})"
    mh_exprs = ",\n               ".join(
        f"min(({a} * {base} + {b}) % {P}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    sep = " || '|' || "
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, g, {b} AS band, "
        f"md5({sep.join(f'CAST(mh{b * rows + r} AS VARCHAR)' for r in range(rows))}) AS bucket FROM sigs"
        for b in range(bands)
    )
    shingle_expr = sep.join(f"ts[i + {j}]" for j in range(shingle_n)).replace(
        "'|'", "' '"
    )
    return f"""toklist AS (
        SELECT doc_id, ({group_sql}) AS g,
               list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '') AS ts
        FROM {table}
    ),
    tok AS (
        SELECT DISTINCT doc_id, g, {shingle_expr} AS token
        FROM toklist, UNNEST(range(1, len(ts) - {shingle_n - 2})) AS t(i)
        WHERE len(ts) >= {shingle_n}
    ),
    sigs AS (
        SELECT doc_id, g,
               {mh_exprs}
        FROM tok GROUP BY doc_id, g
    ),
    bandsrel AS (
{band_selects}
    )"""


def incremental_dedup_sql(
    table: str,
    hist_pred: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> str:
    """DuckDB oracle for :func:`incremental_dedup` where history =
    ``table`` rows matching ``hist_pred`` and the new batch is the
    complement (generated from the same hash-family constants as the
    Spark side)."""
    mh = _mh_cte_block(
        table,
        f"CASE WHEN {hist_pred} THEN 0 ELSE 1 END",
        num_hashes,
        bands,
        shingle_n,
    )
    return f"""
    WITH {mh},
    hist_h AS (SELECT DISTINCT md5(text) AS text_hash FROM {table} WHERE {hist_pred}),
    hist_b AS (SELECT DISTINCT band, bucket FROM bandsrel WHERE g = 0),
    new_rows AS (
        SELECT doc_id, md5(text) AS text_hash FROM {table} WHERE NOT ({hist_pred})
    ),
    near AS (
        SELECT DISTINCT b.doc_id
        FROM bandsrel b JOIN hist_b h USING (band, bucket)
        WHERE b.g <> 0
    )
    SELECT n.doc_id, n.text_hash,
           (n.text_hash IN (SELECT text_hash FROM hist_h)) AS exact_dup_of_history,
           (n.doc_id IN (SELECT doc_id FROM near)) AS near_dup_of_history,
           NOT (n.text_hash IN (SELECT text_hash FROM hist_h))
           AND NOT (n.doc_id IN (SELECT doc_id FROM near)) AS fresh
    FROM new_rows n
    """


def incremental_maint_sql(
    table: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> str:
    """DuckDB oracle for the index-MAINTENANCE loop (probe → filter →
    append) over three doc groups: history = ``doc_id % 3 = 0``,
    batch 1 = ``% 3 = 1`` (probed against history, its FRESH survivors
    appended to the index), batch 2 = ``% 3 = 2`` (probed against the
    UPDATED index — so batch-2 dupes of batch-1 survivors are caught)."""
    mh = _mh_cte_block(
        table, "CAST(doc_id % 3 AS INT)", num_hashes, bands, shingle_n
    )
    return f"""
    WITH {mh},
    h0 AS (SELECT DISTINCT md5(text) AS text_hash FROM {table} WHERE doc_id % 3 = 0),
    b0 AS (SELECT DISTINCT band, bucket FROM bandsrel WHERE g = 0),
    new1 AS (SELECT doc_id, md5(text) AS text_hash FROM {table} WHERE doc_id % 3 = 1),
    near1 AS (
        SELECT DISTINCT b.doc_id FROM bandsrel b JOIN b0 USING (band, bucket)
        WHERE b.g = 1
    ),
    ann1 AS (
        SELECT doc_id, text_hash,
               text_hash IN (SELECT text_hash FROM h0) AS e,
               doc_id IN (SELECT doc_id FROM near1) AS nr
        FROM new1
    ),
    surv1 AS (SELECT doc_id FROM ann1 WHERE NOT e AND NOT nr),
    h1 AS (
        SELECT text_hash FROM h0
        UNION
        SELECT md5(text) FROM {table}
        WHERE doc_id IN (SELECT doc_id FROM surv1)
    ),
    b1 AS (
        SELECT band, bucket FROM b0
        UNION
        SELECT band, bucket FROM bandsrel
        WHERE doc_id IN (SELECT doc_id FROM surv1)
    ),
    new2 AS (SELECT doc_id, md5(text) AS text_hash FROM {table} WHERE doc_id % 3 = 2),
    near2 AS (
        SELECT DISTINCT b.doc_id FROM bandsrel b JOIN b1 USING (band, bucket)
        WHERE b.g = 2
    ),
    ann2 AS (
        SELECT doc_id, text_hash,
               text_hash IN (SELECT text_hash FROM h1) AS e,
               doc_id IN (SELECT doc_id FROM near2) AS nr
        FROM new2
    )
    SELECT 1 AS batch, doc_id, text_hash, e AS exact_dup_of_history,
           nr AS near_dup_of_history, (NOT e AND NOT nr) AS fresh
    FROM ann1
    UNION ALL
    SELECT 2 AS batch, doc_id, text_hash, e, nr, (NOT e AND NOT nr)
    FROM ann2
    """


def compact_dedup_index(
    spark, base_path: str, protocol: str | None = None
) -> dict:
    """Small-file maintenance for the persistent dedup index: every
    ingest batch appends one file per touched hash bucket of the
    ``hashes`` and ``bands`` stores, so a long-running ingest loop (or
    the streaming gate, one batch per micro-batch) fragments the exact
    relations every probe equi-join scans. Runs the shared
    :func:`~wcdimportbot_spark.operators.sinks.compact_store` on both
    stores — same snapshot/lock mechanics as the ingest itself, so it
    composes with concurrent probes (they keep their pinned version)
    and serializes with concurrent merges. Nightly companion to the
    ingest loop, like the items/claims/cache `--compact`."""
    import os

    from wcdimportbot_spark.operators import sinks

    out = {}
    for name, sort_key in (("hashes", "text_hash"), ("bands", "bk")):
        p = os.path.join(base_path, name)
        if sinks.has_parquet_data(p):
            out[name] = sinks.compact_store(
                spark,
                p,
                sort_key=sort_key,
                partitions=[sinks.BUCKET_COL],
                protocol=protocol,
            )
        else:
            out[name] = {"compacted_partitions": 0, "files_before": 0}
    return out
