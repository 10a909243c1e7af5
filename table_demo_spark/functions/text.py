"""Text-analysis scalar functions — native Column expressions.

North-star operators for large-scale training-data pipelines: tokenize,
token counting, quality scoring, language-ID heuristics, document
fingerprints. All stay JVM-side (split/transform/aggregate higher-order
functions), so they vectorize inside whole-stage codegen and never pay
a Python round-trip — at 100 TB these run at scan speed.
"""

from __future__ import annotations

import pandas as _pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny built-in stopword lists for the heuristic language scorer.
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is"]
STOPWORDS_DE = ["der", "die", "das", "und", "ist", "ein"]
STOPWORDS_ES = ["el", "la", "de", "y", "que", "un"]
STOPWORDS_FR = ["le", "la", "de", "et", "est", "un"]


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def tokens(text) -> Column:
    """Whitespace tokenization of the lower-cased, trimmed text.
    ``split(trim(lower(text)), '\\s+')`` — the BPE-ish regex tokenizer
    is :func:`regex_tokens`."""
    return F.split(F.trim(F.lower(_c(text))), r"\s+")


BPE_TOKEN_RE = "([a-z]+|[0-9]+|[^a-z0-9\\s])"


def regex_tokens(text) -> Column:
    """BPE-ish tokenizer: runs of letters, runs of digits, or single
    punctuation marks each become a token (the shape a byte-pair
    pre-tokenizer produces before merges)."""
    return F.regexp_extract_all(F.lower(_c(text)), F.lit(BPE_TOKEN_RE), 1)


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-gram shingles of a token array (empty when len(toks)<n).

    Built as zip_with over shifted slices rather than per-index
    element_at: a lambda that re-references the token expression per
    element would re-evaluate the upstream split() once per shingle
    (measured ~25x slower on real corpora); slices reference it only
    n times per row.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if n == 1:
        return toks
    cnt = F.size(toks) - (n - 1)
    grams = F.slice(toks, 1, cnt)
    for j in range(1, n):
        grams = F.zip_with(
            grams, F.slice(toks, j + 1, cnt), lambda x, y: F.concat_ws(" ", x, y)
        )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def stopword_ratio(toks: Column, stopwords: list[str]) -> Column:
    """Fraction of tokens that are stopwords (double; 0 for empty)."""
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def avg_token_len(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n = F.size(toks)
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(n_tokens: Column, stop_ratio: Column, avg_len: Column) -> Column:
    """Deterministic additive quality heuristic: length band (0.5) +
    stopword presence (0.3) + plausible word length (0.2)."""
    return (
        F.when(n_tokens.between(10, 80), F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(avg_len.between(3.0, 8.0), F.lit(0.2)).otherwise(F.lit(0.0))
    )


def lang_scores(toks: Column) -> dict[str, Column]:
    return {
        "en": stopword_ratio(toks, STOPWORDS_EN),
        "de": stopword_ratio(toks, STOPWORDS_DE),
        "es": stopword_ratio(toks, STOPWORDS_ES),
        "fr": stopword_ratio(toks, STOPWORDS_FR),
    }


def predict_lang(toks: Column) -> Column:
    """Argmax over per-language stopword-hit ratios; 'und' (undetermined)
    when no list scores above zero. Ties resolve in fixed en>de>es>fr
    order, making the heuristic fully deterministic."""
    s = lang_scores(toks)
    best = F.greatest(*s.values())
    out = F.lit("und")
    # reversed so earlier languages win ties
    for lang in ["fr", "es", "de", "en"]:
        out = F.when((s[lang] > 0) & (s[lang] == best), F.lit(lang)).otherwise(out)
    return out


def doc_fingerprint(text) -> Column:
    """Content fingerprint: md5 over the normalized token stream."""
    return F.md5(F.concat_ws(" ", tokens(text)))


def bag_fingerprint(text) -> Column:
    """Order-insensitive fingerprint: md5 over the sorted token multiset
    (catches shuffled-word duplicates exact dedup misses)."""
    return F.md5(F.concat_ws(" ", F.array_sort(tokens(text))))


WINNOW_K = 5  # k-gram char shingle length
WINNOW_W = 4  # winnowing window (guarantee threshold t = W + K - 1)
ROLL_BASE = 257
ROLL_MOD = 1_000_000_007


def with_winnow_fingerprints(df, text_col: str = "text", out: str = "fps"):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    polynomial rolling hash over every k-char gram, then the minimum
    hash per w-gram window, deduplicated — a compact, position-robust
    fingerprint set; two docs sharing a run of >= w+k-1 chars share at
    least one fingerprint.

    Arrow-vectorized numpy implementation (pandas_udf): the per-char
    array pipeline is the rare case where native expressions lose —
    Catalyst evaluates higher-order-function lambdas interpretively per
    element (~10x slower than this, measured at sf0.1); numpy does the
    rolling hash as k shifted-slice multiply-adds and the window min
    via stride tricks. Integer math is identical to
    :func:`with_winnow_fingerprints_expr` (tested equal), which remains
    the expression-level reference and the oracle's shape.
    """
    import numpy as np

    k, w, mod = WINNOW_K, WINNOW_W, ROLL_MOD
    powers = [ROLL_BASE ** (k - 1 - i) % mod for i in range(k)]

    @F.pandas_udf("array<long>")
    def _winnow(texts: _pd.Series) -> _pd.Series:
        from numpy.lib.stride_tricks import sliding_window_view

        res = []
        for t in texts:
            codes = np.frombuffer(
                t.lower().encode("utf-32-le"), dtype="<u4"
            ).astype(np.int64)
            n = len(codes)
            if n < k:
                res.append([])
                continue
            h = np.zeros(n - k + 1, dtype=np.int64)
            for i, p in enumerate(powers):
                h = (h + codes[i : n - k + 1 + i] * p) % mod
            if len(h) < w:
                res.append(np.unique(h).tolist())
                continue
            mins = sliding_window_view(h, w).min(axis=1)
            res.append(np.unique(mins).tolist())
        return _pd.Series(res)

    return df.withColumn(out, _winnow(_c(text_col)))


def with_winnow_fingerprints_expr(df, text_col: str = "text", out: str = "fps"):
    """Native-expression winnowing — the oracle-shaped reference
    implementation of :func:`with_winnow_fingerprints`.

    DataFrame-level (not a single Column) on purpose: the char-code
    array and the gram-hash array are materialized as their own
    projection attributes so downstream lambdas read them O(1) —
    folding everything into one expression would let each transform
    element re-evaluate lower()/split() and turn the hash into O(n^2)
    per document (the word_ngrams lesson). Gram hashes are built with
    zip_with over k shifted slices: each slice references the codes
    attribute once, so total work is O(k*n) per doc.
    """
    from table_demo_spark.sources.batch import fan_out

    df = fan_out(df)
    k, w = WINNOW_K, WINNOW_W
    codes = F.transform(
        F.split(F.lower(_c(text_col)), ""),
        lambda c: F.ascii(c).cast("long"),
    )
    s1 = df.withColumn("__codes", codes)
    n_grams = F.greatest(
        F.size(F.col("__codes")) - k + 1, F.lit(0)
    )
    powers = [ROLL_BASE ** (k - 1 - i) % ROLL_MOD for i in range(k)]
    gh = F.transform(
        F.slice(F.col("__codes"), 1, n_grams),
        lambda c: c * F.lit(powers[0]),
    )
    for i in range(1, k):
        shifted = F.slice(F.col("__codes"), 1 + i, n_grams)
        p = powers[i]
        gh = F.zip_with(gh, shifted, lambda a, c: a + c * F.lit(p))
    s2 = s1.withColumn("__gh", F.transform(gh, lambda h: h % ROLL_MOD))
    win_starts = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("__gh")) - w + 1, F.lit(0))
    )
    mins = F.transform(
        win_starts, lambda s: F.array_min(F.slice(F.col("__gh"), s, w))
    )
    return s2.withColumn(out, F.array_sort(F.array_distinct(mins))).drop(
        "__codes", "__gh"
    )


def simhash32(toks: Column) -> Column:
    """32-bit SimHash over the token multiset.

    Bit ``b`` of each token's hash is the high bit of hex digit ``b`` of
    ``md5(token)`` (a hex digit >= '8'), giving 32 independent bits from
    a single cross-engine-reproducible hash. The signature bit is the
    sign of the per-bit vote sum. Near-duplicate docs land at small
    Hamming distance; identical signatures are dup candidates.
    """
    high = list("89abcdef")

    def vote(b: int) -> Column:
        return F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc
            + F.when(
                F.substring(F.md5(t), b + 1, 1).isin(*high), F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    sig = F.lit(0).cast("long")
    for b in range(32):
        sig = sig + F.when(vote(b) > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


# ---------------------------------------------------------------------------
# PII redaction (pre-training scrub). The patterns are deliberately
# conservative regexes expressible identically in Java (Spark) and RE2
# (DuckDB): character classes, bounded repetition, and word boundaries
# only — no lookaround, so both engines produce the same non-overlapping
# left-to-right match sets. Applied in declaration order; order is part
# of the contract (an email is redacted before its digits could be
# mistaken for a phone fragment).
# ---------------------------------------------------------------------------
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+\d{1,2}-\d{3}-\d{4}", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_counts(text) -> dict[str, Column]:
    """Per-class match counts (computed on the UNREDACTED text)."""
    col = _c(text)
    return {
        name: F.regexp_count(col, F.lit(pat)).cast("long")
        for name, pat, _ in PII_PATTERNS
    }


def redact_pii(text) -> Column:
    """Replace every PII match with its class tag, in declaration order.

    A chain of native ``regexp_replace`` calls — codegen'd JVM regex at
    the scan, shuffle-free, no Python on the hot path.
    """
    col = _c(text)
    for _, pat, tag in PII_PATTERNS:
        col = F.regexp_replace(col, pat, tag)
    return col


# URL canonicalization — the CommonCrawl-style dedup key. All native
# regex/array expressions: codegen'd at the scan, shuffle-free.
TRACKING_PARAM_RE = "^(utm_|fbclid|gclid|msclkid)"


def canonical_url(url) -> Column:
    """Canonical form of a URL for dedup keying.

    Normalization rules (each a deterministic native expression, so the
    DuckDB oracle states the same pipeline verbatim): scheme forced to
    https, host lowercased and stripped of a leading ``www.``, trailing
    path slash removed, fragment dropped, tracking query parameters
    (``utm_*``/fbclid/gclid/msclkid) removed, and the surviving
    parameters sorted so param order doesn't split groups. Path case is
    preserved (paths are case-sensitive per RFC 3986; hosts are not).
    """
    col = _c(url)
    host = F.regexp_replace(
        F.lower(F.regexp_extract(col, r"^https?://([^/?#]+)", 1)),
        r"^www\.",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract(col, r"^https?://[^/?#]+([^?#]*)", 1), r"/$", ""
    )
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract(col, r"\?([^#]*)", 1), "&"),
                lambda x: (~x.rlike(TRACKING_PARAM_RE)) & (x != ""),
            )
        ),
        "&",
    )
    return F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(params != "", F.concat(F.lit("?"), params)).otherwise(F.lit("")),
    )


def register_text_sql_functions(spark) -> None:
    """SQL-dialect names for the text extension library.

    Mirrors the reference's register-by-name UDF catalog
    (TaxiRideQueries.scala:39-43) for the north-star operators, but via
    Spark 4 SQL scalar functions (CREATE TEMPORARY FUNCTION ... RETURN
    <expr>): the body is a native expression, so unlike
    ``spark.udf.register`` of a Python callable the SQL dialect stays
    whole-stage-codegen'd — zero Python anywhere. Idempotent
    (CREATE OR REPLACE), like taxi.register_sql_functions.
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION ws_token_count(t STRING) "
        "RETURNS INT RETURN size(split(trim(lower(t)), '\\\\s+'))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION doc_fingerprint(t STRING) "
        "RETURNS STRING RETURN md5(array_join(split(trim(lower(t)), '\\\\s+'), ' '))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION canonical_url(u STRING) "
        "RETURNS STRING RETURN concat("
        " 'https://',"
        " regexp_replace(lower(regexp_extract(u, '^https?://([^/?#]+)', 1)),"
        "                '^www\\\\.', ''),"
        " regexp_replace(regexp_extract(u, '^https?://[^/?#]+([^?#]*)', 1),"
        "                '/$', ''),"
        " CASE WHEN array_join(array_sort(filter("
        "        split(regexp_extract(u, '\\\\?([^#]*)', 1), '&'),"
        f"        x -> NOT x rlike '{TRACKING_PARAM_RE}' AND x != '')), '&') != ''"
        "      THEN concat('?', array_join(array_sort(filter("
        "        split(regexp_extract(u, '\\\\?([^#]*)', 1), '&'),"
        f"        x -> NOT x rlike '{TRACKING_PARAM_RE}' AND x != '')), '&'))"
        "      ELSE '' END)"
    )
