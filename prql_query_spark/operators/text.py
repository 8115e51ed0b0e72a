"""Text-analysis operators for training-data pipelines.

Everything here is built-in-function SQL (split/regexp/higher-order
functions) — JVM-side, whole-stage-codegen friendly, no UDFs.  Each operator
has a deterministic definition so the DuckDB oracle can replicate it where
the function surface allows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prql_query_spark.engine.session import barrier

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deliberately small + deterministic (not a library): the point is
# the Spark plumbing, not lexicography.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "un", "une", "dans", "pour"],
    "es": ["el", "la", "los", "y", "es", "no", "un", "una", "en", "por"],
}

# The repo-wide whitespace-tokenize class.  Java's \s is {space,\t,\n,
# \x0B,\f,\r} but RE2's (DuckDB) is the same WITHOUT \x0B, so a literal
# \s+ on the Spark side silently disagrees with every DuckDB oracle on
# text containing a vertical tab (found by the hostile-string fuzz, not by
# the fixtures).  Pinning Spark to RE2's exact set makes the two engines
# agree on EVERY input; the oracles keep their natural '\s+'.  The raw
# string works in both contexts that need it: Java regex via F.split and
# Spark SQL string literals (whose escape processing turns \t into the
# actual char — a character class of actual chars matches identically).
ASCII_WS = r"[ \t\n\r\f]+"
# Same class for embedding inside a SPARK SQL string literal: Spark's
# string parser consumes one level of backslash escapes and turns unknown
# ones into the bare letter ('\f' -> 'f' — a class that splits on the
# LETTER f, caught by x_simhash_pairs parity), so the regex escapes must
# arrive double-backslashed.  DuckDB SQL strings do NOT unescape, so the
# oracles embed ASCII_WS-equivalent patterns ('\s+') directly.
ASCII_WS_SPARKSQL = ASCII_WS.replace("\\", "\\\\")


def tokens(text_col: Column) -> Column:
    return F.split(F.trim(F.lower(text_col)), ASCII_WS)


def token_count(text_col: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    t = F.trim(text_col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, ASCII_WS)))


BPE_PIECE_RE = "[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]"


def bpe_ish_token_count(text_col: Column) -> Column:
    """BPE-ish proxy: word-piece runs + individual punctuation marks.

    Uses regexp_extract_all with an RE2-compatible pattern (no lookarounds)
    so the DuckDB oracle can evaluate the identical regex."""
    return F.size(F.regexp_extract_all(text_col, F.lit(BPE_PIECE_RE), F.lit(0)))


def punct_ratio(text_col: Column) -> Column:
    total = F.length(text_col)
    punct = F.length(F.regexp_replace(text_col, r"[^\p{Punct}]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(punct / total)


def stopword_ratio(text_col: Column, lang: str = "en") -> Column:
    toks = tokens(text_col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(hits / F.size(toks))


def clean_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 20,
    max_chars: int = 100_000,
    min_tokens: int = 5,
    max_punct: float = 0.25,
) -> DataFrame:
    """The composite cleaning pass of a training-data pipeline in ONE plan:
    content-hash dedup (first doc per md5) then length / token-count /
    punctuation-ratio gates.  One window shuffle + one narrow filter-project;
    every metric is SQL-expressible, so the whole pipeline is value-checked
    against the DuckDB oracle (unlike the heuristic lang-ID/fingerprint
    profile ops).
    """
    from prql_query_spark.operators.dedup import dedup_exact

    t = F.col(text_col)
    deduped = dedup_exact(
        df.withColumn("_h", F.md5(t)), ["_h"], id_col
    ).drop("_h")
    return (
        deduped
        .withColumn("n_tokens", token_count(t).cast("long"))
        .withColumn("punct_ratio", F.round(punct_ratio(t), 4))
        .filter(
            (F.length(t) >= min_chars) & (F.length(t) <= max_chars)
            & (F.col("n_tokens") >= min_tokens)
            & (F.col("punct_ratio") <= max_punct)
        )
    )


def lang_id(text_col: Column) -> Column:
    """Stopword-vote language ID over the 4 built-in languages ('und' if no
    stopword hits at all)."""
    toks = tokens(text_col)
    scores = []
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        scores.append(
            (lang, F.size(F.filter(toks, lambda t: F.array_contains(sw, t))))
        )
    best_score = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reversed so earlier languages win ties (stable order: en de fr es)
    for lang, s in reversed(scores):
        expr = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(expr)
    return expr


def quality_score(text_col: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + low punctuation +
    healthy stopword ratio.  Deterministic; thresholds follow common
    web-corpus filtering folklore (C4-style)."""
    n_tok = token_count(text_col)
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), 1.0).otherwise(0.0)
    p = punct_ratio(text_col)
    punct_ok = F.when(p <= 0.3, 1.0 - p).otherwise(0.0)
    sw = stopword_ratio(text_col)
    sw_ok = F.when(sw >= 0.05, F.least(sw * 2, F.lit(1.0))).otherwise(sw * 4)
    return F.round((len_ok + punct_ok + sw_ok) / 3.0, 4)


def doc_fingerprint(text_col: Column) -> Column:
    """Order-insensitive content fingerprint: xxhash64 over the sorted
    distinct token set (canonicalized).  Robust to whitespace/word order."""
    toks = F.array_sort(F.array_distinct(tokens(text_col)))
    return F.xxhash64(F.concat_ws("", toks))


# PII patterns: RE2-compatible (no lookarounds/backrefs) so the DuckDB
# oracle evaluates the IDENTICAL regex.  Order matters: emails before IPs
# (an email's dotted domain must not be half-eaten by the IP rule).
PII_PATTERNS: list[tuple[str, str]] = [
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IP", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("PHONE", r"\+\d[\d() -]{7,}\d"),
]


def scrub_pii(text_col: Column) -> Column:
    """Redact emails / IPv4s / international-format phones to <TYPE> tags.

    Pure regexp_replace chain — JVM-side, codegen'd, no UDF; at 100 TB this
    pipelines into the scan with zero shuffle."""
    out = text_col
    for tag, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{tag}>")
    return out


# Candidate payment-card shapes: 13-19 digits with optional single
# space/dash separators.  A regex alone over-redacts (timestamps, ids),
# so redaction is gated on the Luhn checksum — the public card check
# digit algorithm — making this the one PII class with a VALIDATING
# scrubber rather than a pattern scrubber.
CARD_CANDIDATE = r"\b(?:\d[ -]?){12,18}\d\b"


def luhn_valid(cand: Column) -> Column:
    """Luhn checksum over a candidate string (separators stripped),
    entirely in JVM higher-order functions — no UDF: reverse the digit
    array, double every second digit from the right (0-based odd index
    of the reversed array), subtract 9 past 9, sum % 10 == 0."""
    digits = F.filter(
        F.split(F.regexp_replace(cand, "[ -]", ""), ""),
        lambda x: x != "")
    total = F.aggregate(
        F.transform(
            F.reverse(digits),
            lambda d, i: F.when(
                i % 2 == 1,
                F.when(d.cast("int") * 2 > 9, d.cast("int") * 2 - 9)
                 .otherwise(d.cast("int") * 2),
            ).otherwise(d.cast("int"))),
        F.lit(0), lambda a, x: a + x)
    return total % 10 == 0


def _card_candidates(text_col: Column) -> Column:
    # sorted+distinct so the replace fold order is deterministic and
    # any SQL twin applying the same sort redacts identically even when
    # one candidate is a substring of another
    return F.array_sort(F.array_distinct(
        F.regexp_extract_all(text_col, F.lit(CARD_CANDIDATE), F.lit(0))))


def scrub_card_numbers(text_col: Column) -> Column:
    """Redact Luhn-VALID card numbers to <CARD>; Luhn-invalid candidates
    (order ids, timestamps) are left alone.  Pure JVM expressions
    (regexp_extract_all + higher-order filter/aggregate/replace), so it
    pipelines into the scan with zero shuffle, same posture as
    scrub_pii."""
    return F.aggregate(
        F.filter(_card_candidates(text_col), luhn_valid),
        text_col,
        lambda acc, c: F.replace(acc, c, F.lit("<CARD>")))


def card_counts(text_col: Column) -> dict[str, Column]:
    """Audit columns: Luhn-valid matches vs all candidates per row."""
    cands = _card_candidates(text_col)
    return {
        "card_valid_n": F.size(F.filter(cands, luhn_valid)),
        "card_candidate_n": F.size(cands),
    }


def pii_counts(text_col: Column) -> dict[str, Column]:
    """Per-type match counts (for audit dashboards / drop-thresholds)."""
    return {
        tag.lower() + "_n": F.size(F.regexp_extract_all(text_col, F.lit(pat), F.lit(0)))
        for tag, pat in PII_PATTERNS
    }


def compression_ratio(text_col: Column, level: int = 6) -> Column:
    """zlib-compressed size over raw size — the CCNet/Gopher-family
    "compressibility" gibberish-and-boilerplate signal: highly repetitive
    text compresses far below ~0.4, high-entropy noise stays near 1.

    The one quality signal here that cannot be a JVM expression (no
    codec functions in SQL), so it runs as an Arrow-vectorized pandas
    UDF — a narrow zero-shuffle stage, batched through Arrow, never
    row-at-a-time Python.  No DuckDB oracle by design (no zlib in SQL);
    the crafted-text pytest pins the semantics instead."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        import zlib

        def one(v):
            if v is None:
                return None
            b = v.encode("utf-8")
            if not b:
                return 0.0
            return round(len(zlib.compress(b, level)) / len(b), 4)

        return s.map(one)

    return _ratio(text_col)


def dup_token_fraction(text_col: Column, sep: str = ASCII_WS) -> Column:
    """Fraction of repeated units (lines with sep='\\n', words by default) —
    the Gopher/MassiveText repetition filter.  Computed entirely in one
    projection: 1 - distinct_units/units via array functions, no explode and
    no shuffle."""
    units = F.split(F.trim(text_col), sep)
    n = F.size(units)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.round(1.0 - F.size(F.array_distinct(units)) / n, 4)
    )


def contamination(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_text_col: str = "text",
    hashed: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per-document count of distinct word
    n-grams that also appear anywhere in the probe corpus (the benchmark /
    eval set).  Docs with n_hits > 0 are contamination suspects.

    Scale shape: the probe side is a benchmark suite — thousands of docs,
    so its distinct n-gram set is tiny relative to the corpus and is
    BROADCAST: the big side never shuffles, the join pipelines into the
    scan, and the only shuffle is the per-doc count aggregation (keyed on
    id, pre-combined map-side).  `hashed=True` joins on xxhash64 of the
    n-gram instead of the string — 8 bytes a key instead of ~7·n, which is
    what you want at 100 TB (collision odds at 64 bit are negligible).
    `array_distinct` runs BEFORE explode so repeated n-grams within one
    doc cost one row, not many.
    """
    def grams(df, idc, tc):
        toks = F.regexp_extract_all(
            F.lower(F.col(tc)), F.lit("[a-z0-9]+"), F.lit(0)
        )
        # materialize the token array first: HOFs are interpreted and
        # would re-run the regexp per n-gram position otherwise.  One
        # parsed SQL string, not a py4j lambda Column (construction time on
        # every query build).
        ng = F.expr(
            f"transform(sequence(1, size(_toks) - {n - 1}), "
            f"i -> concat_ws(' ', slice(_toks, i, {n})))")
        out = (
            df.select(F.col(idc), toks.alias("_toks"))
            .filter(F.size("_toks") >= n)
            .select(F.col(idc), F.explode(F.array_distinct(ng)).alias("ng"))
        )
        if hashed:
            out = out.select(idc, F.xxhash64("ng").alias("ng"))
        return out

    probe_set = grams(probes, id_col, probe_text_col).select("ng").distinct()
    return (
        grams(docs, id_col, text_col)
        .join(F.broadcast(probe_set), "ng")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def strip_html(text_col: Column) -> Column:
    """Boilerplate strip: drop tags, decode the common entities, collapse
    whitespace.  Pure regexp/replace chain — codegen'd, zero shuffle."""
    out = F.regexp_replace(text_col, r"<[^>]*>", " ")
    for ent, ch in [
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ]:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, ASCII_WS, " "))


C4_THRESHOLDS = {
    "min_line_words": 5,
    "min_sentences": 3,
}


def c4_clean(df: DataFrame, text_col: str = "text", **overrides) -> DataFrame:
    """C4-style line+page cleaning (Raffel et al. 2020 heuristics) with
    per-rule accounting, the companion gate to `gopher_audit`:

    line tier — keep only lines that end in a terminal punctuation mark
    (. ! ? "), contain at least ``min_line_words`` words, and do not
    mention javascript/cookie-banner boilerplate; page tier — reject the
    document when fewer than ``min_sentences`` sentences survive, or the
    page contains "lorem ipsum" or a curly brace (leaked code/templates).

    Adds `clean_text` (surviving lines re-joined), `n_lines_kept`,
    `n_sentences`, `reject_reason` (first failing rule, NULL = kept), and
    `keep`.  Single narrow projection — split/filter/rejoin are all JVM
    higher-order functions, zero shuffle/UDF, pipelines into the scan.
    """
    th = {**C4_THRESHOLDS, **overrides}
    t = F.col(text_col)
    lines = F.split(t, "\\n")
    line_ok = lambda ln: (
        F.regexp_like(ln, F.lit('[.!?"]\\s*$'))
        & (F.size(F.split(F.trim(ln), ASCII_WS)) >= th["min_line_words"])
        & ~F.lower(ln).contains("javascript")
        & ~F.lower(ln).contains("enable cookies")
    )
    kept = F.filter(lines, line_ok)
    clean = F.concat_ws("\n", kept)
    base = (
        df.withColumn("clean_text", clean)
        .withColumn("n_lines_kept", F.size(kept).cast("long"))
        .withColumn(
            "n_sentences",
            F.when(F.length("clean_text") == 0, F.lit(0)).otherwise(
                F.size(F.regexp_extract_all(F.col("clean_text"), F.lit("[.!?]"), 0))
            ).cast("long"),
        )
    )
    reason = (
        F.when(F.lower(t).contains("lorem ipsum"), F.lit("lorem_ipsum"))
        .when(t.contains("{"), F.lit("curly_brace"))
        .when(F.col("n_sentences") < th["min_sentences"], F.lit("too_few_sentences"))
    )
    return base.withColumn("reject_reason", reason).withColumn(
        "keep", F.col("reject_reason").isNull()
    )


def c4_clean_oracle_sql(salted: str, **overrides) -> str:
    """DuckDB twin of `c4_clean`'s per-reason accounting, generated from
    the SAME threshold dict; ``salted`` is a CTE body yielding
    (doc_id, text)."""
    th = {**C4_THRESHOLDS, **overrides}
    return f"""
WITH salted AS ({salted}),
l AS (
    SELECT doc_id, text,
           list_filter(
               string_split(text, chr(10)),
               ln -> regexp_matches(ln, '[.!?"]\\s*$')
                     AND len(regexp_split_to_array(trim(ln), '\\s+')) >= {th["min_line_words"]}
                     AND NOT contains(lower(ln), 'javascript')
                     AND NOT contains(lower(ln), 'enable cookies')
           ) AS kept
    FROM salted
), m AS (
    SELECT doc_id, text,
           COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
           CAST(len(kept) AS BIGINT) AS n_lines_kept
    FROM l
), s AS (
    SELECT doc_id, text, n_lines_kept,
           CAST(CASE WHEN length(clean_text) = 0 THEN 0
                ELSE len(regexp_extract_all(clean_text, '[.!?]')) END AS BIGINT)
               AS n_sentences
    FROM m
), r AS (
    SELECT n_sentences,
        CASE
            WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
            WHEN contains(text, '{{') THEN 'curly_brace'
            WHEN n_sentences < {th["min_sentences"]} THEN 'too_few_sentences'
        END AS reason
    FROM s
)
SELECT COALESCE(reason, 'kept') AS reason,
       COUNT(*) AS n_docs,
       CAST(SUM(n_sentences) AS BIGINT) AS total_sentences
FROM r GROUP BY reason ORDER BY reason
"""


# Gopher/MassiveText-style document gates (word-count band, mean/max word
# length, repetition).  One dict so the Spark operator and the generated
# DuckDB oracle share thresholds and cannot drift.
GOPHER_THRESHOLDS = {
    "min_words": 5,
    "max_words": 100_000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "max_token_len": 40,
    "max_dup_frac": 0.3,
}


def gopher_audit(df: DataFrame, text_col: str = "text", **overrides) -> DataFrame:
    """Composite quality gate with per-rule accounting: adds the measured
    signals plus `reject_reason` (first failing rule, NULL when the doc
    passes) and `keep`.  Real pipelines need the reasons, not just the
    surviving rows — rejection-rate-by-rule is the dashboard that catches a
    mis-tuned threshold before it eats the corpus.

    Scale notes: single narrow projection, zero shuffle/UDF/join — this
    pipelines into the parquet scan.  The token array is materialized once
    as a projected column (Spark HOFs are interpreted and re-evaluate
    referenced expressions per element); mean word length avoids a second
    array pass entirely (non-space chars / word count); max word length is
    one aggregate() pass with no intermediate array allocation.
    """
    th = {**GOPHER_THRESHOLDS, **overrides}
    t = F.col(text_col)
    toks = F.col("_toks")
    n_words = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(toks))
    base = (
        df.withColumn("_toks", tokens(t))
        .withColumn("n_words", n_words.cast("long"))
        .withColumn(
            "mean_word_len",
            F.when(F.col("n_words") == 0, F.lit(0.0)).otherwise(
                F.round(
                    F.length(F.regexp_replace(t, ASCII_WS, "")).cast("double")
                    / F.col("n_words"),
                    4,
                )
            ),
        )
        .withColumn(
            "max_word_len",
            F.expr("aggregate(_toks, 0, (a, x) -> greatest(a, length(x)))"),
        )
        .withColumn(
            "dup_frac",
            F.when(F.size(toks) <= 0, F.lit(0.0)).otherwise(
                F.round(1.0 - F.size(F.array_distinct(toks)) / F.size(toks), 4)
            ),
        )
        .drop("_toks")
    )
    reason = (
        F.when(F.col("n_words") < th["min_words"], F.lit("too_few_words"))
        .when(F.col("n_words") > th["max_words"], F.lit("too_many_words"))
        .when(
            (F.col("mean_word_len") < th["min_mean_word_len"])
            | (F.col("mean_word_len") > th["max_mean_word_len"]),
            F.lit("word_length"),
        )
        .when(F.col("max_word_len") > th["max_token_len"], F.lit("giant_token"))
        .when(F.col("dup_frac") > th["max_dup_frac"], F.lit("repetitive"))
    )
    return base.withColumn("reject_reason", reason).withColumn(
        "keep", F.col("reject_reason").isNull()
    )


def gopher_audit_oracle_sql(table: str = "documents", **overrides) -> str:
    """DuckDB twin of `gopher_audit`'s signals+reason, generated from the
    SAME threshold dict: per-reason doc counts and mean word count."""
    th = {**GOPHER_THRESHOLDS, **overrides}
    return f"""
WITH t AS (
    SELECT text, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
    FROM {table}
), m AS (
    SELECT
        CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_words,
        CASE WHEN len(trim(text)) = 0 OR len(toks) = 0 THEN 0.0
             ELSE ROUND(CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                        / len(toks), 4) END AS mean_word_len,
        COALESCE(list_max(list_transform(toks, x -> len(x))), 0) AS max_word_len,
        CASE WHEN len(toks) <= 0 THEN 0.0
             ELSE ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
        END AS dup_frac
    FROM t
), r AS (
    SELECT n_words,
        CASE
            WHEN n_words < {th["min_words"]} THEN 'too_few_words'
            WHEN n_words > {th["max_words"]} THEN 'too_many_words'
            WHEN mean_word_len < {th["min_mean_word_len"]}
              OR mean_word_len > {th["max_mean_word_len"]} THEN 'word_length'
            WHEN max_word_len > {th["max_token_len"]} THEN 'giant_token'
            WHEN dup_frac > {th["max_dup_frac"]} THEN 'repetitive'
        END AS reason
    FROM m
)
SELECT COALESCE(reason, 'kept') AS reason,
       COUNT(*) AS n_docs,
       ROUND(AVG(n_words), 4) AS avg_words
FROM r GROUP BY reason ORDER BY reason
"""


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf.

    Plan shape (scale-minded): tokenize+explode → groupBy(doc,term) for tf
    [shuffle 1] → document frequency aggregated FROM the tf table, not the
    raw corpus [shuffle 2, vocabulary-sized] → join tf⋈df on term (small
    side broadcastable) → per-doc top-k window [shuffle 3].  The corpus
    text is read once; N(docs) comes from a scalar aggregate cross-join,
    not a driver-side count, so the whole thing is one submitted plan.

    idf = ln(N/df); ties broken by term for determinism.
    """
    from pyspark.sql import Window

    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    exploded = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = exploded.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "rnk", "term", "tfidf")
    )


# Tiny deterministic valence lexicon (SURVEY §7.2 M6 "sentiment-lexicon").
# Like STOPWORDS: the point is the distributed scoring plumbing, not
# lexicography — swap in AFINN/VADER terms in production.
SENTIMENT_LEXICON = {
    "good": 1, "great": 2, "excellent": 3, "love": 2, "best": 2,
    "fast": 1, "happy": 2, "win": 1, "nice": 1, "clean": 1,
    "bad": -1, "terrible": -3, "awful": -2, "hate": -2, "worst": -2,
    "slow": -1, "sad": -2, "fail": -1, "dirty": -1, "broken": -2,
}


def sentiment_score(text_col: Column) -> Column:
    """Mean lexicon valence over tokens (0.0 when nothing matches).

    Pure built-in functions: the lexicon becomes a literal map column and
    each token is a map lookup inside one aggregate() pass — JVM-side,
    no UDF, no join, so it pipelines into the scan at any scale.
    """
    kv = []
    for w, v in SENTIMENT_LEXICON.items():
        kv += [F.lit(w), F.lit(v)]
    lex = F.create_map(*kv)
    toks = tokens(text_col)
    total = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.coalesce(lex[t], F.lit(0))
    )
    hits = F.size(F.filter(toks, lambda t: lex[t].isNotNull()))
    return F.when(hits == 0, F.lit(0.0)).otherwise(
        F.round(total.cast("double") / hits, 4)
    )


def ngram_counts(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    top_k: int | None = None,
) -> DataFrame:
    """Corpus-level n-gram frequency table (vocabulary building / contamination
    scans).  Tokens come from the same `[a-z0-9]+` extraction as tf-idf.

    The token array is materialized as a projected column BEFORE the
    sliding-window transform: Spark HOFs are interpreted (CodegenFallback)
    and re-evaluate referenced expressions per element, so inlining the
    regexp extraction into the lambda would re-run it once per n-gram.
    Plan: narrow project+explode, one groupBy shuffle; top-k via
    TakeOrderedAndProject (no global sort materialization).
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0))
    grams = (
        df.select(toks.alias("_toks"))
        .filter(F.size("_toks") >= n)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, n)),
                )
            ).alias("ngram")
        )
    )
    out = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("n"))
    if top_k:
        out = out.orderBy(F.desc("n"), F.asc("ngram")).limit(top_k)
    return out


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass profile: all metrics as extra columns (single projection —
    Catalyst computes shared subtrees once per row batch)."""
    t = F.col(text_col)
    return df.select(
        "*",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_pieces"),
        F.round(punct_ratio(t), 4).alias("punct_ratio"),
        F.round(stopword_ratio(t), 4).alias("stopword_ratio"),
        lang_id(t).alias("lang_pred"),
        quality_score(t).alias("quality"),
        doc_fingerprint(t).alias("fingerprint"),
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    plan: str = "auto",
    onepass_cutoff_bytes: int = 4 << 20,
) -> DataFrame:
    """Perplexity-style quality signal: mean log2 probability of each
    document's tokens under the corpus's own unigram LM — the classic
    "drop gibberish / boilerplate outliers" filter of training pipelines.

    Returns (id, n_tokens, avg_logprob); lower = more surprising.

    Scale (round-11 re-plan): two regimes, switched on the optimizer's
    input-size estimate (no extra action):

    * ``plan="probe"`` (auto below `onepass_cutoff_bytes`): tokenize into
      occurrences, aggregate the vocabulary, join it back.  At CLI scale
      the vocab aggregate comes in under the broadcast threshold, so the
      occurrence table is NEVER shuffled — measured faster than the
      one-pass plan at sf0.1 (interleaved 9-run medians: 434 vs 539 ms)
      because a small corpus re-tokenizes cheaply while the window plan
      shuffles+sorts every occurrence.  The cutoff is the measured
      crossover band, not a guess: probe wins by 24% at a 0.6 MiB
      estimate, loses by ~5% from 5 MiB up (10x and 100x replicated
      corpora, interleaved medians), so the default sits at their
      geometric midpoint — onepass is never worse above it, and its
      advantage only grows once the vocabulary outgrows broadcast.
    * ``plan="onepass"`` (auto above the cutoff): tokenize ONCE; per-token
      counts from a count window over the token key (one exchange + the
      same per-partition sort an SMJ probe would pay), the per-document
      aggregate directly above it, and the corpus total N derived from
      the doc aggregate itself via log2(c/N) = log2(c) - log2(N), served
      through a lazy localCheckpoint so the total's branch reads the
      saved doc aggregate instead of re-deriving the corpus subtree
      (AQE ReuseExchange does NOT cover it: column pruning makes the two
      aggregate exchanges non-identical).  At web scale the probe plan
      degrades to: TWO full
      corpus tokenizations (the vocab branch re-derives the tokenize
      subtree — Catalyst has no CSE below exchange boundaries) plus an
      SMJ that shuffles+sorts occurrences AND vocab once the vocab
      exceeds broadcast; the one-pass plan does one tokenize and one
      occurrence shuffle, full stop.  Head-token skew lands on the same
      token-key exchange either way — AQE's job in both.

    Both paths are value-verified against the same DuckDB oracle (exact
    at sf0.001/0.01/0.1) and pinned equal to each other in pytest.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    )
    if plan == "auto":
        # Optimizer size estimate via the classic-API _jdf handle.  Two
        # regimes deliberately resolve to the scale-safe one-pass plan:
        # unknown statistics (non-file-backed inputs estimate at the
        # Long.MaxValue sentinel) and sessions without _jdf at all
        # (Spark Connect raises AttributeError).  Only a known-small
        # file-backed estimate picks the probe plan.
        _UNKNOWN = (1 << 63) - 1  # java.lang.Long.MAX_VALUE sentinel
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            est = _UNKNOWN
        plan = ("probe" if est < _UNKNOWN and est <= onepass_cutoff_bytes
                else "onepass")
    if plan == "probe":
        cnt = tok.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
        total = cnt.agg(F.sum("_c").alias("_n"))
        return (
            tok.join(cnt, "_t")
            .crossJoin(F.broadcast(total))
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.round(
                    F.avg(F.log2(F.col("_c") / F.col("_n"))), 4
                ).alias("avg_logprob"),
            )
        )
    wc = tok.withColumn(
        "_c", F.count(F.lit(1)).over(Window.partitionBy("_t"))
    )
    # lazy checkpoint: the per-document aggregate feeds both the output
    # and the corpus total N; without the barrier each consumer re-derives
    # the scan+tokenize+window subtree (column pruning makes the two
    # aggregate exchanges non-identical, so AQE ReuseExchange does NOT
    # fire — verified on the executed plan: 4 corpus scans without the
    # barrier, 1 with it)
    doc = wc.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg(F.log2("_c")).alias("_a"),
    ).transform(barrier, eager=False)
    total = doc.agg(F.sum("n_tokens").alias("_n"))
    return doc.crossJoin(F.broadcast(total)).select(
        id_col,
        "n_tokens",
        F.round(F.col("_a") - F.log2("_n"), 4).alias("avg_logprob"),
    )


def bigram_logprob(
    score_df: DataFrame,
    model_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
    plan: str = "onepass",
) -> DataFrame:
    """Bigram language-model surprise with stupid backoff (Brants et al.
    2007): score each document in ``score_df`` under bigram statistics
    counted from ``model_df`` (held-out reference corpus — scoring a
    corpus against itself never exercises backoff).

    Per bigram position: p = count(w1,w2)/count(w1) when the model saw
    the bigram, else alpha * count(w2)/N (alpha/N when w2 is itself
    unseen).  Returns (id, n_bigrams, avg_logprob, backoff_frac); docs
    with fewer than 2 tokens produce no bigrams and drop out, mirroring
    the oracle.

    Scale shape (round-11 re-plan): ``plan="onepass"`` (default)
    tokenizes the model corpus ONCE into (w1, next-token-or-null) pairs
    — each occurrence of ``w`` emits exactly one pair with ``w`` as w1
    (the last token of a doc pairs with null) — so ONE (w1, w2)
    aggregate yields the bigram table (rows with non-null w2) AND,
    summed over w1, the EXACT unigram counts; N is the sum of those.
    The pair aggregate is lazily checkpointed (distinct-bigram-sized,
    orders of magnitude below the occurrence stream) and the derived
    unigram table again (vocab-sized) so its three consumers (w1 probe,
    w2 probe, total) read saved partitions instead of re-deriving the
    corpus subtree (AQE ReuseExchange does NOT cover them: the
    groupings differ, the exchanges are non-identical).

    ``plan="probe"`` keeps the pre-round-11 shape — independent bigram
    and unigram aggregates of the model corpus — as the value-equality
    witness (pinned equal in pytest).  Catalyst has no CSE below
    exchange boundaries, so that plan scans+tokenizes the model corpus
    FOUR times (bigram counts; unigram counts for the w1 probe; again
    for the w2 probe; again for the total) — verified on the executed
    plan (5 parquet scans, zero ReusedExchange).  Unlike
    `unigram_logprob`'s regime switch, onepass is measured faster at
    EVERY test scale (sf0.001/0.01/0.1 interleaved 9-run medians:
    300/344/647 ms probe vs 205/225/292 ms onepass), so there is no
    size cutoff: the default is unconditional.

    The model aggregates are corpus-sized in the worst case, so both
    probes are planned as shuffle joins on purpose (a web-scale bigram
    table exceeds broadcast; head-token skew is AQE's job); one final
    map-side-combined doc-id aggregation.  Zero UDFs — log/backoff
    arithmetic is all codegen'd.  Both paths are value-verified against
    the same DuckDB oracle and pinned equal to each other in pytest.
    """
    def bigrams(df):
        toks = tokens(F.col(text_col))
        pairs = F.arrays_zip(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        )
        return df.select(
            F.col(id_col), F.explode(pairs).alias("_p")
        ).select(
            F.col(id_col), F.col("_p")["0"].alias("_w1"), F.col("_p")["1"].alias("_w2")
        )

    if plan == "onepass":
        toks = tokens(F.col(text_col))
        # (w, next-or-null) per occurrence: zip the token array against
        # itself shifted by one, padded with one null — size(pairs) ==
        # size(toks), so unigram counts fall out of the SAME aggregate
        pairs = F.arrays_zip(
            toks.alias("_w1"),
            F.concat(
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.array(F.lit(None).cast("string")),
            ).alias("_w2"),
        )
        mbn = (
            model_df.select(F.explode(pairs).alias("_p"))
            .select(F.col("_p")["_w1"].alias("_w1"),
                    F.col("_p")["_w2"].alias("_w2"))
            .filter(F.col("_w1").isNotNull())
            .groupBy("_w1", "_w2").agg(F.count(F.lit(1)).alias("_cb"))
            .transform(barrier, eager=False)
        )
        mb = mbn.filter(F.col("_w2").isNotNull())
        mu = (
            mbn.groupBy("_w1").agg(F.sum("_cb").alias("_cu"))
            .withColumnRenamed("_w1", "_w")
            .transform(barrier, eager=False)
        )
    else:
        mb = bigrams(model_df).groupBy("_w1", "_w2").agg(
            F.count(F.lit(1)).alias("_cb"))
        mu = (
            model_df.select(F.explode(tokens(F.col(text_col))).alias("_w"))
            .groupBy("_w").agg(F.count(F.lit(1)).alias("_cu"))
        )
    total = mu.agg(F.sum("_cu").alias("_n"))

    sb = bigrams(score_df)
    joined = (
        sb.join(mb, ["_w1", "_w2"], "left")
        .join(mu.withColumnRenamed("_w", "_w1").withColumnRenamed("_cu", "_cu1"),
              "_w1", "left")
        .join(mu.withColumnRenamed("_w", "_w2").withColumnRenamed("_cu", "_cu2"),
              "_w2", "left")
        .crossJoin(F.broadcast(total))
    )
    p = (
        F.when(F.col("_cb").isNotNull(), F.col("_cb") / F.col("_cu1"))
        .when(F.col("_cu2").isNotNull(), alpha * F.col("_cu2") / F.col("_n"))
        .otherwise(alpha / F.col("_n"))
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log2(p)), 4).alias("avg_logprob"),
            F.round(F.avg(F.col("_cb").isNull().cast("double")), 4).alias("backoff_frac"),
        )
    )


def bigram_logprob_oracle_sql(
    score_where: str, model_where: str, alpha: float = 0.4
) -> str:
    """DuckDB twin of `bigram_logprob`, generated with the same alpha;
    ``score_where``/``model_where`` split `documents` into the scored and
    reference partitions."""
    return f"""
WITH mt AS (
    SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w
    FROM documents WHERE {model_where}
), mb AS (
    SELECT w[i] AS w1, w[i+1] AS w2, COUNT(*) AS cb
    FROM mt, unnest(range(1, len(w))) AS r(i)
    GROUP BY 1, 2
), mu AS (
    SELECT t AS w, COUNT(*) AS cu
    FROM (SELECT unnest(w) AS t FROM mt) GROUP BY 1
), tot AS (SELECT SUM(cu) AS n FROM mu),
st AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
    FROM documents WHERE {score_where}
), sb AS (
    SELECT doc_id, w[i] AS w1, w[i+1] AS w2
    FROM st, unnest(range(1, len(w))) AS r(i)
), j AS (
    SELECT sb.doc_id,
           CASE WHEN mb.cb IS NOT NULL THEN CAST(mb.cb AS DOUBLE) / u1.cu
                WHEN u2.cu IS NOT NULL THEN {alpha} * u2.cu / tot.n
                ELSE {alpha} / tot.n END AS p,
           CASE WHEN mb.cb IS NULL THEN 1.0 ELSE 0.0 END AS backoff
    FROM sb
    LEFT JOIN mb ON mb.w1 = sb.w1 AND mb.w2 = sb.w2
    LEFT JOIN mu u1 ON u1.w = sb.w1
    LEFT JOIN mu u2 ON u2.w = sb.w2
    CROSS JOIN tot
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(AVG(log2(p)), 4) AS avg_logprob,
       ROUND(AVG(backoff), 4) AS backoff_frac
FROM j GROUP BY doc_id
"""


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_col: str = "word",
) -> DataFrame:
    """Tokenizer-fit signal: per-document out-of-vocabulary rate against
    a vocabulary table — the standard check before committing a tokenizer
    to a corpus (high OOV = the vocab was trained on the wrong
    distribution; rising OOV over ingest time = drift).

    Returns (id, n_tokens, n_oov, oov_rate).  Scale shape mirrors
    `unigram_logprob`: the vocab may itself be corpus-derived (100k-1M
    rows), so the membership probe is a shuffle join on the token (AQE
    splits head-token skew), followed by one map-side-combined doc-id
    aggregation.  Zero UDFs."""
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t"))
    v = vocab.select(F.col(vocab_col).alias("_t")).distinct()         .withColumn("_in", F.lit(1))
    return (
        tok.join(v, "_t", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("long").alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov") / F.col("n_tokens"), 4),
        )
    )


def vocab_jaccard_matrix(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus partitions (sources,
    languages, snapshots): how much word-level overlap two slices share
    — the quick corpus-comparison matrix behind "is this new crawl
    actually new?".

    Returns (a, b, n_common, n_union, jaccard) for a < b.  One distinct
    (slice, token) aggregate; the intersection is a token-keyed
    self-join of slice vocabularies (AQE splits head tokens), sizes ride
    in from a tiny per-slice count join."""
    vocab = (
        df.select(F.col(by).alias("_g"),
                  F.explode(tokens(F.col(text_col))).alias("_t"))
        .distinct()
    )
    sizes = vocab.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
    inter = (
        vocab.alias("l")
        .join(vocab.alias("r"), "_t")
        .filter(F.col("l._g") < F.col("r._g"))
        .groupBy(F.col("l._g").alias("a"), F.col("r._g").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter
        .join(F.broadcast(sizes.withColumnRenamed("_g", "a")
                          .withColumnRenamed("_n", "_na")), "a")
        .join(F.broadcast(sizes.withColumnRenamed("_g", "b")
                          .withColumnRenamed("_n", "_nb")), "b")
        .select(
            "a", "b", "n_common",
            (F.col("_na") + F.col("_nb") - F.col("n_common"))
            .alias("n_union"),
            F.round(
                F.col("n_common")
                / (F.col("_na") + F.col("_nb") - F.col("n_common")), 4,
            ).alias("jaccard"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 30,
) -> DataFrame:
    """Top collocations by pointwise mutual information:
    pmi = log2( p(ab) / (p(a) p(b)) ) over corpus bigram/unigram counts —
    the classic phrase-mining signal for tokenizer/vocab construction.

    Returns (ngram, n, pmi) for bigrams seen >= min_count times.

    Scale: three token-key shuffles (bigram count, unigram count, the two
    probe joins share the unigram agg); totals are scalar aggregates
    broadcast by Catalyst; top-k is TakeOrderedAndProject.  Head-token
    skew in the probe joins is AQE's job, as in unigram_logprob.
    """
    from prql_query_spark.operators.text import ngram_counts  # self-import for clarity

    bi = ngram_counts(df, text_col, n=2).filter(F.col("n") >= min_count)
    uni = ngram_counts(df, text_col, n=1).select(
        F.col("ngram").alias("w"), F.col("n").alias("cw")
    )
    n_bi = bi.agg(F.sum("n").alias("_nb"))
    n_uni = uni.agg(F.sum("cw").alias("_nu"))
    parts = bi.select(
        "ngram", "n",
        F.split_part(F.col("ngram"), F.lit(" "), F.lit(1)).alias("_a"),
        F.split_part(F.col("ngram"), F.lit(" "), F.lit(2)).alias("_b"),
    )
    joined = (
        parts.join(uni.withColumnRenamed("w", "_a").withColumnRenamed("cw", "_ca"), "_a")
        .join(uni.withColumnRenamed("w", "_b").withColumnRenamed("cw", "_cb"), "_b")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
    )
    pmi = F.log2(
        (F.col("n") / F.col("_nb"))
        / ((F.col("_ca") / F.col("_nu")) * (F.col("_cb") / F.col("_nu")))
    )
    return (
        joined.select("ngram", "n", F.round(pmi, 4).alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("ngram"))
        .limit(top_k)
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping fixed-token chunks (context-window
    preparation for LLM training/embedding).  Returns (id, chunk_idx,
    chunk_text, n_chunk_tokens).

    The token array is materialized once per row, chunks come from
    JVM-side slice/posexplode — narrow plan, no shuffle at all: chunking
    pipelines into the scan and whatever follows.  stride < chunk_tokens
    gives overlap; the last partial chunk is kept (training pads it).
    Blank/whitespace-only docs produce no chunks (same 0-for-empty
    convention as token_count — split('') would otherwise yield ['']).
    """
    df = df.filter(F.length(F.trim(F.col(text_col))) > 0)
    toks = F.split(F.trim(F.lower(F.col(text_col))), ASCII_WS)
    n_chunks = F.greatest(
        F.ceil((F.size("_toks") - F.lit(chunk_tokens))
               / F.lit(stride)) + 1,
        F.lit(1),
    ).cast("int")
    return (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.slice(F.col("_toks"), i * stride + 1, chunk_tokens),
                )
            ).alias("chunk_idx", "_chunk"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.concat_ws(" ", F.col("_chunk")).alias("chunk_text"),
            F.size("_chunk").alias("n_chunk_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 512,
    shard_col: str | None = None,
    shard_rows: int = 65536,
) -> DataFrame:
    """Assign documents to fixed-capacity training bins by running token
    count (deterministic first-fit-in-order sequence packing): within a
    shard, bin k holds the docs whose cumulative token count lands in
    (k*capacity, (k+1)*capacity].  A doc longer than capacity spills across
    bin boundaries: it lands in the ceil-bucket of its own cumulative end,
    and a following doc may share that bin (first-fit-by-cumulative-count
    does NOT isolate oversized docs — chunk first if strict caps matter).

    Packing is SHARDED, never global: a single cumulative-sum window over
    the whole corpus would serialize 100 TB through one task (the round-3
    scale flag).  When `shard_col` is None, a deterministic shard is
    derived as floor(id / shard_rows) — numeric ids pack in contiguous
    blocks of `shard_rows` docs, each shard's window runs in parallel.
    NULL ids collapse to a sentinel shard (-1) instead of silently
    vanishing in the offsets join; a non-numeric id_col raises at build
    time (pass shard_col= to shard string ids).
    Bins stay globally unique and dense: shard s's bins are offset by the
    total bin count of all prior shards, computed from a tiny per-shard
    aggregate (one row per shard) that is broadcast back — no second
    shuffle of the corpus.  A zero-token doc at the head of a shard clamps
    to local bin 1 (never bin 0, which would alias the last bin of the
    previous shard); nbins is clamped identically so offsets stay dense.

    Returns (id, n_tokens, bin).  Plan: one hash-partitioned window shuffle
    of the corpus + one broadcast join; the only single-task step is the
    prefix sum over #shards rows.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import NumericType

    n = token_count(F.col(text_col)).cast("long")
    if shard_col is None:
        dtype = df.schema[id_col].dataType
        if not isinstance(dtype, NumericType):
            raise ValueError(
                f"pack_sequences: id_col {id_col!r} has type "
                f"{dtype.simpleString()}; the derived floor(id/shard_rows) "
                "shard needs a numeric id — pass shard_col= explicitly"
            )
        shard = (
            F.coalesce(F.floor(F.col(id_col) / F.lit(shard_rows)), F.lit(-1))
            .cast("long")
            .alias("_shard")
        )
    else:
        shard = F.col(shard_col).alias("_shard")
    base = df.select(F.col(id_col), n.alias("n_tokens"), shard)
    w = (
        Window.partitionBy("_shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = base.withColumn("_cum", F.sum("n_tokens").over(w))
    local_bin = F.greatest(
        F.ceil(F.col("_cum") / F.lit(capacity)), F.lit(1)
    ).cast("long")
    # per-shard bin counts -> exclusive prefix offsets.  One row per shard;
    # the ordering window here runs over #shards rows, not the corpus.
    # greatest(...,1) mirrors the local_bin clamp: an all-zero-token shard
    # still occupies one bin, keeping the global numbering dense.
    offsets = (
        base.groupBy("_shard")
        .agg(F.greatest(
            F.ceil(F.sum("n_tokens") / F.lit(capacity)), F.lit(1)
        ).cast("long").alias("_nbins"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_nbins").over(
                    Window.orderBy("_shard")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
        .select("_shard", "_off")
    )
    out = with_cum.join(F.broadcast(offsets), "_shard")
    keep = [F.col("_shard").alias(shard_col)] if shard_col else []
    return out.select(
        *keep,
        F.col(id_col),
        F.col("n_tokens"),
        (local_bin + F.col("_off")).alias("bin"),
    )


# accent fold table shared verbatim with the DuckDB oracle (translate is
# 1:1 codepoint mapping in both engines)
ACCENT_SRC = "áàâäãåéèêëíìîïóòôöõúùûüýÿçñ"
ACCENT_DST = "aaaaaaeeeeiiiiooooouuuuyycn"
# translate() maps positionally: any length drift silently mis-folds every
# char after the drift point (round-1 bug: a 6-char 'o' run shifted ú→o,
# ý→u, ç→y, ñ→c).
assert len(ACCENT_SRC) == len(ACCENT_DST), (len(ACCENT_SRC), len(ACCENT_DST))


def normalize_text(text_col: Column) -> Column:
    """Corpus canonicalization: lowercase, fold common Latin accents
    (shared 1:1 table), collapse whitespace runs, trim.  All JVM string
    builtins — narrow, codegen'd, shuffle-free."""
    t = F.lower(text_col)
    t = F.translate(t, ACCENT_SRC, ACCENT_DST)
    return F.trim(F.regexp_replace(t, ASCII_WS, " "))


def token_length_summary(
    df: DataFrame, text_col: str = "text", by: str | None = None
) -> DataFrame:
    """Training-mix length distribution: token-count percentiles
    (p10/p50/p90/p99), mean, and total per group (or one global row) —
    the numbers a pretraining data card reports and a packing planner
    needs.  One narrow projection + one aggregate; exact percentiles here,
    swap percentile -> approx_percentile at 100 TB (same contract).
    """
    n = token_count(F.col(text_col)).cast("long")
    # decimal-exact round (same convention as the compiler's `round`) so
    # both engines HALF_UP the interpolated percentile at the same digit
    pct = lambda f: F.expr(  # noqa: E731
        f"CAST(ROUND(CAST(percentile(_n, {f}) AS DECIMAL(38,12)), 4) AS DOUBLE)"
    )
    keys = [by] if by else []
    sel = ([F.col(by)] if by else []) + [n.alias("_n")]
    out = (
        df.select(*sel)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("total_tokens"),
            pct(0.10).alias("p10"),
            pct(0.50).alias("p50"),
            pct(0.90).alias("p90"),
            pct(0.99).alias("p99"),
            (F.round(F.sum("_n") * F.lit(10000.0) / F.count(F.lit(1))) / 10000)
            .alias("mean_tokens"),
        )
    )
    return out


def token_windows(text_col: Column, width: int = 10) -> Column:
    """Non-overlapping fixed-width token segments — a deterministic
    paragraph proxy for corpora without line structure (the synthetic
    documents table is newline-free word soup).  Pure array HOFs, narrow."""
    toks = tokens(text_col)
    nseg = F.greatest(F.ceil(F.size(toks) / F.lit(width)), F.lit(1)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(F.slice(toks, i * width + 1, width), " "),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    paras: Column | None = None,
    sep: str = "\n",
    max_doc_freq: int = 1,
    join_sep: str | None = None,
) -> DataFrame:
    """CCNet/C4-style cross-corpus paragraph dedup: drop every paragraph
    whose exact content occurs in more than `max_doc_freq` distinct
    documents (navbars, license footers, cookie banners), keep the rest
    in original order.  `paras` overrides the default newline split —
    pass `token_windows(...)` for corpora without line structure, with
    `join_sep` (default: `sep` when splitting on it, else a space) naming
    the reassembly separator.

    Returns (id, text, n_paras, n_kept); documents whose every paragraph
    is boilerplate survive with text='' so the corpus row set is stable.

    Scale shape: paragraphs are exploded once (narrow); the doc-frequency
    aggregate keyed on xxhash64(para) is one shuffle; the offending set
    (doc_freq > max_doc_freq) is the boilerplate tail — orders of
    magnitude smaller than the corpus — so removal is a BROADCAST anti
    join and the paragraph table is never shuffled for it; reassembly and
    the per-doc totals group on the id, one more shuffle that AQE
    co-plans.  No driver collect, no per-row Python.
    """
    if join_sep is None:
        join_sep = sep if paras is None else " "
    paras = paras if paras is not None else F.split(F.col(text_col), sep)
    pl = (
        df.select(F.col(id_col), F.posexplode(paras).alias("para_pos", "para"))
        .withColumn("para_h", F.xxhash64("para"))
    )
    common = (
        pl.groupBy("para_h")
        .agg(F.count_distinct(F.col(id_col)).alias("doc_freq"))
        .where(F.col("doc_freq") > max_doc_freq)
        .select("para_h")
    )
    # per-doc totals come from size(paras) on the BASE rows — narrow, no
    # second explode+shuffle of the paragraph table
    totals = df.select(F.col(id_col), F.size(paras).cast("long").alias("n_paras"))
    kept = (
        pl.join(F.broadcast(common), "para_h", "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("para_pos", "para"))),
                    lambda s: s["para"],
                ),
                join_sep,
            ).alias("text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    return (
        totals.join(kept, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "n_paras",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


def char_entropy(text_col: Column) -> Column:
    """Shannon entropy (bits) of the character distribution — the cheap
    gibberish/binary-spill detector (natural text ~4 bits, base64 blobs
    ~6, single-char spam ~0).

    Formula is arranged over INTEGER counts — H = log2(n) - (1/n)·Σ
    cnt·log2(cnt) — with a deterministic summation order (sorted distinct
    chars), then decimal-exact HALF_UP rounding to 6 digits, the repo's
    cross-engine float convention.  Distinct-chars × doc-length HOF work,
    all JVM-side, narrow, shuffle-free."""
    chars = F.split(text_col, "")
    n = F.size(chars)
    uniq = F.array_sort(F.array_distinct(chars))
    # count each distinct char ONCE (one array scan per char), then fold
    # cnt*log2(cnt) over the counts — same sorted summation order
    cnts = F.transform(uniq, lambda c: F.size(F.filter(chars, lambda x: x == c)))
    s = F.aggregate(
        cnts,
        F.lit(0.0),
        lambda acc, c: acc + c * F.log2(c),
    )
    h = F.log2(n) - s / n
    h6 = F.round(h.cast("decimal(38,12)"), 6).cast("double")
    return F.when(n <= 0, F.lit(0.0)).otherwise(h6)


def dup_ngram_fraction(text_col: Column, n: int = 2) -> Column:
    """Fraction of duplicated token n-grams — the rest of the
    Gopher/MassiveText repetition family (dup_token_fraction is the n=1
    case; the published gates use n=2..4 over duplicates and n=5..10 over
    characters-in-duplicates).  1 - distinct/total over the materialized
    n-gram array; one projection, no explode, no shuffle.  Docs with fewer
    than n tokens score 0.0 (nothing can repeat)."""
    toks = tokens(text_col)
    m = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    # decimal-exact HALF_UP round (repo float convention): a ratio of small
    # ints can land exactly on a 4th-decimal half boundary, where plain
    # double ROUND diverges between engines
    frac = (1.0 - F.size(F.array_distinct(grams)) / m).cast("decimal(38,12)")
    return F.when(m <= 0, F.lit(0.0)).otherwise(
        F.round(frac, 4).cast("double")
    )


def top_ngram_char_fraction(text_col: Column, n: int = 2) -> Column:
    """Fraction of CHARACTERS covered by the single most frequent token
    n-gram — the other half of the Gopher repetition family
    (dup_ngram_fraction counts duplicated grams; the published gates also
    cut on top-2/3/4-gram character coverage).  coverage = occurrences x
    len(gram) / len(text-without-spaces).

    One projection: grams materialized once, counted with an O(m^2)
    nested HOF scan (m = token count, the per-row cost a doc-length gate
    bounds anyway), ties broken toward the lexicographically smallest
    gram.  Decimal-exact round per the repo float convention."""
    toks = tokens(text_col)
    m = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    uniq = F.array_sort(F.array_distinct(grams))
    counted = F.transform(
        uniq,
        lambda g: F.struct(
            F.size(F.filter(grams, lambda x: x == g)).alias("cnt"),
            F.length(F.replace(g, F.lit(" "), F.lit(""))).alias("chars"),
            g.alias("gram"),
        ),
    )
    # max by (cnt, -lex)?  array_max on struct = lexicographic max by
    # (cnt, chars, gram); to break count-ties toward the SMALLEST gram
    # deterministically in both engines, compare (cnt, gram) via a
    # reduce that prefers strictly-greater cnt, else smaller gram
    best = F.aggregate(
        counted,
        F.struct(F.lit(0).alias("cnt"), F.lit(0).alias("chars"),
                 F.lit("").alias("gram")),
        lambda acc, s: F.when(
            (s["cnt"] > acc["cnt"])
            | ((s["cnt"] == acc["cnt"]) & (s["gram"] < acc["gram"])
               & (acc["cnt"] > 0)),
            s,
        ).otherwise(acc),
    )
    total_chars = F.length(F.regexp_replace(F.trim(F.lower(text_col)), ASCII_WS, ""))
    frac = (best["cnt"] * best["chars"] / total_chars).cast("decimal(38,12)")
    return F.when((m <= 0) | (total_chars <= 0), F.lit(0.0)).otherwise(
        F.round(frac, 4).cast("double")
    )
