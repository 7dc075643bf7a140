"""Text-analysis operators for training-data pipelines (north-star
extension, SURVEY.md §7.2 step 8).

All hot-path expressions are built-in Column functions (split / filter /
transform / regexp) — JVM-side, whole-stage-codegen, no Python UDFs — so
they scale linearly over a 100 TB documents table: every operator is a
narrow per-row projection or a single partial-aggregated groupBy.

Operators: token counting, quality scoring (length/punct/stopword
ratios), n-gram-free language ID (stopword-marker voting), document
fingerprinting (normalized-text hash + min-shingle hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.sources import load_table

# deterministic marker lists per language: voting vocabulary for the
# heuristic language-ID (argmax of marker hits, ties by language code)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "de", "et", "que"],
    "zh": ["de", "shi", "le", "zai", "he"],
}

STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it"]

# quality-gate thresholds — shared with llm.curation so the curation
# 'quality' verdict always agrees with token_stats.quality_pass
MIN_CHARS = 100
MIN_TOKENS = 20
MIN_STOP_RATIO = 0.02

_WORDS = "string_split_regex(trim(text), '\\s+')"


def _words_col():
    return F.split(F.trim("text"), r"\s+")


def stop_ratio_col(words):
    """stopword hits / tokens, as a Column over a words array."""
    return F.size(F.filter(words, lambda w: w.isin(STOPWORDS))) \
        / F.size(words)


# BPE-ish pre-tokenizer regex (GPT-2 style): contractions, letter runs,
# digit runs, punctuation runs, whitespace — \p{L}/\p{N} classes are
# supported identically by Java regex (Spark) and RE2 (DuckDB).
BPE_PATTERN = (r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+"
               r"| ?[^\s\p{L}\p{N}]+|\s+")


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] token counting (whitespace + BPE-ish regex pre-tokenizer) and
    quality scoring (length / punct / stopword ratios + a composite
    0..1 score) per document — one narrow codegen projection."""
    # stage the token array once; the three downstream uses (count,
    # stopword filter, ratio denominator) then reference the attribute
    # instead of re-splitting the text per expression
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "text", _words_col().alias("ws"))
    words = F.col("ws")
    n_tokens = F.size(words)
    # count matches without materializing the token array (the oracle
    # uses len(regexp_extract_all(...)) — same count, run once)
    n_bpe = F.regexp_count("text", F.lit(BPE_PATTERN))
    stop_ratio = stop_ratio_col(words)
    punct_ratio = (F.length(F.regexp_replace("text", "[^.!?,;:]", ""))
                   / F.col("n_chars"))
    score = (F.least(F.lit(1.0), F.col("n_chars") / 500.0) * 0.4
             + F.least(F.lit(1.0), stop_ratio / 0.04) * 0.3
             + (1.0 - F.least(F.lit(1.0), punct_ratio * 10.0)) * 0.3)
    return d.select(
        "doc_id", "lang", "n_chars",
        n_tokens.cast("long").alias("n_tokens"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        F.round(F.col("n_chars") / n_tokens, 6).alias("avg_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
        ((F.col("n_chars") >= MIN_CHARS) & (n_tokens >= MIN_TOKENS)
         & (stop_ratio >= MIN_STOP_RATIO)).alias("quality_pass"))


_STOPLIST = ", ".join(repr(w) for w in STOPWORDS)
_BPE_SQL = BPE_PATTERN.replace("'", "''")

TOKEN_STATS_ORACLE = f"""
SELECT doc_id, lang, n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       round(n_chars / CAST(n_tokens AS DOUBLE), 6) AS avg_token_len,
       round(punct_ratio, 6) AS punct_ratio,
       round(stop_ratio, 6) AS stopword_ratio,
       round(least(1.0, n_chars / 500.0) * 0.4
             + least(1.0, stop_ratio / 0.04) * 0.3
             + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.3, 6)
         AS quality_score,
       (n_chars >= {MIN_CHARS} AND n_tokens >= {MIN_TOKENS}
        AND stop_ratio >= {MIN_STOP_RATIO}) AS quality_pass
FROM (
  SELECT doc_id, lang, n_chars,
         len({_WORDS}) AS n_tokens,
         len(regexp_extract_all(text, '{_BPE_SQL}')) AS n_bpe_tokens,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
           / CAST(n_chars AS DOUBLE) AS punct_ratio,
         len(list_filter({_WORDS}, w -> w IN ({_STOPLIST})))
           / CAST(len({_WORDS}) AS DOUBLE) AS stop_ratio
  FROM documents
)
"""


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] heuristic language ID: per-language marker-hit votes, argmax
    with deterministic (hits DESC, lang ASC) tie-break."""
    # staged tokenization: each language's marker filter references the
    # materialized attribute, not a re-split of the text per language
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _words_col().alias("ws"))
    words = F.col("ws")

    def _marker_filter(ms):
        # single-parameter closure: a default-arg lambda would be read
        # by Spark as a two-arg (element, index) higher-order function
        return lambda w: w.isin(ms)

    votes = F.array(*[
        F.struct(
            (-F.size(F.filter(words, _marker_filter(ms))))
            .alias("neg_hits"),
            F.lit(lang).alias("lang"))
        for lang, ms in sorted(LANG_MARKERS.items())])
    best = F.array_min(votes)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        best["lang"].alias("predicted_lang"),
        (-best["neg_hits"]).cast("long").alias("marker_hits"))


def _lang_votes_sql() -> str:
    parts = []
    for lang, ms in sorted(LANG_MARKERS.items()):
        inlist = ", ".join(repr(w) for w in ms)
        parts.append(
            f"{{'neg_hits': -len(list_filter({_WORDS}, "
            f"w -> w IN ({inlist}))), 'lang': '{lang}'}}")
    return "[" + ", ".join(parts) + "]"


LANGUAGE_ID_ORACLE = f"""
SELECT doc_id, lang AS labeled_lang,
       list_min({_lang_votes_sql()}).lang AS predicted_lang,
       CAST(-list_min({_lang_votes_sql()}).neg_hits AS BIGINT)
         AS marker_hits
FROM documents
"""


# Gopher-style repetition gates (rounded metrics compared, so the flag
# thresholds see identical values in both engines)
MAX_TOP_WORD_FRAC = 0.15
MIN_FRAC_UNIQUE = 0.4
MAX_DUP_3GRAM_FRAC = 0.05


_BIGRAMS_SQL = (f"list_transform(range(1, greatest(len({_WORDS}), 1)), "
                f"i -> {_WORDS}[i] || ' ' || {_WORDS}[i+1])")
_TRIGRAMS_SQL = (
    f"list_transform(range(1, greatest(len({_WORDS}) - 1, 1)), "
    f"i -> {_WORDS}[i] || ' ' || {_WORDS}[i+1] || ' ' || {_WORDS}[i+2])")


# Mode counts via one tokenize pass + lead() windows for the n-gram
# streams + GROUP BY — linear. The obvious per-distinct-element
# list_filter rescan is quadratic in doc length (minutes at sf0.1), and
# building three n-gram ARRAYS per doc costs ~75x this formulation.
REPETITION_FLAGS_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
  FROM (SELECT doc_id, {_WORDS} AS ws FROM documents)
),
seq AS MATERIALIZED (
  SELECT doc_id, w, i,
         lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2,
         lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i) AS w3
  FROM tok
),
wc AS (SELECT doc_id, w, count(*) AS c FROM seq GROUP BY doc_id, w),
wst AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         count(*) AS n_uniq, max(c) AS topw
  FROM wc GROUP BY doc_id
),
bc AS (
  SELECT doc_id, w || ' ' || w2 AS b, count(*) AS c
  FROM seq WHERE w2 IS NOT NULL GROUP BY doc_id, b
),
bst AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bi, max(c) AS topb
  FROM bc GROUP BY doc_id
),
tst AS (
  SELECT doc_id, count(*) AS n_tri,
         count(DISTINCT w || ' ' || w2 || ' ' || w3) AS n_utri
  FROM seq WHERE w3 IS NOT NULL GROUP BY doc_id
)
SELECT doc_id, n_words, frac_unique, top_word_frac, top_bigram_frac,
       dup_3gram_frac,
       (frac_unique < {MIN_FRAC_UNIQUE}
        OR top_word_frac > {MAX_TOP_WORD_FRAC}
        OR dup_3gram_frac > {MAX_DUP_3GRAM_FRAC}) AS flag_repetitive
FROM (
  SELECT w.doc_id, w.n_words,
         round(w.n_uniq / CAST(w.n_words AS DOUBLE), 6) AS frac_unique,
         round(w.topw / CAST(w.n_words AS DOUBLE), 6) AS top_word_frac,
         CASE WHEN w.n_words >= 2 THEN
           round(bs.topb / CAST(bs.n_bi AS DOUBLE), 6)
         ELSE 0.0 END AS top_bigram_frac,
         CASE WHEN coalesce(t.n_tri, 0) > 0 THEN
           round(1 - t.n_utri / CAST(t.n_tri AS DOUBLE), 6)
         ELSE 0.0 END AS dup_3gram_frac
  FROM wst w
  LEFT JOIN bst bs USING (doc_id)
  LEFT JOIN tst t USING (doc_id)
)
"""


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] document fingerprinting: md5 of whitespace-normalized lowered
    text (exact-dup key) + min word-3-gram shingle hash (near-dup key,
    the k=1 MinHash)."""
    # staged tokenization: the shingle lambda's element_ats reference
    # the materialized attribute — an inline split would re-tokenize
    # the document per shingle position (O(len^2), the r2
    # repetition_flags pathology)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _words_col().alias("ws"))
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    words = F.col("ws")
    # guarded like dedup shingles: <3-word docs get an empty shingle
    # list (NULL min hash), matching the oracle's empty range — an
    # unguarded sequence(1, size-2) counts down through 0 and errors
    shingles = F.transform(
        F.when(F.size(words) >= 3,
               F.sequence(F.lit(1), F.size(words) - 2))
        .otherwise(F.array().cast("array<int>")),
        lambda i: F.concat_ws(
            " ", F.element_at(words, i), F.element_at(words, i + 1),
            F.element_at(words, i + 2)))
    min_shingle = F.array_min(F.transform(shingles, F.md5))
    return d.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("content_md5"),
        min_shingle.alias("min_shingle_hash"))


FINGERPRINTS_ORACLE = f"""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         AS content_md5,
       list_min(list_transform(
         list_transform(range(1, greatest(len({_WORDS}) - 1, 1)),
           i -> {_WORDS}[i] || ' ' || {_WORDS}[i+1] || ' '
                || {_WORDS}[i+2]),
         s -> md5(s))) AS min_shingle_hash
FROM documents
"""


def vocab_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] word-level Shannon entropy per document (type-token
    diversity — the perplexity-proxy quality signal: boilerplate and
    template spam score low, natural prose high).

    H = log2(n) - (sum_i c_i*log2(c_i)) / n over word counts c_i.
    Fully narrow: the counts come from the same sorted-run-length fold
    as the repetition mode counts (linear per doc, no shuffle), and
    the entropy terms accumulate INSIDE the fold in sorted-word order.
    The DuckDB oracle reproduces the identical sequential float
    addition via list(c ORDER BY word) + list_reduce, so both engines
    sum the same doubles in the same order — bit-equal before the
    round, no associativity flake at any scale."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _words_col().alias("ws"))
    s = F.array_sort("ws")
    n = F.size("ws")

    def _step(acc, x):
        is_run = acc["prev"].eqNullSafe(x)
        run = F.when(is_run, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        flushed = F.when(is_run | acc["prev"].isNull(), acc["s"]) \
            .otherwise(acc["s"] + acc["run"] * F.log2(acc["run"]))
        return F.struct(x.alias("prev"), run.alias("run"),
                        flushed.alias("s"))

    init = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0.0).alias("s"))
    total_s = F.aggregate(
        s, init, _step,
        lambda acc: acc["s"] + acc["run"] * F.log2(acc["run"]))
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct("ws")).cast("long").alias("n_types"),
        F.round(F.log2(n) - total_s / n, 6).alias("word_entropy"))


VOCAB_ENTROPY_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest({_WORDS}) AS word FROM documents
),
cnt AS (
  SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word
),
ord AS (
  SELECT doc_id,
         list(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))
              ORDER BY word) AS terms,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       round(log2(n_tokens)
             - list_reduce(list_prepend(0.0, terms),
                           (a, b) -> a + b) / n_tokens, 6)
         AS word_entropy
FROM ord
"""


# ---------------------------------------------------------------------------
# Gopher-style repetition flags as one Arrow ``mapInPandas`` kernel:
# per-document Counter mode counts in a single pass. A declarative plan
# would need interpreted higher-order-function folds (array_sort +
# aggregate lambda) per row, which run outside whole-stage codegen;
# the kernel is zero-Exchange (mapInPandas preserves partitioning), so
# the work stays embarrassingly parallel per row at any scale.
# Spark/DuckDB-compatible semantics: tokenization replicates
# split(trim(text), '\\s+') exactly (trim strips ' ' only; Java \\s is
# the ASCII class [ \\t\\n\\x0b\\f\\r]; limit=-1 keeps leading/trailing
# empty tokens), and rounding replicates Spark's round() HALF_UP over
# the shortest-decimal representation (Double.toString == repr(float)).
# Hash-pinned to REPETITION_FLAGS_ORACLE in tests/test_round7_ops.py.
# ---------------------------------------------------------------------------

_REP_ARROW_SCHEMA = ("doc_id bigint, n_words bigint, frac_unique double, "
                     "top_word_frac double, top_bigram_frac double, "
                     "dup_3gram_frac double, flag_repetitive boolean")


def _rep_stats_batches(batches):
    """Arrow kernel: per-document repetition stats over pandas batches."""
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    ws_rx = re.compile(r"[ \t\n\x0b\f\r]+")
    q6 = Decimal("0.000001")

    def r6(x: float) -> float:
        # Spark round(double, 6): BigDecimal.valueOf(x) (shortest
        # decimal repr) quantized HALF_UP — repr(float) is the same
        # shortest representation, so this is bit-identical.
        return float(Decimal(repr(x)).quantize(q6, ROUND_HALF_UP))

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "n_words", "frac_unique",
                               "top_word_frac", "top_bigram_frac",
                               "dup_3gram_frac", "flag_repetitive")}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                # Spark's split(trim(NULL)) and size(NULL) are NULL
                # -> every stat (and the flag) null-propagates
                out["doc_id"].append(doc_id)
                for k in ("n_words", "frac_unique", "top_word_frac",
                          "top_bigram_frac", "dup_3gram_frac",
                          "flag_repetitive"):
                    out[k].append(None)
                continue
            toks = ws_rx.split(text.strip(" "))
            n = len(toks)
            wc = Counter(toks)
            frac_unique = r6(len(wc) / n)
            top_word = r6(max(wc.values()) / n)
            if n >= 2:
                bc = Counter(zip(toks, toks[1:]))
                top_bigram = r6(max(bc.values()) / (n - 1))
            else:
                top_bigram = 0.0
            n_tri = n - 2
            if n_tri > 0:
                uniq_tri = len(set(zip(toks, toks[1:], toks[2:])))
                dup_tri = r6(1 - uniq_tri / n_tri)
            else:
                dup_tri = 0.0
            out["doc_id"].append(doc_id)
            out["n_words"].append(n)
            out["frac_unique"].append(frac_unique)
            out["top_word_frac"].append(top_word)
            out["top_bigram_frac"].append(top_bigram)
            out["dup_3gram_frac"].append(dup_tri)
            out["flag_repetitive"].append(
                frac_unique < MIN_FRAC_UNIQUE
                or top_word > MAX_TOP_WORD_FRAC
                or dup_tri > MAX_DUP_3GRAM_FRAC)
        yield pd.DataFrame(out)


def repetition_flags_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] Gopher-style repetition quality signals per document:
    unique-word fraction, most-common-word fraction, most-common-bigram
    fraction, duplicate-3-gram fraction, and a composite repetitive
    flag (REPETITION_FLAGS_ORACLE). One Arrow kernel pass of per-doc
    Counter mode counts; zero Exchange, so it scales as a narrow map."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(_rep_stats_batches, schema=_REP_ARROW_SCHEMA)


# ---------------------------------------------------------------------------
# C4-style heuristic quality filters (round 8; Raffel et al. 2020 §2.2
# adapted to document granularity). Complements the Gopher-style
# repetition signals (repetition_flags_arrow) and the composite
# quality_score (token_stats) with the classic boolean gate battery a
# C4-like cleaning pass applies before anything model-based runs. The
# denylist is a 2-phrase demo stand-in for the configurable blocklist
# production uses (the operator shape — lowercased containment over a
# small broadcast-able list — is what matters).
# ---------------------------------------------------------------------------

C4_MIN_WORDS = 5
# C4 uses 3..10; the synthetic corpus's mean word lengths span only
# 3.7..5.3 (and it carries no punctuation at all), so the low bound is
# tightened to 4.0 and the terminal-punctuation rule is REPORTED as a
# signal but not gated — otherwise `keep` would be constant on this
# corpus and the gate would prove nothing. A production deployment
# flips the constants back and adds ends_terminal to the conjunction.
C4_MEAN_LEN_LO = 4.0
C4_MEAN_LEN_HI = 10.0
C4_TERMINAL = (".", "!", "?", '"')
C4_DENYLIST = ("click here", "subscribe now")


def c4_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[Q] (doc_id, n_words, mean_word_len, ends_terminal, has_brace,
    has_lorem, has_denylist, keep): the C4 heuristic gate battery.
    One narrow scan, zero Exchange — every signal is a Column
    expression over the tokenized text; `keep` is the conjunction C4
    applies (enough words, sane mean word length, terminal
    punctuation, none of the drop markers)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.trim("text").alias("tt"),
                 F.lower("text").alias("lt"),
                 _words_col().alias("ws"))
    n = F.size("ws")
    mean_len = F.round(
        F.aggregate(F.transform("ws", lambda w: F.length(w)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x).cast("double") / n, 6)
    ends_term = F.substring(F.col("tt"), -1, 1).isin(*C4_TERMINAL)
    has_brace = F.col("tt").contains("{") | F.col("tt").contains("}")
    has_lorem = F.col("lt").contains("lorem ipsum")
    has_deny = None
    for p in C4_DENYLIST:
        c = F.col("lt").contains(p)
        has_deny = c if has_deny is None else (has_deny | c)
    out = t.select(
        "doc_id", n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        ends_term.alias("ends_terminal"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        has_deny.alias("has_denylist"))
    keep = ((F.col("n_words") >= C4_MIN_WORDS)
            & (F.col("mean_word_len") >= C4_MEAN_LEN_LO)
            & (F.col("mean_word_len") <= C4_MEAN_LEN_HI)
            & ~F.col("has_brace") & ~F.col("has_lorem")
            & ~F.col("has_denylist"))
    return out.withColumn("keep", keep)


C4_QUALITY_FILTERS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, trim(text) AS tt, lower(text) AS lt,
         {_WORDS} AS ws
  FROM documents
),
b AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         round(CAST(list_sum(list_prepend(CAST(0 AS BIGINT),
                 list_transform(ws, w -> CAST(length(w) AS BIGINT))))
               AS DOUBLE) / len(ws), 6) AS mean_word_len,
         right(tt, 1) IN ('.', '!', '?', '"') AS ends_terminal,
         (contains(tt, '{{') OR contains(tt, '}}')) AS has_brace,
         contains(lt, 'lorem ipsum') AS has_lorem,
         (contains(lt, 'click here') OR contains(lt, 'subscribe now'))
           AS has_denylist
  FROM t
)
SELECT *,
       (n_words >= {C4_MIN_WORDS}
        AND mean_word_len >= {C4_MEAN_LEN_LO}
        AND mean_word_len <= {C4_MEAN_LEN_HI}
        AND NOT has_brace AND NOT has_lorem
        AND NOT has_denylist) AS keep
FROM b
"""
