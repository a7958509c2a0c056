"""Text-analysis operators for training-data pipelines over the
``documents`` table: token counting, quality scoring, language-ID,
document fingerprinting (SimHash / rolling hash).

Everything stays JVM-side (split/explode/xxhash64) until a genuinely custom
reduction is needed; those run as vectorized ``applyInPandas`` over
pre-hashed tokens — no per-row Python hashing."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

# A tiny function-word list for quality scoring / language-ID heuristics.
_STOPWORDS = ["a", "the", "of", "and", "to", "in", "is", "it", "that", "for"]

_LANG_MARKERS = {
    # deterministic n-gram/function-word heuristic tables (public knowledge);
    # extend per-language as needed.
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "la", "los", "que", "es", "una"],
}


def tokens_col(text_col: str | Column = "text") -> Column:
    """Whitespace tokenization as a JVM expression (split on single space —
    matches ANSI ``string_split(text, ' ')`` exactly, empty strings kept)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def with_token_count(df: DataFrame, text_col: str = "text",
                     out_col: str = "n_tokens") -> DataFrame:
    return df.withColumn(out_col, F.size(tokens_col(text_col)))


# BPE-style pre-tokenizer pattern (GPT-2 family, simplified to the
# lookahead-free subset both java.util.regex and RE2 support, so the Spark
# expression and the DuckDB oracle tokenize identically): contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs,
# residual whitespace.
BPE_SPLIT_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def with_bpe_token_count(df: DataFrame, text_col: str = "text",
                         out_col: str = "n_bpe_tokens") -> DataFrame:
    """Token count under a BPE-ish pre-tokenizer regex — the unit LLM
    training pipelines budget by (a whitespace count undercounts
    punctuation-heavy or contraction-heavy text).  Pure JVM
    ``regexp_extract_all``: codegen'd, no UDF, scales with the scan."""
    return df.withColumn(
        out_col,
        F.size(F.regexp_extract_all(F.col(text_col),
                                    F.lit(BPE_SPLIT_PATTERN), F.lit(0))))


def with_quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features — all
    whole-stage-codegen JVM expressions; feeds a downstream quality filter."""
    toks = tokens_col(text_col)
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.array_intersect(toks, stop_arr))
    return (df
            .withColumn("n_chars", F.length(text_col))
            .withColumn("n_tokens", n_tok)
            .withColumn("avg_token_len",
                        F.round((F.length(text_col) - (n_tok - 1))
                                / F.greatest(n_tok, F.lit(1)), 6))
            .withColumn("distinct_token_ratio",
                        F.round(F.size(F.array_distinct(toks))
                                / F.greatest(n_tok, F.lit(1)), 6))
            .withColumn("stopword_types", n_stop)
            .withColumn("punct_chars",
                        F.length(F.regexp_replace(text_col, "[^.,;:!?]", ""))))


def with_lang_id(df: DataFrame, text_col: str = "text",
                 out_col: str = "lang_pred") -> DataFrame:
    """Function-word-overlap language ID (n-gram heuristic): predicted
    language = argmax over marker tables of distinct marker hits.  Pure JVM
    expressions (array_intersect); ties broken by fixed language order."""
    toks = F.array_distinct(tokens_col(text_col))
    scores = [
        F.struct(
            F.size(F.array_intersect(
                toks, F.array(*[F.lit(w) for w in words]))).alias("score"),
            F.lit(-i).alias("tie"),
            F.lit(lang).alias("lang"))
        for i, (lang, words) in enumerate(_LANG_MARKERS.items())
    ]
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        out_col, F.when(best["score"] > 0, best["lang"]).otherwise("und"))


def _segment_starts(lists) -> tuple[np.ndarray, np.ndarray]:
    """(flat int64 hashes, segment starts) for a Series of hash lists."""
    arrs = [np.asarray(x, dtype=np.int64) for x in lists]
    lens = np.fromiter((a.size for a in arrs), dtype=np.int64,
                       count=len(arrs))
    flat = (np.concatenate(arrs) if arrs
            else np.zeros(0, dtype=np.int64))
    starts = np.zeros(len(arrs), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return flat, starts


def simhash(df: DataFrame, id_col: str, text_col: str = "text",
            out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash (Charikar 2002) per document.

    Tokens never leave their row: the distinct-token hash array is built
    JVM-side (``transform(tokens, t -> xxhash64(t))``), and ONE scalar
    pandas UDF does the bit-vote majority for a whole Arrow batch of
    documents via segment-wise ``np.add.reduceat`` — no explode, no
    shuffle, no per-document Python call."""

    @F.pandas_udf("long")
    def votes(ths: pd.Series) -> pd.Series:
        flat, starts = _segment_starts(ths)
        n = len(ths)
        if flat.size == 0:
            return pd.Series(np.zeros(n, dtype=np.int64))
        shifts = np.arange(64, dtype=np.uint64)
        weights = np.left_shift(np.uint64(1), shifts)
        out = np.empty(n, dtype=np.int64)
        ends = np.append(starts[1:], flat.size)
        # chunk along document boundaries: the (tokens x 64) int8/int32
        # temporaries are bounded to ~40 MB regardless of Arrow batch size
        # (same scheme as minhash_signatures in dedup.py)
        chunk = 1 << 17
        i = 0
        while i < n:
            j = i + 1
            while j < n and ends[j - 1] - starts[i] < chunk:
                j += 1
            h = flat[starts[i]:ends[j - 1]].view(np.uint64)
            bits = ((h[:, None] >> shifts[None, :])
                    & np.uint64(1)).astype(np.int8)
            local = starts[i:j] - starts[i]
            sums = np.add.reduceat(2 * bits.astype(np.int32) - 1,
                                   local, axis=0)
            maj = (sums > 0).astype(np.uint64)
            out[i:j] = ((maj * weights[None, :])
                        .sum(axis=1, dtype=np.uint64).view(np.int64))
            i = j
        return pd.Series(out)

    th_arr = F.transform(F.array_distinct(tokens_col(text_col)),
                         lambda t: F.xxhash64(t))
    return df.select(F.col(id_col), votes(th_arr).alias(out_col))


def top_terms(df: DataFrame, text_col: str = "text", k: int = 20,
              min_len: int = 1) -> DataFrame:
    """Exact corpus vocabulary top-k: ``(term, cnt)`` for the k most
    frequent whitespace tokens, ties broken by term ascending.

    100 TB shape: explode + groupBy is a partial-aggregated count (the
    map-side combine collapses each partition's token stream to its local
    vocabulary before the shuffle — shuffle volume is O(distinct terms),
    not O(tokens)), and the final top-k is a TakeOrderedAndProject, never
    a full sort.  Pure JVM expressions throughout.  For heavy-tailed
    vocabularies where even distinct-terms-per-partition is too big,
    compose with ``sketches.CountMinSketch`` heavy-hitters first
    (see ``agg.cms_heavy_hitters``) and use this as the exact re-count of
    the candidate set.
    """
    term = F.explode(tokens_col(text_col)).alias("term")
    return (df.select(term)
            .filter(F.length("term") >= min_len)
            .groupBy("term").agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("term").asc())
            .limit(k))
