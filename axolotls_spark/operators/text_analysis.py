"""Text analysis operators — language ID, quality scoring, token
counting, document fingerprinting.

All pure Column expressions (JVM-side, codegen) — per-document work
is linear in text length, no shuffles except where an aggregate is
requested. This is the cheap first pass of an LLM data pipeline that
runs before dedup/filtering at 100 TB, so staying out of Python is
the difference between a scan-rate and a UDF-rate job.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from axolotls_spark.operators.dedup import token_hash, tokens_col

# Tiny per-language stopword inventories for the n-gram/stopword
# heuristic. Real pipelines would load fastText lid.176; the operator
# shape (per-language hit ratio → argmax) is identical.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "value", "table"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pas"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "no"),
}


def token_count(text: Column) -> Column:
    """Whitespace token count (the BPE-ish regex variant is
    ``regexp_count(text, token_re)`` — same plan shape)."""
    return F.size(tokens_col(text)).cast("long")


# BPE-ish pre-tokenizer: letter runs, digit runs, single
# non-alphanumeric marks — the GPT-2 pre-tokenizer's shape without
# the contraction special cases, kept to syntax RE2 (DuckDB) and
# Java regex (Spark) evaluate identically.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_tokens_col(text: Column) -> Column:
    """Array of BPE-ish pre-tokens (JVM-side regexp_extract_all —
    no Python in the loop, stays in codegen)."""
    return F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    toks = tokens_col(text)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS[lang]))
    )
    return hits / F.nullif(F.size(toks), F.lit(0))


def quality_features(text: Column) -> dict[str, Column]:
    """Heuristic quality signals (Gopher/C4-style cheap filters):
    length, token stats, punctuation/digit/space ratios, mean token
    length, repetition (distinct-token ratio)."""
    toks = tokens_col(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": (
            F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
            / F.nullif(n_tokens, F.lit(0))
        ),
        "distinct_token_ratio": (
            F.size(F.array_distinct(toks)) / F.nullif(n_tokens, F.lit(0))
        ),
        "space_ratio": (
            (n_chars - F.length(F.replace(text, F.lit(" "), F.lit(""))))
            / F.nullif(n_chars, F.lit(0))
        ),
        "digit_ratio": (
            F.length(F.regexp_replace(text, r"[^0-9]", ""))
            / F.nullif(n_chars, F.lit(0))
        ),
    }


def doc_fingerprint(text: Column) -> Column:
    """Order-sensitive rolling document fingerprint.

    Polynomial rolling hash over token hashes mod 2^31-1
    (acc = acc*31 + h(tok)); unlike a set-based signature this
    distinguishes permuted documents. Engine-independent (md5-based
    token hash), so the oracle reproduces it exactly.
    """
    p = 2_147_483_647
    return F.aggregate(
        tokens_col(text),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + (token_hash(t) % p)) % p,
    )


# --- Repetition filters & benchmark decontamination -----------------------
# Gopher/MassiveText-style repetition quality signals and GPT-3-style
# n-gram decontamination against a held-out benchmark set. Both are
# standard curation passes in LLM data pipelines; the reference has
# neither (its text surface is element-wise ops only — SURVEY §2A).


def ngrams_all_col(text: Column, n: int) -> Column:
    """All word n-grams (duplicates KEPT — unlike dedup.shingles_col)
    so repetition can be measured. Empty array below n tokens."""
    return ngrams_from_tokens(tokens_col(text), n)


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """``ngrams_all_col`` on an already-materialized token array —
    for staged projections that tokenize once per row (guide §1.3:
    the regexp split is the expensive leaf; reference the ARRAY, not
    the expression, when several stats consume it)."""
    seq = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(
        F.size(toks) >= n,
        F.transform(seq, lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def dup_token_frac(text: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token:
    1 - distinct/total. Pure per-row expression — no shuffle."""
    toks = tokens_col(text)
    return F.lit(1.0) - F.size(F.array_distinct(toks)) / F.size(toks)


def top_ngram_frac(text: Column, n: int = 2) -> Column:
    """Fraction of all n-grams taken by the single most frequent one.

    Scale-first: instead of explode + two keyed aggregations (a
    shuffle of every n-gram in the corpus), sort the per-row n-gram
    array and fold it with ``F.aggregate`` to the longest equal-run —
    a map-only expression that stays in codegen. The DuckDB oracle
    does the relational unnest/GROUP BY version of the same algebra.
    """
    return top_run_frac_sorted(F.array_sort(ngrams_all_col(text, n)))


def top_run_frac_sorted(grams: Column) -> Column:
    """Longest-equal-run fraction of an ALREADY-SORTED n-gram array
    (the fold of ``top_ngram_frac``, split out so staged projections
    can feed it a materialized column instead of re-deriving the
    sorted-gram expression per reference)."""

    def merge(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["mx"], run).alias("mx"),
        )

    mx = F.aggregate(
        grams,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("mx"),
        ),
        merge,
        lambda acc: acc["mx"],
    )
    return F.when(
        F.size(grams) > 0, mx.cast("double") / F.size(grams)
    ).otherwise(F.lit(0.0))


def staged_repetition_gate(df: "DataFrame", n: int = 2) -> "DataFrame":
    """Append the Gopher repetition stats — ``_rep_ntok`` (token
    count), ``_rep_dup`` (duplicate-token fraction), ``_rep_top``
    (top-n-gram fraction) — to ``df`` (which must carry ``text``)
    via STAGED projections: the token array and the sorted n-gram
    array each materialize exactly once per row.  Inlining the
    expressions instead re-evaluates the regexp split per reference
    (the fold is a higher-order function, outside codegen's
    subexpression elimination — r8 measurement: ~2.3× the CPU of the
    staged form).  CollapseProject keeps the stages apart because
    the aliases are non-cheap and multiply referenced."""
    cols = [F.col(c) for c in df.columns]
    base = df.select(*cols, tokens_col(F.col("text")).alias("_rep_toks"))
    g = base.select(
        *cols,
        F.size("_rep_toks").alias("_rep_ntok"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("_rep_toks")) / F.size("_rep_toks")
        ).alias("_rep_dup"),
        F.array_sort(
            ngrams_from_tokens(F.col("_rep_toks"), n)
        ).alias("_rep_grams"),
    )
    return g.select(
        *cols,
        "_rep_ntok",
        "_rep_dup",
        top_run_frac_sorted(F.col("_rep_grams")).alias("_rep_top"),
    )


def benchmark_ngram_overlap(
    corpus: "DataFrame", bench: "DataFrame", n: int = 3
) -> "DataFrame":
    """Per-corpus-doc count of distinct n-grams shared with a
    benchmark set — the GPT-3 appendix-C decontamination shape.

    The benchmark n-gram set is tiny relative to the corpus (eval
    suites are MBs; the corpus is TBs), so it is DISTINCTed and
    broadcast: the corpus side is scanned once, never shuffled for
    the probe, and the only wide exchange is the per-doc overlap
    count over join survivors.
    """
    from axolotls_spark.operators.dedup import shingles_col

    bench_g = (
        bench.select(F.explode(shingles_col(F.col("text"), n)).alias("g"))
        .distinct()
    )
    return (
        corpus.select("doc_id", F.explode(shingles_col(F.col("text"), n)).alias("g"))
        .join(F.broadcast(bench_g), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
