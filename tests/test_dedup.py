"""Operator tests for dedup: MinHash math vs a pure-Python
reference, LSH/Jaccard relationships, simhash invariants."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from axolotls_spark.operators import dedup as D


def _py_token_hash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_minhash(text: str, k: int, n: int = 3) -> dict[int, int]:
    toks = text.split()
    shingles = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    hashes = {_py_token_hash(s) % D.MERSENNE_P for s in shingles}
    out = {}
    for i, (a, b) in enumerate(D.minhash_params(k)):
        out[i] = min((a * h + b) % D.MERSENNE_P for h in hashes)
    return out


def test_minhash_matches_python_reference(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    got = {
        r.i: r.minh for r in D.minhash_signatures(df, k=4).collect()
    }
    assert got == _py_minhash(text, 4)


def test_identical_docs_are_lsh_candidates(spark):
    text = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words here now ok yes")],
        "doc_id: long, text: string",
    )
    pairs = {
        (r.doc_a, r.doc_b)
        for r in D.near_dup_candidate_pairs(df, k=8, bands=2).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_jaccard_exact_values(spark):
    # doc1/doc2 share exactly half their shingles
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x")],  # shingles: {abc,bcd} vs {abc,bcx}
        "doc_id: long, text: string",
    )
    rows = D.jaccard_pairs(df, threshold=0.0).collect()
    assert len(rows) == 1
    assert abs(rows[0].jaccard - 1 / 3) < 1e-12  # 1 shared / 3 union


def test_simhash_invariants(spark):
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4"), (2, "w1 w2 w3 w4"), (3, "z9 z8 z7 z6")],
        "doc_id: long, text: string",
    )
    sh = {r.doc_id: r.simhash for r in D.simhash(df, bits=16).collect()}
    assert sh[1] == sh[2]  # identical content → identical fingerprint
    assert 0 <= sh[1] < 2**16
    assert sh[1] != sh[3]


def test_exact_dedup_representative(spark):
    df = spark.createDataFrame(
        [(5, "x", "en"), (2, "x", "de"), (9, "y", "fr")],
        "doc_id: long, text: string, lang: string",
    )
    rows = {r.text: r for r in D.exact_dedup(df, ["text"]).collect()}
    assert rows["x"].doc_id == 2 and rows["x"].lang == "de"
    assert rows["y"].doc_id == 9


def test_connected_dedup_groups_chain(spark):
    # Chain 1-2-3 plus isolated 4: all chain members label to 1.
    from axolotls_spark.operators.dedup import connected_dedup_groups

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4]], "doc_id long")
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.group_rep
        for r in connected_dedup_groups(docs, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_star_components_deep_chain_and_agreement(spark):
    # A 12-deep chain (the diameter case the alternating algorithm
    # exists for), a separate triangle, and two isolated nodes; the
    # star labeling must agree with min-label propagation exactly.
    from axolotls_spark.operators.dedup import (
        connected_components_star,
        connected_dedup_groups,
    )

    ids = list(range(1, 18))
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    chain = [(i, i + 1) for i in range(1, 12)]          # 1..12 chain
    tri = [(13, 14), (14, 15), (13, 15)]                # triangle
    pairs = spark.createDataFrame(
        chain + tri, "doc_a long, doc_b long"
    )
    star = {
        r.doc_id: r.group_rep
        for r in connected_components_star(docs, pairs).collect()
    }
    prop = {
        r.doc_id: r.group_rep
        for r in connected_dedup_groups(docs, pairs).collect()
    }
    assert star == prop
    assert star[12] == 1 and star[15] == 13
    assert star[16] == 16 and star[17] == 17


def test_star_components_empty_pairs(spark):
    from axolotls_spark.operators.dedup import connected_components_star

    docs = spark.createDataFrame([(7,), (9,)], "doc_id long")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    got = {
        r.doc_id: r.group_rep
        for r in connected_components_star(docs, pairs).collect()
    }
    assert got == {7: 7, 9: 9}


def test_star_components_64_deep_chain(spark):
    # Diameter 63 — far beyond label propagation's 20-round cap; the
    # star algorithm must label the whole chain in <= 15 rounds.
    from axolotls_spark.operators.dedup import connected_components_star

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 65)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.group_rep
        for r in connected_components_star(docs, pairs).collect()
    }
    assert got == {i: 1 for i in range(1, 65)}


def test_label_propagation_raises_on_nonconvergence(spark):
    # A chain deeper than max_iters must fail loudly, not hand back
    # labels that silently split the cluster.
    import pytest

    from axolotls_spark.operators.dedup import connected_dedup_groups

    docs = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_dedup_groups(docs, pairs, max_iters=3)


def test_split_leakage_free_invariant(spark):
    # Structural guarantee: every member of a dup cluster lands in
    # the SAME split, and all three splits are actually populated.
    from axolotls_spark.queries_text import split_leakage_free

    out = split_leakage_free(spark, "/root/testdata/sf0.001")
    n_violations = (
        out.groupBy("group_rep")
        .agg({"split": "approx_count_distinct"})
        .filter("`approx_count_distinct(split)` > 1")
        .count()
    )
    assert n_violations == 0
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits == {"train", "val", "test"}


def test_prefix_filter_shrinks_candidates_and_stays_complete(spark):
    """PPJoin prefix filtering: (1) completeness — the prefix-filtered
    result equals the brute-force all-co-occurring-pairs Jaccard join
    at the same threshold; (2) the PERF claim — the prefix-to-prefix
    candidate stream is a strict, substantial subset of the full
    shingle join's pair stream (hot shingles stop driving it)."""
    from axolotls_spark.io.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in D.jaccard_prefix_pairs(docs, tau_num=1, tau_den=5).collect()
    }
    want = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in D.jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert got == want and got  # identical AND non-trivial

    # Candidate-stream sizes: distinct pairs generated by each scheme.
    sh = D.doc_shingle_hashes(docs)
    full = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    from pyspark.sql.window import Window

    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id")
    ranked = sh.join(dfreq, "sh").select(
        "doc_id", "sh",
        F.row_number().over(wdoc.orderBy("df", "sh")).alias("rn"),
        F.count(F.lit(1)).over(wdoc).alias("n_sh"),
    )
    pref = ranked.filter(
        F.col("rn") <= F.col("n_sh") - F.expr("(n_sh + 4) div 5") + 1
    ).select("doc_id", "sh")
    pruned = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert pruned < full * 0.9  # measurably fewer candidates
    assert pruned >= len({(a, b) for a, b, _ in got})  # still complete


def _py_winnow(text: str, k: int = 3, w: int = 4) -> set[tuple[int, int]]:
    """Pure-Python MOSS winnowing mirror: (pos, hash) fingerprint
    set, rightmost-min tie rule, one whole-doc window for short
    docs."""
    toks = text.split()
    hs = [
        int(
            hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:9],
            16,
        )
        for i in range(len(toks) - k + 1)
    ]
    if not hs:
        return set()
    fps = set()
    for end in range(min(w, len(hs)) - 1, len(hs)):
        lo = max(0, end - w + 1)
        window = hs[lo : end + 1]
        m = min(window)
        q = max(j for j in range(lo, end + 1) if hs[j] == m)
        fps.add((q, m))
    return fps


def test_winnow_matches_python_reference(spark, sf_dir):
    """Third implementation: the packed-integer windowed-MIN pipeline
    must reproduce literal textbook winnowing (explicit window scan,
    rightmost-min ties) fingerprint-for-fingerprint, positions
    included — on real corpus docs plus edge shapes (doc shorter
    than k, doc with fewer than w grams)."""
    from axolotls_spark.io.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(30)
    extra = spark.createDataFrame(
        [
            (100001, "one two"),                # < k tokens: no grams
            (100002, "one two three"),          # exactly 1 gram
            (100003, "a b c d e"),              # 3 grams < w
            (100004, "x y z x y z x y z x y"),  # repeats force ties
        ],
        "doc_id: long, text: string",
    )
    sample = docs.select("doc_id", "text").union(extra)
    got: dict[int, set[tuple[int, int]]] = {}
    for r in D.winnow_fingerprints_df(sample, k=3, w=4).collect():
        got.setdefault(r.doc_id, set()).add((r.fp_pos, r.fp_hash))
    for row in sample.collect():
        assert got.get(row.doc_id, set()) == _py_winnow(row.text), row.doc_id


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing guarantee: two docs sharing a verbatim run of
    w + k - 1 = 6 tokens share at least one fingerprint hash, even
    when the rest of the text differs completely."""
    shared = "amber basalt cobalt dunite eclogite felsite"
    df = spark.createDataFrame(
        [
            (1, f"p q r s t u v {shared} aa bb cc"),
            (2, f"{shared} zz yy xx ww vv uu tt ss"),
        ],
        "doc_id: long, text: string",
    )
    fps = D.winnow_fingerprints_df(df, k=3, w=4)
    a = {r.fp_hash for r in fps.filter(F.col("doc_id") == 1).collect()}
    b = {r.fp_hash for r in fps.filter(F.col("doc_id") == 2).collect()}
    assert a & b


def test_winnow_df_cap_bounds_hot_fingerprints(spark):
    """Boilerplate stress: 60 docs sharing one hot sentence (plus
    unique tails) would contribute C(60,2)-scale candidate pairs
    through the shared fingerprints; the df-cap must drop those hot
    buckets, bounding join work, while genuinely rare shared spans
    (2 docs) still match. Mirrors the ER hot-block certification."""
    from pyspark.sql.window import Window as W

    boiler = "all rights reserved contact us terms of service apply here"
    rows = [(i, f"{boiler} unique tail token{i} filler{i} pad{i}")
            for i in range(60)]
    rows += [
        (100, "zeta eta theta iota kappa lam mu nu xi omicron pi rho"),
        (101, "zeta eta theta iota kappa lam mu nu xi omicron pi rho"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    fph = (
        D.winnow_fingerprints_df(df, k=3, w=4)
        .select("doc_id", "fp_hash")
        .distinct()
    )
    capped = fph.withColumn(
        "df", F.count("*").over(W.partitionBy("fp_hash"))
    ).filter(F.col("df") <= 20)
    uncapped_pairs = fph.alias("a").join(
        fph.alias("b"),
        (F.col("a.fp_hash") == F.col("b.fp_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).count()
    capped_pairs = capped.alias("a").join(
        capped.alias("b"),
        (F.col("a.fp_hash") == F.col("b.fp_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    n_capped = capped_pairs.count()
    # the hot boilerplate block is gone: >=C(60,2) pairs collapse
    assert uncapped_pairs >= 60 * 59 // 2
    assert n_capped < uncapped_pairs / 20
    # the rare exact-dup pair (docs 100/101) survives the cap
    survivors = {
        (r["a.doc_id"], r["b.doc_id"])
        if "a.doc_id" in r.asDict()
        else (r[0], r[1])
        for r in capped_pairs.select(
            F.col("a.doc_id"), F.col("b.doc_id")
        ).collect()
    }
    assert (100, 101) in {(a, b) for a, b in survivors}
