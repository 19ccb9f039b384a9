"""operators/prefix.top_p_rank and top_k_mass — the count-level folds
behind ``nucleus_vocab_size`` and ``vocab_coverage_curve``.

Both are mirrored against the oracle's own definition in Python: sort
the (term, cnt) table by (-cnt, term), take the running sum, and
compare ``float(cum) >= p * float(total)``.  Every test data set has
the same 31-term vocabulary, so query parity never splits a level;
these synthetic tables do: a tied level that straddles the threshold,
a running sum that lands exactly on it, a single level, a single
term, an empty table, and seeded random tables."""

from __future__ import annotations

import random

import pytest

from axolotls_spark.operators.prefix import top_k_mass, top_p_rank


def _ranked(rows):
    return sorted(rows, key=lambda r: (-r[1], r[0]))


def _ref_top_p(rows, p):
    thr = p * float(sum(c for _, c in rows))
    cum = 0
    for rn, (_, c) in enumerate(_ranked(rows), 1):
        cum += c
        if float(cum) >= thr:
            return rn, len(rows)
    return None, len(rows)


def _ref_top_k(rows, k):
    return sum(c for _, c in _ranked(rows)[:k])


def _freq(spark, rows):
    return spark.createDataFrame(rows, "term STRING, cnt BIGINT")


def _terms(prefix, n, cnt):
    return [(f"{prefix}{i:03d}", cnt) for i in range(n)]


CASES = {
    # t = 100, 0.9·t = 90: 20 + 3j >= 90 first at j = 24 of the
    # 25-term level, so the answer sits inside the level.
    "tied_level_straddles": [("a", 20)] + _terms("b", 25, 3) + _terms("c", 5, 1),
    # t = 100: 30 + 3·20 = 90 lands exactly on 0.9·t at the level's
    # last term.
    "cum_lands_on_threshold": [("a", 30)] + _terms("b", 20, 3) + _terms("c", 10, 1),
    "single_level": _terms("t", 10, 7),
    "single_term": [("only", 5)],
    "empty": [],
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_top_p_matches_sorted_cumsum(spark, case):
    rows = CASES[case]
    got = top_p_rank(_freq(spark, rows), 0.9).collect()
    assert [tuple(r) for r in got] == [_ref_top_p(rows, 0.9)]


def test_top_p_in_level_answer():
    """The synthetic cases do split levels (guards the cases above
    against a data edit that moves the answer to a level boundary)."""
    assert _ref_top_p(CASES["tied_level_straddles"], 0.9) == (25, 31)
    assert _ref_top_p(CASES["single_level"], 0.9) == (9, 10)


def test_top_p_double_threshold(spark):
    """0.55 · 100.0 is 55.00000000000001 in doubles, so a running sum
    of exactly 55 does not reach it: the answer is the 56th term, as
    the oracle's double comparison says."""
    rows = _terms("u", 100, 1)
    assert 0.55 * 100.0 > 55
    got = top_p_rank(_freq(spark, rows), 0.55).collect()
    assert [tuple(r) for r in got] == [(56, 100)] == [_ref_top_p(rows, 0.55)]


def test_top_p_corrects_the_ceil_estimate(spark):
    """Past 2**53 a running sum no longer converts to a double
    exactly, and ceil((0.9999999999999999·t - cum) / cnt) names the
    14th term of the 3-count level where the double comparison first
    holds at the 15th: the fold's one-step correction against the
    exact long sum must give 1 + 15."""
    rows = [("big", 2**53 + 31)] + _terms("s", 15, 3)
    p = 0.9999999999999999
    got = top_p_rank(_freq(spark, rows), p).collect()
    assert [tuple(r) for r in got] == [(16, 16)] == [_ref_top_p(rows, p)]


def test_top_p_random_tables(spark):
    rng = random.Random(7)
    for _ in range(6):
        rows = [
            (f"w{i}", max(1, int(1000 / (i + 1) ** rng.uniform(0.5, 1.5))))
            for i in range(rng.randint(1, 300))
        ]
        p = rng.choice((0.5, 0.55, 0.9, 0.99, 0.1, 0.3))
        got = top_p_rank(_freq(spark, rows), p).collect()
        assert [tuple(r) for r in got] == [_ref_top_p(rows, p)], (rows, p)


@pytest.mark.parametrize(
    "case", ["tied_level_straddles", "single_level", "single_term"]
)
def test_top_k_mass_matches_sorted_prefix(spark, case):
    rows = CASES[case]
    ks = (1, 3, 12, 1000)
    got = sorted(tuple(r) for r in top_k_mass(_freq(spark, rows), ks).collect())
    t = float(sum(c for _, c in rows))
    assert got == [(k, _ref_top_k(rows, k), t) for k in ks]


def test_top_k_mass_empty_has_no_rows(spark):
    assert top_k_mass(_freq(spark, []), (1, 10)).collect() == []
