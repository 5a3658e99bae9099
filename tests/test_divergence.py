"""Categorical window divergence: JS/TVD math, boundaries, gaps."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest

from anomalydetector_spark.operators import divergence as D
from anomalydetector_spark.operators.divergence import (
    categorical_window_divergence,
)

D0 = dt.datetime(2024, 3, 1)


def _frame(spark, day_cats):
    """day_cats: {day_index: {cat: count}} → one row per observation."""
    rows = []
    for d, cats in day_cats.items():
        for cat, n in cats.items():
            rows += [(D0 + dt.timedelta(days=d, minutes=i), cat) for i in range(n)]
    return spark.createDataFrame(rows, "ts timestamp, lang string")


def _js(p, q):
    cats = set(p) | set(q)
    out = 0.0
    for c in cats:
        pi, qi = p.get(c, 0.0), q.get(c, 0.0)
        m = (pi + qi) / 2
        if pi > 0:
            out += 0.5 * pi * math.log2(pi / m)
        if qi > 0:
            out += 0.5 * qi * math.log2(qi / m)
    return out


def test_identical_distributions_are_zero(spark):
    df = _frame(spark, {0: {"en": 6, "de": 2}, 1: {"en": 6, "de": 2}})
    row = categorical_window_divergence(df).first()
    assert row["js_divergence"] == 0.0 and row["tvd"] == 0.0
    assert row["n_categories"] == 2


def test_disjoint_distributions_hit_the_bound(spark):
    df = _frame(spark, {0: {"en": 5}, 1: {"zh": 7}})
    row = categorical_window_divergence(df).first()
    assert abs(row["js_divergence"] - 1.0) < 1e-12  # log2 JS bound
    assert row["tvd"] == 1.0


def test_first_window_and_gap_windows_are_omitted(spark):
    # days 0,1 consecutive; day 3 follows a gap (empty day 2) → omitted
    df = _frame(spark, {0: {"en": 3}, 1: {"en": 3}, 3: {"en": 3}})
    out = categorical_window_divergence(df).collect()
    assert [r["window_start"] for r in out] == [D0 + dt.timedelta(days=1)]


def test_known_values(spark):
    day0 = {"en": 6, "de": 2}      # p = (.75, .25)
    day1 = {"en": 4, "de": 4}      # q = (.5, .5)
    df = _frame(spark, {0: day0, 1: day1})
    row = categorical_window_divergence(df).first()
    tot0, tot1 = sum(day0.values()), sum(day1.values())
    p = {c: n / tot0 for c, n in day0.items()}
    q = {c: n / tot1 for c, n in day1.items()}
    assert abs(row["js_divergence"] - _js(q, p)) < 1e-12
    assert abs(row["tvd"] - 0.25) < 1e-12


def test_random_parity_with_python(spark):
    rng = np.random.default_rng(3)
    days = {}
    for d in range(6):
        cats = rng.choice(["a", "b", "c", "d"], size=rng.integers(1, 4),
                          replace=False)
        days[d] = {c: int(rng.integers(1, 9)) for c in cats}
    df = _frame(spark, days)
    got = {
        r["window_start"]: (r["js_divergence"], r["tvd"], r["n_categories"])
        for r in categorical_window_divergence(df).collect()
    }
    for d in range(1, 6):
        tot_p = sum(days[d].values())
        tot_q = sum(days[d - 1].values())
        p = {c: n / tot_p for c, n in days[d].items()}
        q = {c: n / tot_q for c, n in days[d - 1].items()}
        ws = D0 + dt.timedelta(days=d)
        js, tvd, ncat = got[ws]
        assert abs(js - _js(p, q)) < 1e-12
        cats = set(p) | set(q)
        assert abs(tvd - 0.5 * sum(abs(p.get(c, 0) - q.get(c, 0)) for c in cats)) < 1e-12
        assert ncat == len(p)
    assert D0 not in got  # first window omitted


# ------------------------------------------- window-pair alignment contract
# every operator that scores a window against its predecessor, with the
# key column its counts frame carries
PAIR_OPS = {
    "js": ("cat", D.divergence_from_window_counts),
    "linf_tvd_emd": ("bin", D.numeric_drift_from_bin_counts),
    "psi_chi2": ("bin", D.psi_chi2_from_bin_counts),
    "ks": ("value", D.ks_drift_from_value_counts),
    "full_histogram": ("bin", D.full_histogram_drift),
    "topk_churn": ("cat", lambda c, part: D.topk_churn(c, k=2, part_cols=part)),
    "attribution": (
        "cat", lambda c, part: D.divergence_attribution(c, part, top_n=3)
    ),
}


def _pair_counts(spark, rows, key):
    """rows: (part, day, cat, n) → counts frame ``(part, w_start, w_end,
    <key>, n)``; integer keys number the categories a=0, b=1, ..."""
    return spark.createDataFrame(
        [
            (
                part,
                D0 + dt.timedelta(days=d),
                D0 + dt.timedelta(days=d + 1),
                cat if key == "cat" else ord(cat) - ord("a"),
                n,
            )
            for part, d, cat, n in rows
        ],
        f"part string, w_start timestamp, w_end timestamp, "
        f"{key} {'string' if key == 'cat' else 'int'}, n long",
    )


@pytest.mark.parametrize("op", sorted(PAIR_OPS))
def test_window_pairs_omit_first_and_gap_windows(spark, op):
    key, fn = PAIR_OPS[op]
    # partition p: days 0,1,2 then a gap (no day 3) and days 4,5;
    # partition q starts later: days 2,3. Every consecutive pair differs,
    # so even attribution (which drops TVD = 0 windows) emits rows.
    shapes = [{"a": 5, "b": 1}, {"a": 1, "b": 5, "c": 2}]
    rows = [
        (part, d, cat, n)
        for part, days in (("p", (0, 1, 2, 4, 5)), ("q", (2, 3)))
        for d in days
        for cat, n in shapes[d % 2].items()
    ]
    got = {
        (r["part"], r["window_start"])
        for r in fn(_pair_counts(spark, rows, key), ["part"]).collect()
    }
    day = lambda d: D0 + dt.timedelta(days=d)  # noqa: E731
    # p's first window (0) and the window after the gap (4) have no
    # predecessor; nothing is emitted for the slot after a last window
    assert got == {("p", day(1)), ("p", day(2)), ("p", day(5)), ("q", day(3))}


# pinned output for a counts frame holding n = 0 rows (c in days 1 and
# 2). A zero row still counts as present: it pairs its window and widens
# the support counts (n_categories, n_bins_hit, n_bins_union, n_support,
# top-k membership, attribution rows) while adding no probability mass.
ZERO_ROW_EXPECTED = {
    "js": [(1, 0.1379253809700299, 0.25, 2), (2, 0.6099865470109875, 0.8, 3)],
    "linf_tvd_emd": [(1, 0.25, 0.25, 0.25, 3), (2, 0.8, 0.8, 0.8, 3)],
    "psi_chi2": [
        (1, 0.05119311428571428, 0.146939, 0.11065675156386377, 3),
        (2, 0.8259239, 2.296667, 0.42031737093259935, 3),
    ],
    "ks": [(1, 0.25, 3), (2, 0.8, 3)],
    "full_histogram": [
        (1, 0.25, 0.25, 0.25, 0.05119311428571428, 0.146939,
         0.11065675156386377, 3, 3),
        (2, 0.8, 0.8, 0.8, 0.8259239, 2.296667, 0.42031737093259935, 3, 3),
    ],
    "topk_churn": [
        (1, 1 / 3, 1, 1, 1, 2, 2),
        (2, 1 / 3, 1, 1, 1, 2, 2),
    ],
    "attribution": [
        (1, 1, "a", 0.5, "up", 1.0, 0.75),
        (1, 2, "b", 0.5, "down", 0.0, 0.25),
        (1, 3, "c", 0.0, "flat", 0.0, 0.0),
        (2, 1, "a", 0.5, "down", 0.2, 1.0),
        (2, 2, "b", 0.5, "up", 0.8, 0.0),
        (2, 3, "c", 0.0, "flat", 0.0, 0.0),
    ],
}


@pytest.mark.parametrize("op", sorted(PAIR_OPS))
def test_window_pairs_zero_count_rows_pinned(spark, op):
    key, fn = PAIR_OPS[op]
    rows = [
        ("p", 0, "a", 3), ("p", 0, "b", 1),
        ("p", 1, "a", 2), ("p", 1, "c", 0),
        ("p", 2, "a", 1), ("p", 2, "c", 0), ("p", 2, "b", 4),
    ]
    out = fn(_pair_counts(spark, rows, key), ["part"]).drop("part")
    got = sorted(((r[0] - D0).days, *r[1:]) for r in out.collect())
    exp = ZERO_ROW_EXPECTED[op]
    assert [len(r) for r in got] == [len(r) for r in exp]
    for g, e in zip(got, exp):
        for x, y in zip(g, e):
            assert x == (pytest.approx(y, rel=1e-12) if isinstance(y, float) else y)
