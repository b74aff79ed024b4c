"""Edge cases of the fused rank-test closed forms, fed hand-built cells
and checked against pure-Python integer references: a single group, an
all-tied corpus, empty cells, and ties that span groups."""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

KW_SCHEMA = "event_type string, vc long, c long"


def _kw_reference(cells):
    """(n, k, tie_c3, h_ppm, h_adj_ppm) of the tie-corrected
    Kruskal–Wallis H, by the same integer chain as the closed form
    (doubled midranks, per-group floor division)."""
    pooled = defaultdict(int)
    for _, v, c in cells:
        pooled[v] += c
    below, run = {}, 0
    for v in sorted(pooled):
        below[v], run = run, run + pooled[v]
    n = run
    r2, n_g = defaultdict(int), defaultdict(int)
    for g, v, c in cells:
        r2[g] += c * (2 * below[v] + pooled[v] + 1)
        n_g[g] += c
    ct3 = sum(cp ** 3 - cp for cp in pooled.values())
    hsum = sum(3_000_000 * r2[g] ** 2 // (n_g[g] * n * (n + 1)) for g in n_g)
    h = max(0, hsum - 3_000_000 * (n + 1))
    tie_div = n ** 3 - n - ct3
    h_adj = h * (n ** 3 - n) // tie_div if tie_div > 0 else None
    return (n, len(n_g), ct3, h, h_adj)


def _kw(spark, cells):
    from mapreduce_rust_spark.operators.experiment import (
        kruskal_wallis_closed_form)
    df = kruskal_wallis_closed_form(spark.createDataFrame(cells, KW_SCHEMA))
    return df, [tuple(r) for r in df.collect()]


def _random_cells(seed, groups, values):
    rng = random.Random(seed)
    return [(g, v, rng.randint(1, 9))
            for g in groups for v in values if rng.random() < 0.6]


@pytest.mark.parametrize("cells", [
    # one group (k = 1): H is exactly 0, the tie term still counts
    [("a", 5, 3), ("a", 7, 1), ("a", 9, 4)],
    # ties spanning groups: every value is shared by two or more groups
    [("a", 1, 2), ("b", 1, 3), ("a", 4, 1), ("b", 4, 1), ("c", 4, 5),
     ("c", 8, 2), ("b", 8, 1)],
    # two singletons, no ties at all
    [("a", 1, 1), ("b", 2, 1)],
    _random_cells(7, ["a", "b", "c", "d"], range(-20, 40, 3)),
], ids=["one_group", "ties_span_groups", "untied_pair", "random_grid"])
def test_kruskal_wallis_closed_form_matches_integer_reference(spark, cells):
    df, rows = _kw(spark, cells)
    assert rows == [_kw_reference(cells)]
    assert df.dtypes == [("n", "bigint"), ("k", "bigint"),
                         ("tie_c3", "bigint"), ("h_ppm", "bigint"),
                         ("h_adj_ppm", "bigint")]


def test_kruskal_wallis_closed_form_all_tied_is_null(spark):
    """Every value equal: the tie divisor N³ − N − Σ(cp³ − cp) is 0,
    so the corrected H is undefined and reads NULL."""
    cells = [("a", 42, 3), ("b", 42, 4), ("c", 42, 1)]
    _, rows = _kw(spark, cells)
    assert rows == [_kw_reference(cells)]
    assert rows[0][2] == 8 ** 3 - 8 and rows[0][4] is None


def test_kruskal_wallis_closed_form_empty_cells(spark):
    _, rows = _kw(spark, [])
    assert rows == []
