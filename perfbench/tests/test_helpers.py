"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys
import time

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


# -- the "at least 10 samples beyond" tail rule ----------------------------------

def test_tail_has_exactly_ten_beyond():
    xs = list(range(1, 101))  # 1..100
    t = stats.tail(xs)
    assert t["value"] == 90
    assert sum(1 for x in xs if x > t["value"]) == 10
    assert t["percentile"] == 90.0 and t["samples"] == 100 and t["beyond"] == 10


def test_tail_smallest_qualifying_sample_count():
    t = stats.tail([5, 1, 4, 2, 3, 11, 9, 8, 10, 7, 6])  # 11 samples
    assert t["value"] == 1
    assert t["percentile"] == pytest.approx(100 / 11)
    assert t["beyond"] == 10


def test_tail_falls_back_to_max_below_eleven_samples():
    t = stats.tail([0.3, 0.1, 0.2])
    assert t == {"value": 0.3, "percentile": 100.0, "samples": 3, "beyond": 0}
    with pytest.raises(ValueError):
        stats.tail([])


def test_tail_order_independent():
    rng = np.random.default_rng(0)
    xs = rng.random(37).tolist()
    assert stats.tail(xs) == stats.tail(sorted(xs, reverse=True))
    assert stats.tail(xs)["value"] == sorted(xs)[26]


# -- status-store metric strings ----------------------------------------------------

@pytest.mark.parametrize("text,value", [
    ("59,539", 59539.0),
    ("0", 0.0),
    ("0 ms", 0.0),
    ("233 ms", 0.233),
    ("2.8 s", 2.8),
    ("1.5 m", 90.0),
    ("0.0 B", 0.0),
    ("1919.0 B", 1919.0),
    ("8.4 KiB", 8.4 * 1024),
    ("7.0 MiB", 7.0 * 1024 ** 2),
    ("1.2 GiB", 1.2 * 1024 ** 3),
    ("total (min, med, max (stageId: taskId))\n5.8 s (1.4 s, 1.4 s, 1.5 s (stage 66.0: task 55))", 5.8),
    ("total (min, med, max (stageId: taskId))\n1419.3 KiB (353.0 KiB, 355.3 KiB, 356.1 KiB (stage 66.0: task 53))",
     1419.3 * 1024),
    ("total (min, med, max (stageId: taskId))\n1,024 (256, 256, 512 (stage 3.0: task 9))", 1024.0),
    ("(min, med, max (stageId: taskId)):\n(1, 2, 3 (stage 278.0: task 370))", 2.0),
    (None, 0.0),
    ("", 0.0),
])
def test_parse_metric(text, value):
    assert stats.parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["n/a", "total (min, med, max)", "3 parsecs"])
def test_parse_metric_rejects_unknown(text):
    with pytest.raises(ValueError):
        stats.parse_metric(text)


# -- oracles on hand-checked cases ------------------------------------------------------

SQUARE = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])
# a "U": the notch (1..3 x 2..4) is outside
U_SHAPE = np.array([[0, 0], [4, 0], [4, 4], [3, 4], [3, 2], [1, 2], [1, 4], [0, 4]], float)


def test_points_in_ring_square_and_concave():
    x = np.array([2.0, 5.0, -1.0, 0.5, 2.0, 2.0, 3.5])
    y = np.array([2.5, 2.0, 2.0, 3.5, 3.0, 1.0, 3.5])
    assert oracle.points_in_ring(x, y, SQUARE).tolist() == [True, False, False, True, True, True, True]
    assert oracle.points_in_ring(x, y, U_SHAPE).tolist() == [False, False, False, True, False, True, True]


def test_pip_counts_per_region():
    far = SQUARE + 10.0
    x = np.array([1.0, 2.0, 3.5, 11.0, 20.0])
    y = np.array([1.0, 3.0, 3.5, 11.0, 20.0])
    # the point in region 2's bbox but outside its ring is not counted
    assert oracle.pip_counts(x, y, [SQUARE, far, U_SHAPE]) == {0: 3, 1: 1, 2: 2}


def test_pip_counts_matches_generated_regions_brute_force():
    rng = np.random.default_rng(3)
    rings = gen.admin_regions(rng, 3, 2, np.arange(6))
    x = rng.uniform(0, gen.DOMAIN[2], 400)
    y = rng.uniform(0, gen.DOMAIN[3], 400)
    want = {}
    for rid, ring in enumerate(rings):
        n = int(oracle.points_in_ring(x, y, ring).sum())
        if n:
            want[rid] = n
    assert oracle.pip_counts(x, y, rings) == want


def test_knn_distances_by_hand():
    bx = np.array([0.0, 3.0, 0.0, 10.0])
    by = np.array([1.0, 0.0, -2.0, 10.0])
    d = oracle.knn_distances(np.array([0.0]), np.array([0.0]), bx, by, 3)
    assert d.tolist() == [[1.0, 2.0, 3.0]]


def test_knn_check_compares_distances_not_ids():
    px, py = np.array([0.0, 5.0]), np.array([0.0, 5.0])
    # build points 0 and 1 are both at distance 1 from probe 0
    bx = np.array([1.0, -1.0, 0.0, 5.0, 5.0])
    by = np.array([0.0, 0.0, 3.0, 6.0, 4.0])
    sample = np.array([0, 1])
    good = [(0, 0), (0, 1), (1, 3), (1, 4)]
    swapped = [(0, 1), (0, 0), (1, 4), (1, 3)]
    assert oracle.knn_check(good, px, py, bx, by, 2, sample) == 0
    assert oracle.knn_check(swapped, px, py, bx, by, 2, sample) == 0
    wrong = [(0, 0), (0, 2), (1, 3), (1, 4)]  # build 2 is farther than build 1
    assert oracle.knn_check(wrong, px, py, bx, by, 2, sample) == 1
    short = [(0, 0), (1, 3), (1, 4)]
    assert oracle.knn_check(short, px, py, bx, by, 2, sample) == 1
    dup = [(0, 0), (0, 0), (1, 3), (1, 4)]
    assert oracle.knn_check(dup, px, py, bx, by, 2, sample) == 1


def test_window_groups_inclusive_bounds():
    x = np.array([0.0, 1.0, 2.0, 2.0, 3.0])
    y = np.array([0.0, 1.0, 2.0, 0.5, 3.0])
    lang = np.array(["en", "en", "de", "de", "en"])
    got = oracle.window_groups(x, y, lang, (1.0, 0.5, 2.0, 2.0))
    # (1,1), (2,2) on the corner and (2,0.5) on the edge are all inside
    assert got == {"en": (1, 1.0), "de": (2, 2.0)}
    assert oracle.window_check([("en", 1, 1.0), ("de", 2, 2.0)], got)
    assert not oracle.window_check([("en", 1, 1.0)], got)
    assert not oracle.window_check([("en", 1, 1.0), ("de", 3, 2.0)], got)
    assert not oracle.window_check([("en", 1, 1.5), ("de", 2, 2.0)], got)
    assert oracle.window_groups(x, y, lang, (10, 10, 11, 11)) == {}


# -- generator -------------------------------------------------------------------------------

def test_generator_is_seeded_and_cached(tmp_path):
    a = gen.make_inputs(str(tmp_path), "pip_join", 5)
    b = gen.make_inputs(str(tmp_path), "pip_join", 5)
    assert a.generated and not b.generated
    assert np.array_equal(a.arrays["x"], b.arrays["x"])
    c = gen.make_inputs(str(tmp_path), "pip_join", 6)
    assert c.root != a.root and not np.array_equal(a.arrays["x"], c.arrays["x"])


def test_regions_do_not_overlap_and_vertex_counts_spread():
    rings = gen.admin_regions(np.random.default_rng(1), 18, 16, np.arange(288))
    nv = sorted(len(r) for r in rings)
    assert len(rings) == 288 and nv[0] == 16 and nv[-1] == 512
    cw, ch = gen.DOMAIN[2] / 18, gen.DOMAIN[3] / 16
    for k, r in enumerate(rings):
        i, j = k % 18, k // 18
        assert r[:, 0].min() > i * cw and r[:, 0].max() < (i + 1) * cw
        assert r[:, 1].min() > j * ch and r[:, 1].max() < (j + 1) * ch


def test_vertex_counts_follow_density_rank_not_seed():
    # the densest cells get the same vertex counts whichever cells they are
    d1 = np.random.default_rng(1).permutation(288)
    d2 = np.random.default_rng(2).permutation(288)
    nv1 = np.array([len(r) for r in gen.admin_regions(np.random.default_rng(1), 18, 16, d1)])
    nv2 = np.array([len(r) for r in gen.admin_regions(np.random.default_rng(2), 18, 16, d2)])
    assert np.array_equal(nv1[np.argsort(-d1)], nv2[np.argsort(-d2)])
    assert not np.array_equal(nv1, nv2)


def test_lattice_cell_is_row_major():
    x = np.array([0.5, 71.9, 0.5, 71.9])
    y = np.array([0.5, 0.5, 63.9, 63.9])
    assert gen.lattice_cell(x, y, 18, 16).tolist() == [0, 17, 270, 287]


# -- spans --------------------------------------------------------------------------------

def test_spans_nest_and_self_time_excludes_children():
    t = tracing.Tracer()  # unbound: job ids read -1
    t.query = "q0"
    with t.span("outer"):
        time.sleep(0.02)
        for _ in range(2):
            with t.span("inner"):
                time.sleep(0.02)
    t.query = "q1"
    with t.span("outer"):
        pass
    (outer,) = t.by_query("q0", "outer")
    inner = t.by_query("q0", "inner")
    assert len(inner) == 2 and all(t.spans[i].parent == outer for i in inner)
    assert t.spans[outer].parent is None and not t.stack
    total = t.spans[outer].end - t.spans[outer].start
    kids = sum(t.spans[i].end - t.spans[i].start for i in inner)
    assert t.self_time(outer) == pytest.approx(total - kids)
    assert 0.015 < t.self_time(outer) < total - 0.03
    assert len(t.by_query("q1", "outer")) == 1
    assert [d["query"] for d in t.dump()] == ["q0", "q0", "q0", "q1"]
