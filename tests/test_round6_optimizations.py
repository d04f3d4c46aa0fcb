"""Round-6 optimization parity pins.

Every round-6 change claims BIT-identical output to the code it replaced;
these tests pin the claims that are not already covered by the pipeline /
cluster / dataops parity suites:

- ``simplify_dp_batch`` vs the scalar ``simplify_dp`` (same keep-mask,
  including exact ties, duplicate vertices, degenerate zero-length spans
  and mega-ways);
- ``clean_simplify_concat`` vs the per-way ``clean_simplify_arrays`` loop
  (dedup + DP + <2-vertex drops over concatenated ways);
- the SQL-string LSH bucket expressions vs the stacked-Column originals
  (same buckets for every corpus row);
- batched ``geodesic_m`` vs per-way calls (per-element masking makes the
  values independent of co-batched elements).
"""

from __future__ import annotations

import numpy as np
import pytest

from unfused_assembly import clean_simplify_arrays

from osmwaterwayextractor_spark.functions.geodesy import geodesic_m
from osmwaterwayextractor_spark.functions.geometry import (
    simplify_dp,
    simplify_dp_batch,
)
from osmwaterwayextractor_spark.operators.geometry_ops import clean_simplify_concat

TOL = 5.0 * 0.00001


def _random_ways(seed: int, n_ways: int = 800):
    rng = np.random.default_rng(seed)
    ways = []
    for _ in range(n_ways):
        n = int(rng.integers(1, 40))
        la = np.round(rng.uniform(-60, 60, n), 5)
        lo = np.round(rng.uniform(-170, 170, n), 5)
        if n > 3 and rng.random() < 0.5:
            la[1], lo[1] = la[0], lo[0]  # consecutive duplicate
        if n > 5 and rng.random() < 0.2:
            la[:], lo[:] = la[0], lo[0]  # fully degenerate way
        ways.append((la, lo))
    # one mega-way (random walk, nearly every vertex kept by DP)
    n = 20000
    la = np.round(np.cumsum(rng.uniform(-1e-4, 1e-4, n)) + 50, 5)
    lo = np.round(np.cumsum(rng.uniform(-1e-4, 1e-4, n)) + 13, 5)
    ways.append((la, lo))
    return ways


def test_simplify_dp_batch_masks_bit_identical():
    rng = np.random.default_rng(1)
    for _ in range(500):
        n = int(rng.integers(2, 30))
        # coarse rounding makes exact distance ties likely — the tie-break
        # (first index achieving the max) must match np.argmax
        la = np.round(rng.uniform(0, 1, n), 3)
        lo = np.round(rng.uniform(0, 1, n), 3)
        m_scalar = simplify_dp(la, lo, TOL)
        m_batch = simplify_dp_batch(la, lo, np.array([0, n]), TOL)
        assert np.array_equal(m_scalar, m_batch)


def test_simplify_dp_batch_many_ways_one_call():
    ways = _random_ways(2)
    la_cat = np.concatenate([w[0] for w in ways])
    lo_cat = np.concatenate([w[1] for w in ways])
    offs = np.concatenate([[0], np.cumsum([w[0].shape[0] for w in ways])])
    mask = simplify_dp_batch(la_cat, lo_cat, offs, TOL)
    for (la, lo), s, e in zip(ways, offs[:-1], offs[1:]):
        assert np.array_equal(simplify_dp(la, lo, TOL), mask[s:e])


@pytest.mark.parametrize("simplify_on", [True, False])
def test_clean_simplify_concat_matches_per_way_loop(simplify_on):
    ways = _random_ways(3)
    ref = [clean_simplify_arrays(la.copy(), lo.copy(), simplify_on, TOL) for la, lo in ways]
    la_cat = np.concatenate([w[0] for w in ways])
    lo_cat = np.concatenate([w[1] for w in ways])
    offs = np.concatenate([[0], np.cumsum([w[0].shape[0] for w in ways])])
    la_o, lo_o, offs_o, ok = clean_simplify_concat(
        la_cat, lo_cat, offs, simplify_on, TOL
    )
    assert ok.shape[0] == len(ways)
    j = 0
    for i, r in enumerate(ref):
        if r is None:
            assert not ok[i]
            continue
        assert ok[i]
        s, e = offs_o[j], offs_o[j + 1]
        assert np.array_equal(r[0], la_o[s:e])
        assert np.array_equal(r[1], lo_o[s:e])
        j += 1
    assert j == int(ok.sum())


def test_geodesic_batching_is_element_independent():
    rng = np.random.default_rng(4)
    la1 = rng.uniform(-60, 60, 500)
    lo1 = rng.uniform(-170, 170, 500)
    la2 = la1 + rng.uniform(-0.01, 0.01, 500)
    lo2 = lo1 + rng.uniform(-0.01, 0.01, 500)
    whole = geodesic_m(la1, lo1, la2, lo2)
    # per-way-sized slices must reproduce the batched values bit-for-bit
    for s in range(0, 500, 7):
        e = min(500, s + 7)
        piece = geodesic_m(la1[s:e], lo1[s:e], la2[s:e], lo2[s:e])
        assert np.array_equal(whole[s:e], piece)
    # ...even when a near-antipodal pair rides along in the batch
    la1b = np.concatenate([la1, [0.0]])
    lo1b = np.concatenate([lo1, [0.0]])
    la2b = np.concatenate([la2, [0.5]])
    lo2b = np.concatenate([lo2, [179.99]])
    with_antipodal = geodesic_m(la1b, lo1b, la2b, lo2b)
    assert np.array_equal(with_antipodal[:500], whole)


def test_lsh_sql_buckets_match_stacked_columns(spark):
    from pyspark.sql import functions as F

    from osmwaterwayextractor_spark.operators.similarity import (
        _bucket_col,
        _hyperplanes,
    )

    rng = np.random.default_rng(5)
    rows = [(int(i), [float(x) for x in rng.standard_normal(16).astype(np.float32)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    planes = _hyperplanes(16, 4, seed=11)
    # reference: the pre-round-6 stacked-Column construction
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in p])
        dot = F.aggregate(
            F.zip_with("embedding", lit_plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(2**i).cast("long")).otherwise(0)
    ref = {r["vec_id"]: r["b"] for r in df.select("vec_id", bucket.alias("b")).collect()}
    new = {
        r["vec_id"]: r["b"]
        for r in df.select("vec_id", _bucket_col("embedding", planes).alias("b")).collect()
    }
    assert ref == new
