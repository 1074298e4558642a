"""Round-6 optimization regression tests: internals changed for speed
must stay bit-identical to the slow paths they replace."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401  (fixture re-export)


def _refine_rows(spark, rows):
    """Evaluate BOTH the full pip_refine_rect_col (with the rect fast path)
    and the raw general ray cast on (px, py, ring) rows."""
    from gfp_gdal_spark.functions.spatial import (
        pip_refine_rect_col,
        rect_bounds_col,
        ring_crossings_col,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "i": range(len(rows)),
                "px": [r[0] for r in rows],
                "py": [r[1] for r in rows],
                "ring": [r[2] for r in rows],
            }
        ),
        schema="i long, px double, py double, ring array<array<double>>",
    )
    df = df.withColumn("_pr", rect_bounds_col(F.col("ring")))  # as pip_join does
    out = df.select(
        "i",
        pip_refine_rect_col(
            F.col("px"), F.col("py"), F.col("ring"), F.col("_pr")
        ).alias("fast"),
        ring_crossings_col(F.col("px"), F.col("py"), F.col("ring")).alias("slow"),
    ).toPandas()
    return out.sort_values("i")


def test_rect_fast_path_bit_identical_to_ray_cast(spark):  # noqa: F811
    """The axis-aligned-rect special case in pip_refine_rect_col must agree
    with the general ray cast on EVERY input — random rects, points on
    every edge/corner (the half-open boundary), degenerate rects, CW
    winding, and non-rectangular rings (which must take the slow path
    and trivially agree)."""
    rng = np.random.default_rng(606)
    rows = []
    for _ in range(200):
        x0, y0 = rng.uniform(-170, 160), rng.uniform(-80, 70)
        w, h = rng.uniform(0.0, 5.0), rng.uniform(0.0, 5.0)
        x1, y1 = x0 + w, y0 + h
        ccw = [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]
        cw = [[x0, y0], [x0, y1], [x1, y1], [x1, y0]]
        # interior / exterior / exact-boundary probes
        probes = [
            (rng.uniform(x0, x1), rng.uniform(y0, y1)),
            (x0 - 1.0, y0 + h / 2),
            (x0, y0), (x1, y1), (x0, y1), (x1, y0),          # corners
            (x0, y0 + h / 2), (x1, y0 + h / 2),               # vertical edges
            ((x0 + x1) / 2, y0), ((x0 + x1) / 2, y1),         # horizontal edges
        ]
        for px, py in probes:
            rows.append((float(px), float(py), ccw))
            rows.append((float(px), float(py), cw))
    # degenerate: zero width / zero height
    rows.append((5.0, 5.0, [[5.0, 4.0], [5.0, 4.0], [5.0, 6.0], [5.0, 6.0]]))
    rows.append((5.0, 5.0, [[4.0, 5.0], [6.0, 5.0], [6.0, 5.0], [4.0, 5.0]]))
    # non-rect rings: triangle and a convex pentagon around a probe
    rows.append((0.1, 0.1, [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]]))
    for k in (5, 6):
        ang = 0.3 + np.arange(k) * 2 * np.pi / k
        ring = [[float(2 * np.cos(a)), float(2 * np.sin(a))] for a in ang]
        rows.append((0.0, 0.0, ring))
        rows.append((3.0, 0.0, ring))
    out = _refine_rows(spark, rows)
    mism = out[out["fast"] != out["slow"]]
    assert mism.empty, f"fast path diverges from ray cast on {len(mism)} rows:\n{mism.head()}"


def test_knn_small_query_shortcut_matches_ring_path(spark):  # noqa: F811
    """knn_join's small-query brute-force shortcut must return exactly
    the ring path's rows (both are exact; same tie order)."""
    from gfp_gdal_spark.operators.joins import knn_join

    rng = np.random.default_rng(77)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": range(4000),
                "lon_c": rng.uniform(10, 20, 4000),
                "lat_c": rng.uniform(40, 48, 4000),
            }
        )
    )
    q = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": range(8),
                "q_lon": rng.uniform(11, 19, 8),
                "q_lat": rng.uniform(41, 47, 8),
            }
        )
    )
    # auto path (fires the shortcut: 8 x 4000 << budget)
    fast = {
        (r["query_id"], r["point_id"], r["rank"])
        for r in knn_join(q, pts, k=4, res="auto", kring=2).collect()
    }
    # explicit res forces the ring machinery
    slow = {
        (r["query_id"], r["point_id"], r["rank"])
        for r in knn_join(q, pts, k=4, res=6, kring=2).collect()
    }
    assert fast == slow and len(fast) == 8 * 4


def test_knn_join_counts_query_side_once(spark, monkeypatch):  # noqa: F811
    """Above the brute-force budget (|queries| x |points| > 2e8) the
    auto+exact path counts the query side once: the shortcut's count
    is reused as the ring rounds' starting remainder. Rows match the
    explicit-res ring path (both exact)."""
    from gfp_gdal_spark.operators.joins import knn_join

    rng = np.random.default_rng(5)
    n = 14_500  # n * n just over the 2e8 candidate budget
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": range(n),
                "lon_c": rng.uniform(10, 12, n),
                "lat_c": rng.uniform(40, 42, n),
            }
        )
    )
    q = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": range(n),
                "q_lon": rng.uniform(10, 12, n),
                "q_lat": rng.uniform(40, 42, n),
            }
        )
    )
    calls = []
    cls = type(q)  # the concrete (classic) DataFrame class
    real_count = cls.count

    def count(self):
        calls.append(self is q)
        return real_count(self)

    monkeypatch.setattr(cls, "count", count)
    auto = {
        (r["query_id"], r["point_id"], r["rank"])
        for r in knn_join(q, pts, k=2, res="auto", kring=2).collect()
    }
    assert sum(calls) == 1, calls
    ring = {
        (r["query_id"], r["point_id"], r["rank"])
        for r in knn_join(q, pts, k=2, res=4, kring=2).collect()
    }
    assert auto == ring and len(auto) == n * 2
