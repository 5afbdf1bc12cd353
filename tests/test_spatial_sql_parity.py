"""The convex-AOI SAT refine checked against the numpy ``geom`` kernel.

:func:`spatial.convex_aoi_refine` is the engine's one rendering of the
separating-axis test: unrolled SQL text handed to ``F.expr`` (py4j
charges per Column node: the ~520-node SAT cost 2.9 s of Python-side
wall per query BUILD when composed Column-by-Column — BENCH/BASELINE.md
round-5 follow-up). Its rows must equal the ``geom`` kernel's over
random catalog corners, random rings and an edge-case battery (NULL
array, empty, undersized, oversized, degenerate points).

A regression in the SQL renderer (literal suffix, precedence, comment
lexing — the ``x--60.0D`` trap) shows up here as a row diff without
needing the slower scalar-oracle fuzz to hit the broken case.
"""

from __future__ import annotations

import re

import numpy as np
import pytest

from pyrosar_spark.operators.spatial import (
    SAT_MAX_VERTICES,
    _sat_steps,
    convex_aoi_refine,
)

# a lopsided convex quad and a thin triangle, both with negative
# coordinates so the minus-minus comment trap is exercised
AOI_QUAD = np.array(
    [[-61.3, -12.7], [4.25, -9.5], [6.75, 8.125], [-59.875, 3.5],
     [-61.3, -12.7]]
)
AOI_TRI = np.array([[10.0, 40.0], [11.5, 40.25], [10.75, 47.0], [10.0, 40.0]])


def _corner_rows():
    """Corner arrays of every size the refine handles, and NULL."""
    rng = np.random.default_rng(77)
    rows = []
    for _ in range(300):  # random quads around both AOIs
        cx, cy = rng.uniform(-70, 20), rng.uniform(-20, 50)
        pts = np.column_stack(
            [cx + rng.uniform(-8, 8, 4), cy + rng.uniform(-8, 8, 4)]
        )
        rows.append([{"lon": float(x), "lat": float(y)} for x, y in pts])
    # size 1..3 (padded), 5 (closed: 4 vertices), empty, NULL
    base = [{"lon": -60.0, "lat": -10.0}, {"lon": 5.0, "lat": -10.0},
            {"lon": 5.0, "lat": 5.0}, {"lon": -60.0, "lat": 5.0},
            {"lon": -60.0, "lat": -10.0}]
    for k in (1, 2, 3, 5):
        rows.append(base[:k])
    rows.append([])
    rows.append(None)
    # degenerate: all four points identical (zero-area "hull")
    rows.append([{"lon": 1.0, "lat": 1.0}] * 4)
    return [(r,) for r in rows]


def _ring_rows():
    """Closed flat rings with 2..5 distinct points + closure, plus
    degenerate and NULL shapes."""
    rng = np.random.default_rng(78)
    rows = []
    for _ in range(300):
        k = int(rng.integers(2, 6))  # 2..5 points
        cx, cy = rng.uniform(-70, 20), rng.uniform(-20, 50)
        pts = np.column_stack(
            [cx + rng.uniform(-8, 8, k), cy + rng.uniform(-8, 8, k)]
        )
        flat = np.vstack([pts, pts[:1]]).ravel()
        rows.append([float(v) for v in flat])
    rows.append([float(v) for v in (-60.0, -10.0, -60.0, -10.0)])  # point
    rows.append([])
    rows.append(None)
    # oversized: 6 points + closure -> dropped
    hexa = np.array([[0, 0], [2, 0], [3, 1], [2, 2], [0, 2], [-1, 1], [0, 0]],
                    dtype=np.float64)
    rows.append([float(v) for v in hexa.ravel()])
    return [(r,) for r in rows]


def _points(geo, row):
    if row is None:
        return None
    if geo == "corners":
        return [(p["lon"], p["lat"]) for p in row]
    return list(zip(row[0::2], row[1::2]))


def _assert_matches_geom(spark, geo, rows, aoi, sat_expected):
    df = spark.createDataFrame(
        [(i, r) for i, (r,) in enumerate(rows)],
        f"id long, {geo} "
        + ("array<struct<lon double, lat double>>" if geo == "corners" else "array<double>"),
    )
    got = sorted(r.id for r in convex_aoi_refine(df, geo, aoi).select("id").collect())
    want = [
        i for i, (r,) in enumerate(rows)
        if sat_expected(_points(geo, r), aoi, SAT_MAX_VERTICES[geo])
    ]
    assert got == want


@pytest.mark.parametrize("aoi", [AOI_QUAD, AOI_TRI], ids=["quad", "tri"])
def test_corners_sql_matches_column_rendering(spark, aoi, sat_expected):
    """The rendered SQL selects the corner rows the geom kernel selects."""
    _assert_matches_geom(spark, "corners", _corner_rows(), aoi, sat_expected)


@pytest.mark.parametrize("aoi", [AOI_QUAD, AOI_TRI], ids=["quad", "tri"])
def test_flat_ring_sql_matches_column_rendering(spark, aoi, sat_expected):
    """The rendered SQL selects the ring rows the geom kernel selects."""
    _assert_matches_geom(spark, "ring", _ring_rows(), aoi, sat_expected)


def test_non_finite_aoi_coordinate_rejected_at_render_time():
    """``infD``/``nanD`` are JVM parse errors with no useful message;
    the renderer must refuse non-finite coordinates up front."""
    bad = np.array([[0.0, 0.0], [1.0, 0.0], [np.inf, 1.0], [0.0, 0.0]])
    with pytest.raises(ValueError, match="non-finite"):
        _sat_steps("ring", bad)


def test_sql_text_has_no_comment_or_decimal_traps():
    """The rendered SQL must never contain the two lexing traps the
    renderer exists to avoid: a double literal without the D suffix
    (silently parses as DECIMAL and poisons the arithmetic) and a
    bare ``--`` (lexes as a line comment, truncating the predicate)."""
    txt = " ".join(gen + " " + cond for gen, _, cond in _sat_steps("ring", AOI_QUAD))
    assert "--" not in txt
    # every float literal carries the D suffix
    bare = [
        m.group(0)
        for m in re.finditer(r"\d+\.\d+(?:[eE][+-]?\d+)?(.)?", txt)
        if (m.group(1) or "") != "D"
    ]
    assert bare == [], f"bare double literals: {bare[:5]}"
