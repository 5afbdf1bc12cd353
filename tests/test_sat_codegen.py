"""The convex-AOI SAT refine must run compiled (ROADMAP aim 3: no silent
degraded modes).

Spark falls back to interpreted evaluation when whole-stage codegen
fails to compile, and logs it only as a warning; the SAT refine ran that
way for two rounds unnoticed. These tests run ``select`` with a convex
AOI under ``spark.sql.codegen.fallback=false``, so a compile failure
raises, and assert that every Filter of the executed plan sits inside a
WholeStageCodegen stage (an operator with more output fields than
``spark.sql.codegen.maxFields`` is silently left out of codegen without
any compile). The selected rows must equal the numpy ``geom`` kernel's.
"""

from __future__ import annotations

import contextlib
import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrosar_spark import geom
from pyrosar_spark.operators.select import select
from pyrosar_spark.operators.spatial import SAT_MAX_VERTICES

AOI = np.array([[-140.0, -40.0], [-100.0, 5.0], [-140.0, 50.0],
                [-180.0, 5.0], [-140.0, -40.0]])
AOI_WKT = geom.ring_to_wkt(AOI)
AOI_BBOX = (-180.0, -100.0, -40.0, 50.0)  # xmin, xmax, ymin, ymax


@contextlib.contextmanager
def _codegen_fallback_off(spark):
    # session-global conf: restore it whatever happens
    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _filters_codegen(df) -> list[bool]:
    """For each Filter of the executed plan: is it inside a
    WholeStageCodegen stage (not behind an InputAdapter)?"""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    out = []

    def walk(node, in_stage):
        name = node.getClass().getSimpleName()
        if name == "WholeStageCodegenExec":
            in_stage = True
        elif name == "InputAdapter":
            in_stage = False
        elif name == "FilterExec":
            out.append(in_stage)
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), in_stage)

    walk(plan, False)
    return out


def _corner_cases(rng) -> list:
    rect = [(-150.0, -10.0), (-120.0, -10.0), (-120.0, 20.0), (-150.0, 20.0)]
    cases = [None, [], rect[:1], rect[:2], rect[:3], rect + rect[:1],
             [(-140.0, 5.0)] * 4,
             [(-150.0, -10.0), (-120.0, -10.0), (-110.0, 5.0), (-120.0, 20.0),
              (-150.0, 20.0)]]  # 5 distinct corners: over the cap
    for _ in range(120):
        cx, cy = rng.uniform(-190, -90), rng.uniform(-50, 60)
        cases.append([(float(cx + dx), float(cy + dy))
                      for dx, dy in rng.uniform(-8, 8, (4, 2))])
    return cases


def _ring_cases(rng) -> list:
    """Closed convex rings of 2 to 6 points (1 to 5 vertices), as the
    catalog's hull rings are, plus NULL, empty and over-size rings."""
    cases = [None, [], [(-140.0, 5.0), (-140.0, 5.0)]]
    a = np.linspace(0, 2 * np.pi, 6, endpoint=False)
    cases.append([(float(-140 + 9 * np.cos(t)), float(5 + 9 * np.sin(t)))
                  for t in np.append(a, a[0])])  # 6 vertices: over the cap
    for _ in range(120):
        k = int(rng.integers(1, 6))
        cx, cy = rng.uniform(-190, -90), rng.uniform(-50, 60)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        r = rng.uniform(1, 8)
        pts = [(float(cx + r * np.cos(t)), float(cy + r * np.sin(t))) for t in ang]
        cases.append(pts + pts[:1])
    return cases


def _bbox(points):
    if not points:  # reaches the refine: the AOI's own bbox
        return AOI_BBOX
    xs, ys = [p[0] for p in points], [p[1] for p in points]
    return min(xs), max(xs), min(ys), max(ys)


def _run(spark, df, cases, max_vertices, sat_expected):
    with _codegen_fallback_off(spark):
        sel = select(df, aoi_wkt=AOI_WKT, return_value=["doc_id"])
        got = sorted(r.doc_id for r in sel.collect())
        filters = _filters_codegen(sel)
    want = [i for i, pts in enumerate(cases) if sat_expected(pts, AOI, max_vertices)]
    assert got == want
    assert filters and all(filters), f"Filter outside codegen: {filters}"


def test_corners_refine_compiles_and_matches_geom(spark, sat_expected):
    """A deferred-geometry frame: ``corners`` is computed by a JSON
    parse in the plan, as ``docs_to_scenes(with_geometry='defer')``
    leaves it."""
    cases = _corner_cases(np.random.default_rng(11))
    rows = [
        (i, None if pts is None else json.dumps([{"lon": x, "lat": y} for x, y in pts]),
         *_bbox(pts))
        for i, pts in enumerate(cases)
    ]
    raw = spark.createDataFrame(
        rows, "doc_id long, js string, xmin double, xmax double, ymin double, ymax double"
    )
    df = raw.withColumn(
        "corners", F.from_json("js", "array<struct<lon:double,lat:double>>")
    ).drop("js")
    _run(spark, df, cases, SAT_MAX_VERTICES["corners"], sat_expected)


def test_ring_refine_compiles_and_matches_geom(spark, sat_expected):
    cases = _ring_cases(np.random.default_rng(12))
    rows = [
        (i, None if pts is None else [v for p in pts for v in p], *_bbox(pts))
        for i, pts in enumerate(cases)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, ring array<double>, xmin double, xmax double, ymin double, ymax double",
    )
    _run(spark, df, cases, SAT_MAX_VERTICES["ring"], sat_expected)


@pytest.mark.parametrize("n_vertices", [8, 32])
def test_many_vertex_aoi_compiles(spark, scenes, n_vertices):
    """A convex AOI with many vertices multiplies the SAT's axes; the
    refine must still compile and agree with the Arrow kernel."""
    t = np.linspace(0, 2 * np.pi, n_vertices, endpoint=False)
    ring = np.column_stack([20 * np.cos(t), 20 * np.sin(t)])
    wkt = geom.ring_to_wkt(np.vstack([ring, ring[:1]]))
    with _codegen_fallback_off(spark):
        sel = select(scenes, aoi_wkt=wkt, return_value=["doc_id"])
        jvm = sorted(r.doc_id for r in sel.collect())
        filters = _filters_codegen(sel)
    arrow = sorted(
        r.doc_id
        for r in select(scenes, aoi_wkt=wkt, return_value=["doc_id"],
                        aoi_refine="arrow").collect()
    )
    assert jvm == arrow and jvm
    assert filters and all(filters)
