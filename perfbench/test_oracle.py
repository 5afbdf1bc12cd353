"""Checks of the benchmark's oracle and pass check; no Spark needed.

    python3 -m pytest perfbench/test_oracle.py -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])


def _doc(doc_id: str, start: str, pols: list[str], corners: list[list[float]]) -> dict:
    meta = {"sensor": "S1A", "acquisition_mode": "IW", "orbit": "A", "product": "GRD",
            "start": start, "stop": start[:-2] + "25", "scene": f"{doc_id}.zip",
            "polarizations": pols, "coordinates": corners}
    return {"doc_id": doc_id, "spans": [
        {"kind": "text", "text": "filler", "media_ref": "", "offset": 0},
        {"kind": "scene_meta", "text": f"{doc_id}.zip|{json.dumps(meta)}", "media_ref": "",
         "offset": 1},
    ]}


@pytest.fixture
def docs_glob(tmp_path) -> str:
    docs = [
        # inside the diamond, in the window, VV
        _doc("a", "20150401T000000", ["VV", "VH"], [[-141, 1], [-139, 1], [-139, 2.5], [-141, 2.5]]),
        # bbox overlaps the diamond's bbox, footprint misses the diamond
        _doc("b", "20150401T000000", ["VV"], [[-179, 45], [-177, 45], [-177, 47], [-179, 47]]),
        # outside the date window
        _doc("c", "20150801T000000", ["VV"], [[-141, 1], [-139, 1], [-139, 2], [-141, 2]]),
        # HH only
        _doc("d", "20150401T000000", ["HH"], [[-141, 1], [-139, 1], [-139, 2], [-141, 2]]),
        # touches the diamond at its east vertex
        _doc("e", "20150501T000000", ["VV"], [[-100, 5], [-98, 5], [-98, 6], [-100, 6]]),
    ]
    table = pa.table({"doc_id": [d["doc_id"] for d in docs],
                      "spans": pa.array([d["spans"] for d in docs], pa.list_(SPAN))})
    pq.write_table(table, tmp_path / "docs.parquet")
    return str(tmp_path / "*.parquet")


def _select_workload(docs_glob: str) -> workloads.SceneSelect:
    wl = workloads.SceneSelect.__new__(workloads.SceneSelect)
    wl.expected = oracle.scene_select_expected(
        oracle.connect(1), docs_glob, *workloads.SELECT_WINDOW, workloads.SELECT_AOI)
    return wl


def test_flagship_oracle_selects_by_window_polarisation_and_exact_footprint(docs_glob):
    e = _select_workload(docs_glob).expected
    assert (e["scenes"], e["in_window_vv"], e["selected"]) == (5, 3, 2)
    # floor-inclusive lattices: a spans lat 1..2 x lon -141..-139, e spans
    # lat 5..6 x lon -100..-98; 2 x 3 tiles each
    assert sum(e["tiles"].values()) == 12
    assert e["tiles"]["N01W141.hgt"] == 1 and e["tiles"]["N05W100.hgt"] == 1


def test_pass_check_catches_one_dropped_row(docs_glob):
    wl = _select_workload(docs_glob)
    rows = sorted(wl.expected["tiles"].items())
    assert wl.check(rows) is None
    problem = wl.check(rows[1:])
    assert problem is not None and "missing" in problem


def test_pass_check_catches_a_changed_count(docs_glob):
    wl = _select_workload(docs_glob)
    rows = sorted(wl.expected["tiles"].items())
    rows[0] = (rows[0][0], rows[0][1] + 1)
    assert wl.check(rows) is not None


def test_join_check_catches_one_dropped_row_of_each_query():
    wl = workloads.SceneJoin.__new__(workloads.SceneJoin)
    wl.exp_join = [("d1", "aoi00"), ("d2", "aoi01")]
    wl.exp_knn = [("d1", "d2", 10.0, 1), ("d2", "d1", 10.0, 1)]
    wl.exp_concave = ["d1", "d2"]
    good = (list(wl.exp_join), list(wl.exp_knn), list(wl.exp_concave))
    assert wl.check(good) is None
    for i in range(3):
        bad = list(good)
        bad[i] = bad[i][1:]
        assert wl.check(tuple(bad)) is not None
    near = [("d1", "d2", 10.0 + 1e-9, 1), ("d2", "d1", 10.0, 1)]
    assert wl.check((good[0], near, good[2])) is None


@pytest.mark.parametrize("pts,poly,want", [
    ([[0, 0], [2, 0], [2, 2], [0, 2]], [(1, 1), (3, 1), (3, 3), (1, 3)], True),
    ([[0, 0], [2, 0], [0, 2]], [(1.2, 1.2), (3, 1.2), (3, 3), (1.2, 3)], False),
    ([[0, 0], [2, 0], [0, 2]], [(1, 1), (3, 1), (3, 3), (1, 3)], True),   # touching
    ([[0, 2], [2, 0], [0, 0]], [(1.2, 1.2), (3, 1.2), (3, 3), (1.2, 3)], False),  # order-free
    ([[5, 5], [6, 5], [6, 6]], [(0, 0), (4, 0), (0, 4)], False),
])
def test_hull_intersects_convex(pts, poly, want):
    con = oracle.connect(1)
    sql = f"SELECT {oracle.hull_intersects_convex('pts', poly)} FROM (SELECT CAST(? AS DOUBLE[][]) AS pts)"
    assert con.execute(sql, [pts]).fetchone()[0] is want


def test_tail_has_ten_passes_beyond_or_falls_back_to_the_slowest():
    assert run.tail([float(i) for i in range(1, 31)]) == (20.0, 10)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 0)
