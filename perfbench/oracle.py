"""Independent DuckDB oracles for the benchmark workloads.

Every expected result is computed with DuckDB SQL over the same stored
parquet inputs the engine reads; no code from ``pyrosar_spark`` takes part.
The geometry test is a separating-axis test written here from scratch: a
convex footprint (the hull of a scene's points) and a convex AOI are
disjoint exactly when some AOI edge has every footprint point strictly
outside it, or some hull edge has every AOI vertex strictly outside it.
Hull edges are found by enumerating point pairs (i, j) with every point on
or left of the line i -> j, so the test needs neither a hull routine nor a
vertex order. Touching counts as intersecting, as in the engine. The
concave AOI of ``scene_join`` is an L that is exactly the union of two
rectangles, so its test is the OR of two convex ones.
"""

from __future__ import annotations

import math

import duckdb

# mirror of pyrosar_spark.operators.spatial.CELL_DEG: the kNN index cell
CELL_DEG = 1.0
# differing rows a failed comparison quotes
DIFF_SHOWN = 3

# the catalog's flat closed ring [x0, y0, x1, y1, ...] as a point list
_RING_POINTS = "[[ring[2*i-1], ring[2*i]] FOR i IN range(1, len(ring)//2 + 1)]"


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET enable_progress_bar = false")
    return con


def _sql(v) -> str:
    """A polygon coordinate: a number literal, or a SQL expression."""
    return v if isinstance(v, str) else repr(float(v))


def _hull_separates(pts: str, poly: list[tuple]) -> str:
    """SQL boolean: some hull edge of point list ``pts`` (list of
    [x, y]) has every vertex of ``poly`` strictly on its outer side."""
    n = f"len({pts})"
    a = f"{pts}[k // {n} + 1]"
    b = f"{pts}[k % {n} + 1]"

    def cross(qx: str, qy: str) -> str:
        return f"(({b}[1]-{a}[1])*(({qy})-{a}[2]) - ({b}[2]-{a}[2])*(({qx})-{a}[1]))"

    hull_edge = f"len(list_filter({pts}, p -> {cross('p[1]', 'p[2]')} < 0)) = 0"
    outside = " AND ".join(cross(_sql(x), _sql(y)) + " < 0" for x, y in poly)
    return f"len(list_filter(range(0, {n} * {n}), k -> {hull_edge} AND {outside})) > 0"


def _poly_separates(pts: str, poly: list[tuple]) -> str:
    """SQL boolean: some edge of the counter-clockwise convex polygon
    ``poly`` has every point of ``pts`` strictly on its outer side."""
    tests = []
    for (ax, ay), (bx, by) in zip(poly, poly[1:] + poly[:1]):
        ax, ay, bx, by = (_sql(v) for v in (ax, ay, bx, by))
        cross = f"(({bx})-({ax}))*(q[2]-({ay})) - (({by})-({ay}))*(q[1]-({ax}))"
        tests.append(f"len(list_filter({pts}, q -> {cross} >= 0)) = 0")
    return "(" + " OR ".join(tests) + ")"


def hull_intersects_convex(pts: str, poly: list[tuple]) -> str:
    """SQL boolean: the convex hull of ``pts`` meets the convex polygon
    ``poly`` (counter-clockwise vertices, numbers or SQL expressions)."""
    return f"(NOT {_poly_separates(pts, poly)} AND NOT ({_hull_separates(pts, poly)}))"


def hull_intersects_rect(pts: str, rect: tuple) -> str:
    """SQL boolean: the convex hull of ``pts`` meets the rectangle
    (x0, y0, x1, y1), given as numbers or SQL expressions."""
    x0, y0, x1, y1 = rect
    return hull_intersects_convex(pts, [(x0, y0), (x1, y0), (x1, y1), (x0, y1)])


def _scene_meta(docs_glob: str) -> str:
    """Scenes parsed from the documents' first ``scene_meta`` span."""
    return f"""
        WITH d AS (
            SELECT doc_id, list_filter(spans, s -> s.kind = 'scene_meta') AS m
            FROM read_parquet('{docs_glob}')
        ), j AS (
            SELECT doc_id, substr(m[1].text, strpos(m[1].text, '|') + 1) AS js
            FROM d WHERE len(m) > 0
        )
        SELECT doc_id,
               json_extract_string(js, '$.sensor') AS sensor,
               json_extract_string(js, '$.acquisition_mode') AS mode,
               json_extract_string(js, '$.orbit') AS orbit,
               json_extract_string(js, '$.product') AS product,
               json_extract_string(js, '$.start') AS start,
               json_extract_string(js, '$.stop') AS stop,
               json_extract_string(js, '$.scene') AS scene,
               CAST(json_extract(js, '$.polarizations') AS VARCHAR[]) AS pols,
               CAST(json_extract(js, '$.coordinates') AS DOUBLE[][]) AS pts
        FROM j
    """


def scene_select_expected(con, docs_glob: str, mindate: str, maxdate: str,
                          aoi: list[tuple[float, float]]) -> dict:
    """Tile counts of the flagship, plus the input shares it keeps."""
    hit = hull_intersects_convex("pts", aoi)
    base = _scene_meta(docs_glob)
    row = con.execute(f"""
        WITH s AS ({base}), v AS (SELECT * FROM s WHERE sensor IS NOT NULL)
        SELECT count(*),
               count(*) FILTER (WHERE start >= '{mindate}' AND stop <= '{maxdate}'),
               count(*) FILTER (WHERE start >= '{mindate}' AND stop <= '{maxdate}'
                                  AND list_contains(pols, 'VV')),
               count(*) FILTER (WHERE start >= '{mindate}' AND stop <= '{maxdate}'
                                  AND list_contains(pols, 'VV') AND {hit})
        FROM v
    """).fetchone()
    tiles = con.execute(f"""
        WITH s AS ({base}),
        hits AS (
            SELECT list_min([p[1] FOR p IN pts]) AS xmin, list_max([p[1] FOR p IN pts]) AS xmax,
                   list_min([p[2] FOR p IN pts]) AS ymin, list_max([p[2] FOR p IN pts]) AS ymax
            FROM s WHERE sensor IS NOT NULL AND start >= '{mindate}' AND stop <= '{maxdate}'
              AND list_contains(pols, 'VV') AND {hit}
        ), lattice AS (
            SELECT la, lo FROM hits,
              unnest(generate_series(CAST(floor(ymin) AS BIGINT), CAST(floor(ymax) AS BIGINT))) t1(la),
              unnest(generate_series(CAST(floor(xmin) AS BIGINT), CAST(floor(xmax) AS BIGINT))) t2(lo)
        )
        SELECT concat(CASE WHEN la < 0 THEN 'S' ELSE 'N' END, lpad(CAST(abs(la) AS VARCHAR), 2, '0'),
                      CASE WHEN lo < 0 THEN 'W' ELSE 'E' END, lpad(CAST(abs(lo) AS VARCHAR), 3, '0'),
                      '.hgt') AS tile_id,
               count(*) AS n
        FROM lattice GROUP BY 1
    """).fetchall()
    return {
        "scenes": row[0], "in_window": row[1], "in_window_vv": row[2], "selected": row[3],
        "tiles": {t: n for t, n in tiles},
    }


def ingest_expected(con, base_glob: str, batch_glob: str) -> dict:
    """Catalog rows and duplicate routing of inserting the batch into
    the base scenes, by the reference rules: a batch scene whose exact
    name is registered is skipped; the first arrival of a
    (product, outname_base) key by doc_id wins; later arrivals, and
    first arrivals of an already registered key, go to duplicates."""
    key = ("concat_ws('_', rpad(sensor, 4, '_'), rpad(mode, 4, '_'), orbit, start)")
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE base AS
        SELECT doc_id, product, {key} AS obase, scene FROM ({_scene_meta(base_glob)})
        WHERE sensor IS NOT NULL
    """)
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE batch AS
        SELECT doc_id, product, {key} AS obase, scene FROM ({_scene_meta(batch_glob)})
        WHERE sensor IS NOT NULL
    """)
    con.execute("""
        CREATE OR REPLACE TEMP TABLE ranked AS
        SELECT *, row_number() OVER (PARTITION BY product, obase ORDER BY doc_id) AS rk
        FROM batch WHERE scene NOT IN (SELECT scene FROM base)
    """)
    promoted = con.execute("""
        SELECT doc_id FROM ranked r WHERE rk = 1
          AND NOT EXISTS (SELECT 1 FROM base b WHERE b.product = r.product AND b.obase = r.obase)
    """).fetchall()
    dups = con.execute("""
        SELECT DISTINCT obase, scene FROM ranked r WHERE rk > 1
           OR EXISTS (SELECT 1 FROM base b WHERE b.product = r.product AND b.obase = r.obase)
    """).fetchall()
    n_base, n_batch, n_cand = con.execute(
        "SELECT (SELECT count(*) FROM base), (SELECT count(*) FROM batch), (SELECT count(*) FROM ranked)"
    ).fetchone()
    data = sorted(r[0] for r in con.execute("SELECT doc_id FROM base").fetchall())
    data = sorted(data + [r[0] for r in promoted])
    return {
        "data_doc_ids": data,
        "dups": sorted(dups),
        "skipped": n_batch - n_cand,
        "n_base": n_base,
        "n_batch": n_batch,
    }


def catalog_doc_ids(con, catalog_glob: str) -> list[str]:
    return sorted(
        r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{catalog_glob}', hive_partitioning = true)"
        ).fetchall()
    )


def spatial_join_expected(con, catalog_glob: str, aois: dict[str, tuple]) -> list[tuple]:
    """(doc_id, aoi_id) of every scene footprint meeting an AOI
    rectangle; bounding boxes are matched by a join first."""
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE s AS
        SELECT doc_id, xmin, xmax, ymin, ymax, {_RING_POINTS} AS pts
        FROM read_parquet('{catalog_glob}', hive_partitioning = true) WHERE ring IS NOT NULL
    """)
    con.execute("CREATE OR REPLACE TEMP TABLE a (aoi_id VARCHAR, x0 DOUBLE, y0 DOUBLE, x1 DOUBLE, y1 DOUBLE)")
    con.executemany("INSERT INTO a VALUES (?, ?, ?, ?, ?)", [(k, *r) for k, r in aois.items()])
    rows = con.execute(f"""
        SELECT doc_id, aoi_id FROM s JOIN a
          ON xmin <= x1 AND xmax >= x0 AND ymin <= y1 AND ymax >= y0
        WHERE {hull_intersects_rect("pts", ("x0", "y0", "x1", "y1"))}
    """).fetchall()
    return sorted(rows)


def concave_select_expected(con, catalog_glob: str, rects: list[tuple]) -> list[str]:
    """Scenes meeting an L-shaped AOI, which is exactly the union of
    the rectangles ``rects``."""
    cond = " OR ".join(hull_intersects_rect("pts", r) for r in rects)
    rows = con.execute(f"""
        WITH s AS (SELECT doc_id, {_RING_POINTS} AS pts
                   FROM read_parquet('{catalog_glob}', hive_partitioning = true)
                   WHERE ring IS NOT NULL)
        SELECT doc_id FROM s WHERE {cond}
    """).fetchall()
    return sorted(r[0] for r in rows)


def knn_expected(con, catalog_glob: str, k: int) -> list[tuple]:
    """k nearest scenes by bbox-centre haversine distance, among the
    scenes in the 3x3 cell neighbourhood of each scene's centre cell;
    ties broken on neighbour id."""
    p = repr(math.pi / 180.0)
    two_r = repr(2 * 6371.0088)
    n_lon = int(round(360 / CELL_DEG))
    half_lat = int(round(90 / CELL_DEG))
    half_lon = int(round(180 / CELL_DEG))
    s = repr(float(CELL_DEG))
    sl = f"sin((n_cy - q_cy)*{p}/2)"
    so = f"sin((n_cx - q_cx)*{p}/2)"
    rows = con.execute(f"""
        WITH c AS (SELECT doc_id, (xmin + xmax)/2 AS cx, (ymin + ymax)/2 AS cy
                   FROM read_parquet('{catalog_glob}', hive_partitioning = true)),
        home AS (SELECT doc_id, cx, cy, CAST(floor(cy / {s}) AS BIGINT) AS la,
                        CAST(floor(cx / {s}) AS BIGINT) AS lo FROM c),
        probe AS (SELECT doc_id AS q_id, cx AS q_cx, cy AS q_cy,
                         (greatest(least(la + dy, {half_lat - 1}), {-half_lat}) + {half_lat}) * {n_lon}
                         + (((lo + dx + {half_lon}) % {n_lon}) + {n_lon}) % {n_lon} AS cell
                  FROM home, unnest([-1, 0, 1]) t1(dy), unnest([-1, 0, 1]) t2(dx)),
        idx AS (SELECT doc_id AS n_id, cx AS n_cx, cy AS n_cy,
                       (la + {half_lat}) * {n_lon} + (((lo + {half_lon}) % {n_lon}) + {n_lon}) % {n_lon} AS cell
                FROM home),
        cand AS (SELECT DISTINCT q_id, n_id, q_cx, q_cy, n_cx, n_cy
                 FROM probe JOIN idx USING (cell) WHERE q_id <> n_id),
        d AS (SELECT q_id, n_id, {two_r} * asin(sqrt({sl}*{sl}
                     + cos(q_cy*{p})*cos(n_cy*{p})*{so}*{so})) AS dist FROM cand)
        SELECT q_id, n_id, dist, rank FROM (
            SELECT q_id, n_id, dist,
                   row_number() OVER (PARTITION BY q_id ORDER BY dist, n_id) AS rank
            FROM d) WHERE rank <= {int(k)}
    """).fetchall()
    return sorted(rows)


def raw_doc_bytes(con, docs_glob: str) -> int:
    """Uncompressed bytes of the documents: ids plus every span field."""
    return int(con.execute(f"""
        SELECT sum(strlen(doc_id) + coalesce(list_sum(
                   [strlen(s.kind) + strlen(s.text)
                    + strlen(s.media_ref) + 4 FOR s IN spans]), 0))
        FROM read_parquet('{docs_glob}')
    """).fetchone()[0])


# -- comparisons -------------------------------------------------------------


def diff_rows(got: list, want: list) -> str | None:
    """``None`` when the sorted row lists are equal, else a short
    description of the first differences."""
    got_s, want_s = sorted(got), sorted(want)
    if got_s == want_s:
        return None
    missing = [r for r in want_s if r not in set(got_s)][:DIFF_SHOWN]
    extra = [r for r in got_s if r not in set(want_s)][:DIFF_SHOWN]
    return f"{len(got_s)} rows vs {len(want_s)} expected; missing {missing}, extra {extra}"


def diff_knn(got: list[tuple], want: list[tuple], tol: float = 1e-6) -> str | None:
    """kNN rows (q_id, n_id, dist_km, rank): ids and ranks exact,
    distances within ``tol`` km (the two engines' sin/asin differ in
    the last bits)."""
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)} expected"
    for g, w in zip(sorted(got, key=lambda r: (r[0], r[3])), sorted(want, key=lambda r: (r[0], r[3]))):
        if g[0] != w[0] or g[1] != w[1] or g[3] != w[3] or abs(g[2] - w[2]) > tol:
            return f"row {g} vs expected {w}"
    return None
