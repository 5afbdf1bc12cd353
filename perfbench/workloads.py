"""The benchmark workloads.

Each workload builds its inputs from the seed at set-up, computes the
expected output with the DuckDB oracle, and then offers:

- ``full_pass()``: one untraced pass, ending in the action a user runs;
- ``check(result)``: ``None`` when the pass output matches the oracle,
  else a description of the mismatch;
- ``chain()``: the cumulative prefixes of the pass for the traced run,
  each a ``Step`` that builds a DataFrame to be written to the noop sink;
- ``setup_chain()``: prefixes of the set-up work, which a traced run
  times once after warm-up;
- ``layer_metrics(steps)``: per-layer numbers from one traced pass.

Only public functions of ``pyrosar_spark`` are called.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Callable

import engine
import oracle
from spans import seconds

# flagship select: a date window that keeps about a third of the year of
# generated acquisitions, VV polarisation, and a convex AOI over the
# dense low-track longitudes: a diamond, so that about half of what
# passes its bounding box is left for the exact refine to reject
SELECT_WINDOW = ("20150301T000000", "20150630T235959")
SELECT_AOI = [(-140.0, -40.0), (-100.0, 5.0), (-140.0, 50.0), (-180.0, 5.0)]
SELECT_COLUMNS = ["doc_id", "start", "stop", "vv", "corners", "xmin", "xmax", "ymin", "ymax"]


def _ring_wkt(points: list[tuple[float, float]]) -> str:
    return "POLYGON((" + ", ".join(f"{x} {y}" for x, y in points + points[:1]) + "))"


def _rect_wkt(x0, y0, x1, y1) -> str:
    return _ring_wkt([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])


def _dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


@dataclass
class Step:
    """One traced prefix: ``name`` is ``<layer>.<step>``; its self time
    is its duration minus that of step ``base`` (the part it repeats)."""
    name: str
    build: Callable
    base: str | None = None


class Workload:
    name = ""
    docs_in = 0  # input docs (catalog scenes) one pass covers

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        # results of the traced set-up chain, by step name
        self.setup_steps: dict[str, dict] = {}

    def setup_chain(self) -> list[Step]:
        """Prefixes of the work done at set-up, traced once warm-up is
        over (cold, they gave negative self times); none by default."""
        return []

    def _path(self, name: str) -> str:
        return os.path.join(self.ctx.data_dir, name)

    def _generate(self, n: int, path: str) -> None:
        from pyrosar_spark.datagen import generate_documents

        # no golden docs: they are built from Python rows, which starts
        # Python workers, and scene_select needs none otherwise
        with self.ctx.setup_span("datagen.generate"):
            generate_documents(
                self.spark, n, seed=self.ctx.seed, include_golden=False,
                n_partitions=self.ctx.cpus,
            ).write.mode("overwrite").parquet(path)


class SceneSelect(Workload):
    """Stored docs -> parse (deferred geometry, pruned columns) -> date,
    VV and convex-AOI select -> HGT tiles -> per-tile counts."""

    name = "scene_select"
    n_docs = 10_000

    def prepare(self) -> None:
        self.docs = self._path("docs")
        self._generate(self.n_docs, self.docs)
        glob = self.docs + "/*.parquet"
        with self.ctx.setup_span("oracle.expected"):
            self.expected = oracle.scene_select_expected(
                self.ctx.con, glob, *SELECT_WINDOW, SELECT_AOI)
            raw = oracle.raw_doc_bytes(self.ctx.con, glob)
        self.docs_in = self.expected["scenes"]
        e = self.expected
        self.inputs = {
            "docs": e["scenes"], "raw_doc_bytes": raw,
            "window_share": e["in_window"] / e["scenes"],
            "window_vv_share": e["in_window_vv"] / e["scenes"],
            "select_share": e["selected"] / e["scenes"], "tiles": len(e["tiles"]),
        }

    def _scenes(self):
        from pyrosar_spark.operators.ingest import docs_to_scenes

        docs = self.spark.read.parquet(self.docs)
        return docs_to_scenes(docs, with_geometry="defer", columns=SELECT_COLUMNS)

    def _selected(self):
        from pyrosar_spark.operators.select import select

        return select(
            self._scenes(), mindate=SELECT_WINDOW[0], maxdate=SELECT_WINDOW[1],
            polarizations=["VV"], aoi_wkt=_ring_wkt(SELECT_AOI),
            return_value=["doc_id", "xmin", "xmax", "ymin", "ymax"],
        )

    def _tiles(self):
        from pyrosar_spark.operators.tiles import assign_hgt

        return assign_hgt(self._selected())

    def full_pass(self):
        return self._tiles().groupBy("tile_id").count().collect()

    def check(self, rows) -> str | None:
        return oracle.diff_rows([(r[0], r[1]) for r in rows],
                                list(self.expected["tiles"].items()))

    def chain(self) -> list[Step]:
        return [
            Step("docs.scan", lambda: self.spark.read.parquet(self.docs)),
            Step("ingest.parse", self._scenes, "docs.scan"),
            Step("select.refine", self._selected, "ingest.parse"),
            Step("tiles.assign", self._tiles, "select.refine"),
        ]

    def layer_metrics(self, s: dict) -> dict[str, float]:
        sel = s["select.refine"]
        # rows reaching the exact refine: the input of the stacked SAT
        # filters over the exploded corners
        rows_in = engine.input_rows_of(sel["execs"], "Filter", "corners")
        rows_out = sel["rows_out"]
        return {
            "docs.scan_s": s["docs.scan"]["seconds"],
            "ingest.parse_s": s["ingest.parse"]["self_s"],
            "ingest.scenes_out": s["ingest.parse"]["rows_out"],
            "select.self_s": sel["self_s"],
            "select.rows_in": rows_in,
            "select.rows_out": rows_out,
            "select.hit_ratio": rows_out / rows_in if rows_in else 0.0,
            "select.codegen_fallbacks": sel["codegen_fallbacks"],
            "tiles.self_s": s["tiles.assign"]["self_s"],
            "tiles.per_scene": s["tiles.assign"]["rows_out"] / rows_out if rows_out else 0.0,
        }


class SceneJoin(Workload):
    """A stored catalog, built at set-up through the full write path
    (parse with hull, duplicate routing of a second batch, partitioned
    write), queried by a many-AOI spatial join, a kNN self-join and a
    small concave-AOI select."""

    name = "scene_join"
    # the catalog holds one month of acquisitions (31 day partitions):
    # about 1,200 of the generated documents
    n_generated = 14_000
    month = "201503"
    # shares of the month's scenes: the rest is the base catalog
    new_share = 0.2
    rereg_share = 0.08    # exact re-registrations of base scenes (skipped)
    renamed_share = 0.05  # same key as a base scene, new name (duplicates)
    n_aois = 32
    knn_k = 3

    def prepare(self) -> None:
        gen = self._path("gen")
        self._generate(self.n_generated, gen)
        self.base_docs, self.batch_docs = self._path("base"), self._path("batch")
        with self.ctx.setup_span("inputs.batch"):
            self._split_batch(gen + "/*.parquet")
        self.catalog = self._path("catalog")
        self._build_catalog()
        glob = self.catalog + "/*/*.parquet"
        con = self.ctx.con
        rng = random.Random(self.ctx.seed)
        self.aois = {}
        for i in range(self.n_aois):
            w = rng.choices([0.5, 2.0, 8.0, 30.0], weights=[4, 3, 2, 1])[0]
            x0 = round(rng.uniform(-180.0, 180.0 - w), 3)
            y0 = round(rng.uniform(-60.0, 60.0 - w), 3)
            self.aois[f"aoi{i:02d}"] = (x0, y0, x0 + w, y0 + w)
        x0, y0 = round(rng.uniform(-175.0, -100.0), 3), round(rng.uniform(-40.0, 40.0), 3)
        # an L of two 3x1 degree arms: concave, and exactly the union of
        # the two rectangles the oracle tests
        self.concave_rects = [(x0, y0, x0 + 3, y0 + 1), (x0, y0, x0 + 1, y0 + 3)]
        self.concave_wkt = _ring_wkt([(x0, y0), (x0 + 3, y0), (x0 + 3, y0 + 1),
                                      (x0 + 1, y0 + 1), (x0 + 1, y0 + 3), (x0, y0 + 3)])
        with self.ctx.setup_span("oracle.expected"):
            self.exp_join = oracle.spatial_join_expected(con, glob, self.aois)
            self.exp_knn = oracle.knn_expected(con, glob, self.knn_k)
            self.exp_concave = oracle.concave_select_expected(con, glob, self.concave_rects)
        files, stored = _dir_bytes(self.catalog)
        self.docs_in = len(self.catalog_ids)
        sizes = [r[2] - r[0] for r in self.aois.values()]
        self.inputs = {
            "catalog_scenes": self.docs_in, "raw_doc_bytes": self.raw_bytes,
            "catalog_files": files, "catalog_bytes": stored,
            "max_scenes_per_cell": self.max_per_cell,
            "aois": len(self.aois), "aoi_sizes_deg": sorted(set(sizes)),
            "join_pairs": len(self.exp_join), "concave_hits": len(self.exp_concave),
            "batch": self.batch_counts,
        }

    def _split_batch(self, gen_glob: str) -> None:
        """Base docs, and a batch mixing new docs, verbatim copies of
        base docs and base docs under a new scene name, all from one
        month of the generated acquisitions, in a seeded order."""
        con = self.ctx.con
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE month_docs AS
            SELECT doc_id, spans,
                   row_number() OVER (ORDER BY md5(doc_id || '-{int(self.ctx.seed)}')) AS r
            FROM read_parquet('{gen_glob}')
            WHERE json_extract_string(
                      substr(list_filter(spans, s -> s.kind = 'scene_meta')[1].text,
                             strpos(list_filter(spans, s -> s.kind = 'scene_meta')[1].text, '|') + 1),
                      '$.start') LIKE '{self.month}%'
        """)
        m = con.execute("SELECT count(*) FROM month_docs").fetchone()[0]
        n_base = m - round(m * self.new_share)
        n_rereg, n_renamed = round(m * self.rereg_share), round(m * self.renamed_share)
        self.batch_counts = {"base": n_base, "new": m - n_base,
                             "reregistered": n_rereg, "renamed": n_renamed}
        renamed_spans = (
            "list_transform(spans, s -> CASE WHEN s.kind = 'scene_meta' THEN "
            "struct_pack(kind := s.kind, text := replace(s.text, '.zip', '_R.zip'), "
            "media_ref := s.media_ref, \"offset\" := s.\"offset\") ELSE s END)"
        )
        for path, query in (
            (self.base_docs, f"SELECT doc_id, spans FROM month_docs WHERE r <= {n_base}"),
            (self.batch_docs, f"""
                SELECT 'new_' || substr(doc_id, 5) AS doc_id, spans FROM month_docs WHERE r > {n_base}
                UNION ALL
                SELECT doc_id, spans FROM month_docs WHERE r <= {n_rereg}
                UNION ALL
                SELECT 'dup_' || substr(doc_id, 5), {renamed_spans} FROM month_docs
                WHERE r > {n_rereg} AND r <= {n_rereg + n_renamed}
            """),
        ):
            con.execute(f"COPY ({query}) TO '{path}' (FORMAT PARQUET, PER_THREAD_OUTPUT true)")
        self.raw_bytes = sum(
            oracle.raw_doc_bytes(con, p + "/*.parquet") for p in (self.base_docs, self.batch_docs))

    def _build_catalog(self) -> None:
        """Parse both batches, route the second into the first, write the
        catalog, and check it against the oracle."""
        from pyrosar_spark.operators.ingest import insert_scenes
        from pyrosar_spark.sources.catalog import write_scenes

        ctx = self.ctx
        # cached, so that collecting the duplicates after the write does
        # not parse both batches again
        base, batch = (s.cache() for s in self._scenes(True))
        data, dups = insert_scenes(batch, base)
        with ctx.setup_span("catalog.write") as span:
            write_scenes(data, self.catalog)
        self.write_s = seconds(span)
        dup_rows = dups.collect()
        base.unpersist()
        batch.unpersist()
        exp = oracle.ingest_expected(ctx.con, self.base_docs + "/*.parquet",
                                     self.batch_docs + "/*.parquet")
        self.catalog_ids = oracle.catalog_doc_ids(ctx.con, self.catalog + "/*/*.parquet")
        problems = [
            oracle.diff_rows(self.catalog_ids, exp["data_doc_ids"]),
            oracle.diff_rows([(r["outname_base"], r["scene"]) for r in dup_rows], exp["dups"]),
        ]
        bad = [p for p in problems if p]
        if bad:
            raise RuntimeError(f"catalog build does not match the oracle: {bad}")
        self.dups_routed = len(dup_rows)
        self.skipped = exp["n_batch"] - (len(self.catalog_ids) - exp["n_base"]) - len(dup_rows)
        self.max_per_cell = ctx.con.execute(f"""
            SELECT max(n) FROM (SELECT count(*) AS n FROM read_parquet('{self.catalog}/*/*.parquet',
                hive_partitioning = true) GROUP BY floor((ymin + ymax) / 2), floor((xmin + xmax) / 2))
        """).fetchone()[0]

    def _scenes(self, geometry):
        from pyrosar_spark.operators.ingest import docs_to_scenes

        read = self.spark.read.parquet
        return (docs_to_scenes(read(self.base_docs), with_geometry=geometry),
                docs_to_scenes(read(self.batch_docs), with_geometry=geometry))

    def _both(self, geometry):
        a, b = self._scenes(geometry)
        return a.unionByName(b)

    def _routed(self):
        from pyrosar_spark.operators.ingest import insert_scenes

        a, b = self._scenes(True)
        return insert_scenes(b, a)

    def setup_chain(self) -> list[Step]:
        return [
            Step("ingest.parse", lambda: self._both(False)),
            Step("ingest.hull", lambda: self._both(True), "ingest.parse"),
            Step("ingest.route", lambda: self._routed()[0], "ingest.hull"),
        ]

    def _catalog(self):
        from pyrosar_spark.sources.catalog import read_scenes

        return read_scenes(self.spark, self.catalog)

    def _join(self):
        from pyrosar_spark.operators.spatial import aoi_frame, spatial_join

        aois = aoi_frame(self.spark, [(k, _rect_wkt(*r)) for k, r in self.aois.items()])
        return spatial_join(self._catalog(), aois)

    def _knn(self):
        from pyrosar_spark.operators.spatial import knn_scenes

        return knn_scenes(self._catalog(), k=self.knn_k)

    def _concave(self):
        from pyrosar_spark.operators.select import select

        return select(self._catalog(), aoi_wkt=self.concave_wkt, return_value=["doc_id"])

    def full_pass(self):
        return (
            [tuple(r) for r in self._join().select("doc_id", "aoi_id").collect()],
            [tuple(r) for r in self._knn().select("q_id", "n_id", "dist_km", "rank").collect()],
            [r[0] for r in self._concave().collect()],
        )

    def check(self, result) -> str | None:
        join, knn, concave = result
        for what, problem in (
            ("spatial_join", oracle.diff_rows(join, self.exp_join)),
            ("knn_scenes", oracle.diff_knn(knn, self.exp_knn)),
            ("concave select", oracle.diff_rows(concave, self.exp_concave)),
        ):
            if problem:
                return f"{what}: {problem}"
        return None

    def chain(self) -> list[Step]:
        return [
            Step("catalog.scan", self._catalog),
            Step("spatial.join", self._join, "catalog.scan"),
            Step("spatial.knn", self._knn, "catalog.scan"),
            Step("spatial.concave_select", self._concave, "catalog.scan"),
        ]

    def layer_metrics(self, s: dict) -> dict[str, float]:
        # the join evaluates the exact refine inside its condition, so
        # Spark counts no cell matches; the candidates are the scene
        # cover-cell rows probing the AOI cells
        cand = engine.join_input_rows(s["spatial.join"]["execs"], "Join", "Scan parquet")
        pairs = s["spatial.join"]["rows_out"]
        out = {
            "catalog.scan_s": s["catalog.scan"]["seconds"],
            "catalog.files_read": engine.node_metric(
                s["catalog.scan"]["execs"], "Scan", "number of files read"),
            "spatial.join_s": s["spatial.join"]["self_s"],
            "spatial.candidates": cand,
            "spatial.pairs_out": pairs,
            "spatial.refine_hit_ratio": pairs / cand if cand else 0.0,
            "spatial.knn_s": s["spatial.knn"]["self_s"],
            "spatial.knn_candidates": engine.node_metric(
                s["spatial.knn"]["execs"], "Join", "number of output rows"),
            "spatial.concave_select_s": s["spatial.concave_select"]["self_s"],
            "catalog.stored_bytes_per_doc_byte": self.inputs["catalog_bytes"] / self.raw_bytes,
        }
        b = self.setup_steps
        if b:
            out.update({
                "ingest.parse_s": b["ingest.parse"]["seconds"],
                "ingest.scenes_out": b["ingest.parse"]["rows_out"],
                "ingest.hull_s": b["ingest.hull"]["self_s"],
                "ingest.route_s": b["ingest.route"]["self_s"],
                "ingest.dups_routed": self.dups_routed,
                "ingest.skipped": self.skipped,
                "catalog.write_s": self.write_s,
                "catalog.files_written": self.inputs["catalog_files"],
                "catalog.bytes_written": self.inputs["catalog_bytes"],
            })
        return out


WORKLOADS = {w.name: w for w in (SceneSelect, SceneJoin)}
