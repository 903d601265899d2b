"""The benchmark workloads, as batch jobs through the package's public API.

Each workload builds its inputs from the seed at set-up (``inputs.py``),
takes the expected output from its oracle (``oracles.py``, computed in
another process before this driver started), and exposes:

* ``run()`` — one closed-loop batch job; returns what ``check`` needs;
* ``check(out)`` — compares the output with the oracle. It is called after
  the clock has stopped, so reading the output back is never timed;
* ``prefixes()`` — the pipeline cut after each layer, for the traced run:
  each prefix is written into the ``noop`` sink, and a layer's self time
  is its prefix time minus the previous prefix time;
* ``layer_metrics(...)`` / ``kernel_metrics()`` — the per-layer numbers
  this workload exercises.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import inputs


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _points(spark, n):
    from pure_python_geospatial_export_spark.functions.points import (
        with_point,
    )
    from pure_python_geospatial_export_spark.sources.pages import synth_pages

    pages = synth_pages(spark, n)
    return pages, with_point(pages)


def _scan_amplification(sql: list, n: int) -> float:
    """Rows out of the pages generator's Range node per input row."""
    from sparkstats import node_rows

    return node_rows(sql, lambda name: name == "Range") / n


class Workload:
    name = ""
    input_rows = 0

    def __init__(self, spark, seed: int, work: str, expected: dict):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.expected = expected

    def prepare(self) -> dict:
        """Inputs, caching and dimension prep; returns set-up details."""
        return {}

    def run(self):
        raise NotImplementedError

    def check(self, out) -> bool:
        raise NotImplementedError

    def prefixes(self) -> list:
        raise NotImplementedError

    def layer_metrics(self, self_s: dict, sql: list, out) -> dict:
        return {}

    def kernel_metrics(self) -> dict:
        return {}


class PagesJoin(Workload):
    """pages -> with_point -> broadcast spatial_join (res 8, 18 rects)
    -> per-(polygon, cell) count."""

    name = "pages_join"

    def prepare(self):
        import __spark_entry__ as em
        from pure_python_geospatial_export_spark.sources.polygons import (
            load_rings,
            polygon_cells,
        )

        self.input_rows = inputs.pages_n(inputs.PAGES_JOIN_N, self.seed)
        self.layer = em._layer_df(self.spark)
        t = time.perf_counter()
        self.rings = load_rings(self.layer)
        self.cover = polygon_cells(self.spark, self.rings, inputs.JOIN_RES)
        cover_s = time.perf_counter() - t
        self.cover_rows = [
            (int(r["polygon_id"]), int(r["cell_id"]), bool(r["is_full"]))
            for r in self.cover.collect()
        ]
        return {"cover_s": cover_s}

    def _joined(self):
        from pure_python_geospatial_export_spark.operators.spatial_join import (
            spatial_join,
        )

        _pages, pts = _points(self.spark, self.input_rows)
        return spatial_join(pts, self.layer, res=inputs.JOIN_RES,
                            rings_by_id=self.rings, cover=self.cover)

    def _rollup(self):
        return self._joined().groupBy("polygon_id", "cell_id").count()

    def run(self):
        return sorted([int(r[0]), int(r[1]), int(r[2])]
                      for r in self._rollup().collect())

    def check(self, out):
        return out == self.expected["counts"]

    def prefixes(self):
        from pure_python_geospatial_export_spark.operators.spatial_join import (
            points_with_cell,
        )

        pages, pts = _points(self.spark, self.input_rows)
        return [
            ("sources.pages", lambda: noop(pages)),
            ("functions.points", lambda: noop(pts)),
            ("cells", lambda: noop(points_with_cell(pts, inputs.JOIN_RES))),
            ("operators.spatial_join", lambda: noop(self._joined())),
            ("rollup", lambda: noop(self._rollup())),
        ]

    def layer_metrics(self, self_s, sql, out):
        from sparkstats import is_join, is_python_eval, node_rows

        cand = node_rows(sql, is_join)
        refined = node_rows(sql, is_python_eval)
        rows = float(sum(r[2] for r in out))
        kept = rows - (cand - refined)
        return {
            "sources.pages.self_s": self_s["sources.pages"],
            "sources.pages.scan_amplification":
                _scan_amplification(sql, self.input_rows),
            "functions.points.self_s": self_s["functions.points"],
            "operators.spatial_join.self_s":
                self_s["operators.spatial_join"],
            "operators.spatial_join.candidate_rows": cand,
            "operators.spatial_join.refine_rows": refined,
            "operators.spatial_join.output_rows": rows,
            "operators.spatial_join.refine_keep_ratio":
                kept / refined if refined else 0.0,
            "sources.polygons.cover_cells": float(len(self.cover_rows)),
            "sources.polygons.boundary_cells":
                float(sum(1 for r in self.cover_rows if not r[2])),
        }

    def kernel_metrics(self):
        """Direct ``points_in_polygon`` calls on the boundary band: the
        points that fall in a polygon's non-interior cover cells."""
        from pyspark.sql import functions as F

        from pure_python_geospatial_export_spark.geo import kernels
        from pure_python_geospatial_export_spark.operators.spatial_join import (
            points_with_cell,
        )

        band = self.spark.createDataFrame(
            [(p, c) for p, c, full in self.cover_rows if not full],
            "polygon_id long, cell_id long")
        _pages, pts = _points(self.spark, self.input_rows)
        pdf = (points_with_cell(pts, inputs.JOIN_RES)
               .join(F.broadcast(band), "cell_id")
               .select("polygon_id", "lon", "lat").toPandas())
        arrays = [(g["lon"].to_numpy(), g["lat"].to_numpy(),
                   self.rings[int(p)]["rings"])
                  for p, g in pdf.groupby("polygon_id")]
        rates = []
        for _ in range(5):
            t = time.perf_counter()
            for xs, ys, rings in arrays:
                kernels.points_in_polygon(xs, ys, rings)
            rates.append(len(pdf) / (time.perf_counter() - t))
        return {"geo.kernels.pip_points_per_s": statistics.median(rates)}


class TileRollup(Workload):
    """pages -> with_point -> tile_stats (res 10) -> tile_pyramid (4
    levels) -> per-level totals."""

    name = "tile_rollup"

    def prepare(self):
        self.input_rows = inputs.pages_n(inputs.TILE_ROLLUP_N, self.seed)
        return {}

    def _stats(self):
        from pure_python_geospatial_export_spark.operators.tiles import (
            tile_stats,
        )

        _pages, pts = _points(self.spark, self.input_rows)
        return tile_stats(pts, inputs.TILE_RES)

    def _pyramid(self):
        from pure_python_geospatial_export_spark.operators.tiles import (
            tile_pyramid,
        )

        return tile_pyramid(self._stats(), inputs.TILE_RES,
                            inputs.TILE_LEVELS)

    def _rollup(self):
        from pyspark.sql import functions as F

        return self._pyramid().groupBy("level").agg(
            F.count(F.lit(1)), F.sum("n_points"), F.sum("tile_x"),
            F.sum("tile_y"))

    def run(self):
        return sorted(([int(v) for v in r] for r in self._rollup().collect()),
                      reverse=True)

    def check(self, out):
        return out == self.expected["levels"]

    def prefixes(self):
        pages, pts = _points(self.spark, self.input_rows)
        return [
            ("sources.pages", lambda: noop(pages)),
            ("functions.points", lambda: noop(pts)),
            ("operators.tiles.stats", lambda: noop(self._stats())),
            ("operators.tiles.pyramid", lambda: noop(self._pyramid())),
            ("rollup", lambda: noop(self._rollup())),
        ]

    def layer_metrics(self, self_s, sql, out):
        m = {
            "sources.pages.self_s": self_s["sources.pages"],
            "sources.pages.scan_amplification":
                _scan_amplification(sql, self.input_rows),
            "functions.points.self_s": self_s["functions.points"],
            "operators.tiles.stats_self_s": self_s["operators.tiles.stats"],
            "operators.tiles.pyramid_self_s":
                self_s["operators.tiles.pyramid"],
        }
        for level, tiles, *_ in out:
            m["operators.tiles.tiles_out.level%d" % level] = float(tiles)
        return m


class KnnGrid(Workload):
    """pages -> with_point -> knn_join (k 8, res 8, ring 1) against a
    second, cached point set -> row count + the rows of sampled left ids."""

    name = "knn_grid"

    def prepare(self):
        import pandas as pd

        self.input_rows = inputs.pages_n(inputs.KNN_LEFT_N, self.seed)
        ids, lon, lat = inputs.knn_right(self.seed)
        self.right = self.spark.createDataFrame(
            pd.DataFrame({"rid": ids, "lon": lon, "lat": lat})).cache()
        self.right.count()
        self.sample = inputs.knn_sample(self.seed, self.input_rows)
        return {}

    def _knn(self):
        from pure_python_geospatial_export_spark.operators.knn import knn_join

        _pages, pts = _points(self.spark, self.input_rows)
        return knn_join(pts, self.right, "page_id", "rid", k=inputs.KNN_K,
                        res=inputs.KNN_RES, ring=inputs.KNN_RING)

    def _rollup(self):
        from pyspark.sql import functions as F

        picked = F.when(F.col("page_id").isin(self.sample), F.struct(
            "page_id", "rid", "dist_sq", "rank"))
        return self._knn().agg(F.count(F.lit(1)), F.collect_list(picked))

    def run(self):
        rows, picked = self._rollup().collect()[0]
        sample = {}
        for lid, rid, dist, rank in sorted(picked, key=lambda r: r[3]):
            sample.setdefault(str(lid), []).append([rid, dist, rank])
        return {"rows": rows, "sample": sample}

    def check(self, out):
        return out == self.expected

    def prefixes(self):
        pages, pts = _points(self.spark, self.input_rows)
        return [
            ("sources.pages", lambda: noop(pages)),
            ("functions.points", lambda: noop(pts)),
            ("operators.knn", lambda: noop(self._knn())),
            ("rollup", lambda: noop(self._rollup())),
        ]

    def layer_metrics(self, self_s, sql, out):
        from sparkstats import is_join, node_rows

        pairs = node_rows(sql, is_join)
        return {
            "sources.pages.self_s": self_s["sources.pages"],
            "functions.points.self_s": self_s["functions.points"],
            "operators.knn.self_s": self_s["operators.knn"],
            "operators.knn.candidate_pairs": pairs,
            "operators.knn.pairs_per_output_row": pairs / out["rows"],
        }


class GeomExport(Workload):
    """cached mixed-geometry WKT table -> wkt_to_wkb -> wkb_to_wkt with a
    per-row byte-identity flag -> export_sharded GeoJSON lines."""

    name = "geom_export"

    def prepare(self):
        import pandas as pd

        rows, _coords = inputs.geom_features(self.seed)
        self.wkts = [r[2] for r in rows]
        pdf = pd.DataFrame(rows, columns=["id", "kind", "wkt"])
        self.feats = self.spark.createDataFrame(pdf).cache()
        self.feats.count()
        self.input_rows = len(rows)
        self.out_dir = os.path.join(self.work, "export")
        return {}

    def _roundtrip(self):
        from pyspark.sql import functions as F

        from pure_python_geospatial_export_spark.functions.geom_udfs import (
            wkb_to_wkt,
            wkt_to_wkb,
        )

        rt = wkb_to_wkt(wkt_to_wkb(F.col("wkt")))
        return self.feats.select(
            "id", "kind", (rt == F.col("wkt")).alias("same"),
            rt.alias("geometry"))

    def run(self):
        from pure_python_geospatial_export_spark.sources.export import (
            Field,
            FieldType,
            GeometryFormat,
            export_sharded,
        )

        schema = [Field("id", FieldType.INT), Field("kind", FieldType.STR),
                  Field("same", FieldType.BOOL),
                  Field("geometry", FieldType.GEOM)]
        export_sharded(self._roundtrip(), schema, self.out_dir, "geometry",
                       GeometryFormat.WKT)

    def _parts(self) -> list:
        return sorted(glob.glob(os.path.join(self.out_dir, "part-*")))

    def check(self, _out):
        """Every exported line carries ``same = true``, the line count
        matches, and the sampled geometries equal the generated ones."""
        want = self.expected["sample"]
        lines, same, sample = 0, 0, {}
        for path in self._parts():
            with open(path, encoding="utf-8") as f:
                for line in f:
                    feat = json.loads(line)
                    lines += 1
                    props = feat["properties"]
                    same += props["same"] is True
                    if str(props["id"]) in want:
                        sample[str(props["id"])] = feat["geometry"]
        return (lines == self.input_rows and same == self.input_rows
                and sample == want)

    def prefixes(self):
        rt = self._roundtrip()
        return [
            ("features", lambda: noop(self.feats)),
            ("functions.geom_udfs.roundtrip", lambda: noop(rt)),
            ("sources.export", self.run),
        ]

    def layer_metrics(self, self_s, sql, out):
        parts = self._parts()
        nbytes = sum(os.path.getsize(p) for p in parts)
        return {
            "functions.geom_udfs.roundtrip_self_s":
                self_s["functions.geom_udfs.roundtrip"],
            "sources.export.self_s": self_s["sources.export"],
            "sources.export.bytes_written": float(nbytes),
            "sources.export.files_written": float(len(parts)),
            "sources.export.bytes_per_row": nbytes / self.input_rows,
        }

    def kernel_metrics(self):
        """Direct codec calls on the set-up feature rows."""
        from pure_python_geospatial_export_spark.geo import wkb, wkt

        sample = self.wkts[:2000]

        def rate(fn, arg):
            rates = []
            for _ in range(3):
                t = time.perf_counter()
                out = fn(arg)
                rates.append(len(arg) / (time.perf_counter() - t))
            return statistics.median(rates), out

        out = {}
        out["geo.wkt.loads_rows_per_s"], geoms = rate(wkt.loads_batch,
                                                      sample)
        out["geo.wkt.dumps_rows_per_s"], _ = rate(wkt.dumps_batch, geoms)
        out["geo.wkb.dumps_rows_per_s"], bufs = rate(wkb.dumps_batch, geoms)
        out["geo.wkb.loads_rows_per_s"], _ = rate(wkb.loads_batch, bufs)
        return out


WORKLOADS = {w.name: w for w in (PagesJoin, TileRollup, KnnGrid,
                                 GeomExport)}
