"""Expected outputs of the workloads, computed without the engine.

    python3 perfbench/oracles.py --workload pages_join --seed 7 \
        --cores 4 --work DIR --out expected.json

Run once per benchmark run, before the Spark driver starts, in a process
of its own: its memory never counts in the driver's ``peak_rss_mb`` and
its time never counts in ``setup_s``. DuckDB evaluates the published
formulas (the url -> sha256 -> point formula, the fixture rectangles'
predicates, the grid floor arithmetic); kNN and the geometry sample are
recomputed in plain numpy / Python. Nothing here imports the package.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np

import inputs


def duck(cores: int, work: str):
    import duckdb

    return duckdb.connect(config={
        "threads": cores, "temp_directory": os.path.join(work, "duck")})


def duck_pages_points(con, n: int) -> None:
    """Table ``pts(page_id, lon, lat)``: the pages generator's urls and the
    sha256 point formula, evaluated by DuckDB."""
    con.execute(
        "CREATE OR REPLACE TABLE pts AS SELECT page_id, "
        "CAST(CAST('0x' || substr(h, 1, 8) AS BIGINT) %% 3600000 AS DOUBLE)"
        " / CAST(10000 AS DOUBLE) - CAST(180 AS DOUBLE) AS lon, "
        "CAST(CAST('0x' || substr(h, 9, 8) AS BIGINT) %% 1800000 AS DOUBLE)"
        " / CAST(10000 AS DOUBLE) - CAST(90 AS DOUBLE) AS lat "
        "FROM (SELECT range AS page_id, sha256('https://example-' || "
        "CAST(range %% 1000 AS VARCHAR) || '.test/page/' || "
        "CAST(range AS VARCHAR)) AS h FROM range(%d))" % n
    )


def grid_sql(col: str, lo: float, span: float, res: int) -> str:
    n = 1 << res
    return ("least(greatest(CAST(floor((%s + CAST(%r AS DOUBLE)) / "
            "CAST(%r AS DOUBLE) * %d) AS BIGINT), 0), %d)"
            % (col, -lo, span, n, n - 1))


def grid_np(v, lo: float, span: float, res: int):
    n = 1 << res
    return np.clip(np.floor((v - lo) / span * n), 0, n - 1).astype(np.int64)


def pages_join(con, seed: int) -> dict:
    """Per-(polygon, cell) counts from the rectangle predicates of
    ``__spark_entry__._rect_pred_sql``; no point-in-polygon kernel."""
    import __spark_entry__ as em

    duck_pages_points(con, inputs.pages_n(inputs.PAGES_JOIN_N, seed))
    cell = "(%d + %s * %d + %s)" % (
        inputs.JOIN_RES * 2 ** 58,
        grid_sql("lon", -180.0, 360.0, inputs.JOIN_RES),
        2 ** 29, grid_sql("lat", -90.0, 180.0, inputs.JOIN_RES))
    parts = [
        "SELECT %d AS polygon_id, %s AS cell_id FROM pts WHERE %s"
        % (pid, cell, em._rect_pred_sql(outer, hole))
        for pid, _name, outer, hole in em._rects()
    ]
    rows = con.execute(
        "SELECT polygon_id, cell_id, count(*) FROM (%s) GROUP BY ALL"
        % " UNION ALL ".join(parts)).fetchall()
    return {"counts": sorted([int(p), int(c), int(k)] for p, c, k in rows)}


def tile_rollup(con, seed: int) -> dict:
    """Per level: tile count, point count, sums of tile x and y, from
    floor arithmetic (a parent tile is the child's x, y shifted right)."""
    n = inputs.pages_n(inputs.TILE_ROLLUP_N, seed)
    duck_pages_points(con, n)
    con.execute(
        "CREATE TABLE g AS SELECT DISTINCT %s AS gx, %s AS gy FROM pts"
        % (grid_sql("lon", -180.0, 360.0, inputs.TILE_RES),
           grid_sql("lat", -90.0, 180.0, inputs.TILE_RES)))
    levels = []
    for s in range(inputs.TILE_LEVELS + 1):
        tiles, sx, sy = con.execute(
            "SELECT count(*), sum(x), sum(y) FROM (SELECT DISTINCT "
            "gx >> %d AS x, gy >> %d AS y FROM g)" % (s, s)).fetchone()
        levels.append([inputs.TILE_RES - s, int(tiles), n, int(sx),
                       int(sy)])
    return {"levels": levels}


def knn_grid(con, seed: int) -> dict:
    """Ring-bounded kNN recomputed by brute force for a sample of left
    ids, and the total row count from per-cell neighbourhood counts."""
    n_left = inputs.pages_n(inputs.KNN_LEFT_N, seed)
    duck_pages_points(con, n_left)
    got = con.execute(
        "SELECT lon, lat FROM pts ORDER BY page_id").fetchnumpy()
    llon, llat = got["lon"], got["lat"]
    rid, rlon, rlat = inputs.knn_right(seed)
    n = 1 << inputs.KNN_RES
    lx = grid_np(llon, -180.0, 360.0, inputs.KNN_RES)
    ly = grid_np(llat, -90.0, 180.0, inputs.KNN_RES)
    rx = grid_np(rlon, -180.0, 360.0, inputs.KNN_RES)
    ry = grid_np(rlat, -90.0, 180.0, inputs.KNN_RES)

    hist = np.zeros((n, n), dtype=np.int64)
    np.add.at(hist, (rx, ry), 1)
    ring = inputs.KNN_RING
    near = np.zeros_like(hist)
    for dx in range(-ring, ring + 1):  # longitude wraps, latitude clamps
        rolled = np.roll(hist, -dx, axis=0)
        for dy in range(-ring, ring + 1):
            if dy >= 0:
                near[:, :n - dy] += rolled[:, dy:]
            else:
                near[:, -dy:] += rolled[:, :n + dy]
    rows = int(np.minimum(near[lx, ly], inputs.KNN_K).sum())

    key = rx * n + ry
    order = np.argsort(key, kind="stable")
    skey = key[order]
    sample = {}
    for lid in inputs.knn_sample(seed, n_left):
        idx = []
        for dx in range(-ring, ring + 1):
            for dy in range(-ring, ring + 1):
                y = ly[lid] + dy
                if 0 <= y < n:
                    k = ((lx[lid] + dx) % n) * n + y
                    lo, hi = np.searchsorted(skey, [k, k + 1])
                    idx.extend(order[lo:hi])
        idx = np.asarray(idx, dtype=np.int64)
        dlon = llon[lid] - rlon[idx]
        dlat = llat[lid] - rlat[idx]
        dist = dlon * dlon + dlat * dlat
        top = np.lexsort((rid[idx], dist))[:inputs.KNN_K]
        sample[str(lid)] = [[int(rid[idx][j]), float(dist[j]), r + 1]
                            for r, j in enumerate(top)]
    return {"rows": rows, "sample": sample}


def geom_export(_con, seed: int) -> dict:
    """GeoJSON geometry of the sampled rows, built from the generated
    micro-degree vertices."""
    _rows, coords = inputs.geom_features(seed)
    sample = {}
    for i in inputs.geom_sample(seed):
        kind, verts = coords[i]
        pts = [[x / 1e6, y / 1e6] for x, y in verts]
        sample[str(i)] = {"type": kind, "coordinates": (
            pts[0] if kind == "Point" else
            pts if kind == "LineString" else [pts])}
    return {"sample": sample}


ORACLES = {f.__name__: f for f in (pages_join, tile_rollup, knn_grid,
                                    geom_export)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(ORACLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    con = duck(args.cores, args.work)
    try:
        expected = ORACLES[args.workload](con, args.seed)
    finally:
        con.close()
    with open(args.out, "w") as f:
        json.dump(expected, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
