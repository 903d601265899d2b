"""Seeded inputs shared by the workloads (engine side) and the oracles.

Nothing here imports Spark or the package: the oracle process builds the
same inputs from the same seed without touching the engine.

``sources.pages.synth_pages`` always generates page ids ``[0, n)``; the
seed therefore picks ``n`` (and so the page-id range) within a 2% band
above the nominal size. Every other input is drawn from the seed.
"""

from __future__ import annotations

import random

import numpy as np

PAGES_JOIN_N = 600_000
TILE_ROLLUP_N = 300_000
GEOM_EXPORT_N = 8_000
KNN_LEFT_N = 50_000
KNN_RIGHT_N = 200_000

JOIN_RES = 8
TILE_RES = 10
TILE_LEVELS = 4
KNN_K = 8
KNN_RES = 8
KNN_RING = 1
# right-side ids start here, so they never equal a page id on the left
KNN_RIGHT_ID0 = 1 << 40

SAMPLE = 64


def pages_n(base: int, seed: int) -> int:
    return base + random.Random(seed).randrange(base // 50)


def knn_right(seed: int):
    """(ids, lon, lat) of the second point set, uniform over the globe."""
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-180.0, 180.0, KNN_RIGHT_N)
    lat = rng.uniform(-90.0, 90.0, KNN_RIGHT_N)
    ids = KNN_RIGHT_ID0 + np.arange(KNN_RIGHT_N, dtype=np.int64)
    return ids, lon, lat


def knn_sample(seed: int, n_left: int) -> list:
    """Left page ids whose neighbours are checked row by row."""
    return sorted(random.Random(seed + 1).sample(range(n_left), SAMPLE))


def _micro(k: int) -> str:
    """Micro-degree integer -> its 16-decimal WKT ordinate, formatted
    independently of the engine's codec."""
    sign = "-" if k < 0 else ""
    k = abs(k)
    return "%s%d.%06d%s" % (sign, k // 10 ** 6, k % 10 ** 6, "0" * 10)


def geom_features(seed: int):
    """Mixed POINT / LINESTRING / POLYGON rows ``(id, kind, wkt)`` with
    3-34 vertices, and each row's (kind, micro-degree vertices)."""
    rng = random.Random(seed)
    rows, coords = [], {}
    for i in range(GEOM_EXPORT_N):
        kind = ("Point", "LineString", "Polygon")[i % 3]
        cx = rng.randrange(-179_000_000, 179_000_000)
        cy = rng.randrange(-89_000_000, 89_000_000)
        if kind == "Point":
            verts = [(cx, cy)]
        elif kind == "LineString":
            verts = [(cx + rng.randrange(-500_000, 500_000),
                      cy + rng.randrange(-500_000, 500_000))
                     for _ in range(rng.randint(3, 34))]
        else:
            m = rng.randint(3, 33)
            verts = [(cx + int(300_000 * np.cos(2 * np.pi * j / m)),
                      cy + int(300_000 * np.sin(2 * np.pi * j / m)))
                     for j in range(m)]
            verts.append(verts[0])
        body = ", ".join("%s %s" % (_micro(x), _micro(y)) for x, y in verts)
        wkt = "%s (%s)" % (kind.upper(),
                           body if kind != "Polygon" else "(%s)" % body)
        rows.append((i, kind, wkt))
        coords[i] = (kind, verts)
    return rows, coords


def geom_sample(seed: int) -> list:
    """Row ids whose exported geometry is compared with the input."""
    return random.Random(seed + 1).sample(range(GEOM_EXPORT_N), SAMPLE)
