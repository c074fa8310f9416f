"""Seeded benchmark inputs, cached on disk under a key of (kind, seed,
size, generator version).

Inputs are generated outside every timed region.  A cache entry is a
directory named by its key; it is written under a temporary name and
renamed into place once complete, so a half-written entry is never read
back as a finished one.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import numpy as np

# Bump when a generator below changes what it writes: the version is part
# of every cache key, so stale entries are never reused.
GEN_VERSION = 3


def _cached(cache_root: str, key: str, write) -> str:
    """Directory for ``key`` under ``cache_root``; ``write(tmp_dir)``
    fills it the first time."""
    final = os.path.join(cache_root, "inputs", key)
    if os.path.exists(os.path.join(final, "_COMPLETE")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
        fh.write(key)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


# ``synth_pdf`` stamps row ``i`` at 2020-01-01 + 137 s * i as a nanosecond
# timestamp, which overflows past year 2262, so every index stays below
# this.  Seeds are folded into the windows that fit; small seeds keep
# their own window.
SYNTH_MAX_INDEX = 50_000_000


def webtext_corpus(cache_root: str, seed: int, pages: int) -> str:
    """Parquet corpus of ``synth.synth_pdf`` over the index window
    ``[w * pages, w * pages + pages)`` with
    ``w = seed % (SYNTH_MAX_INDEX // pages)``; returns its directory."""
    from tippecanoe_spark import synth

    def write(d: str) -> None:
        lo = (seed % (SYNTH_MAX_INDEX // pages)) * pages
        pdf = synth.synth_pdf(np.arange(lo, lo + pages, dtype=np.int64))
        pdf.to_parquet(
            os.path.join(d, "part-00000.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )

    key = f"webtext-s{seed}-n{pages}-v{GEN_VERSION}"
    return _cached(cache_root, key, write)


# ---------------------------------------------------------------------------
# GeoJSON: noisy polygons (some with holes, some self-intersecting), long
# lines, clustered attributed points — one Feature per line
# ---------------------------------------------------------------------------

def _ring(rng, cx, cy, radius, n, tangle):
    """Closed star-shaped ring of ``n`` vertices around (cx, cy).
    ``tangle`` > 0 jitters vertex angles past their neighbours, which
    makes edges cross (a self-intersecting ring the clean stage must
    repair)."""
    ang = np.sort(rng.uniform(0.0, 2 * math.pi, n))
    if tangle > 0:
        ang = ang + rng.normal(0.0, tangle * 2 * math.pi / n, n)
    rad = radius * rng.uniform(0.55, 1.0, n)
    lon = np.clip(cx + rad * np.cos(ang), -179.9, 179.9)
    lat = np.clip(cy + rad * np.sin(ang) * 0.8, -84.0, 84.0)
    pts = [[round(float(a), 6), round(float(b), 6)] for a, b in zip(lon, lat)]
    return pts + [pts[0]]


def _geojson_lines(seed: int, n_poly: int, n_line: int, n_pt: int) -> list[str]:
    rng = np.random.default_rng([seed, 0x6E0])
    # many clusters and narrow size ranges: seeds differ in where things
    # are, much less in how much there is to tile
    n_clusters = 48
    centers = np.column_stack(
        [rng.uniform(-150, 150, n_clusters), rng.uniform(-60, 60, n_clusters)]
    )
    out = []
    for i in range(n_poly):
        cx, cy = centers[rng.integers(n_clusters)] + rng.normal(0.0, 6.0, 2)
        radius = float(rng.uniform(1.0, 2.5))
        n = int(rng.integers(60, 140))
        tangle = 1.5 if i % 3 == 0 else 0.0
        rings = [_ring(rng, cx, cy, radius, n, tangle)]
        if i % 4 == 1:
            rings.append(_ring(rng, cx, cy, radius * 0.3, max(n // 4, 8), 0.0)[::-1])
        props = {"kind": "area", "rank": int(rng.integers(1, 100)),
                 "area_km": round(float(radius * radius * 12300.0), 1)}
        out.append({"type": "Feature", "properties": props,
                    "geometry": {"type": "Polygon", "coordinates": rings}})
    for i in range(n_line):
        n = int(rng.integers(100, 250))
        x0, y0 = centers[rng.integers(n_clusters)]
        heading = rng.uniform(0.0, 2 * math.pi)
        step = rng.uniform(0.05, 0.15)
        turn = np.cumsum(rng.normal(0.0, 0.12, n))
        xs = np.clip(x0 + np.cumsum(step * np.cos(heading + turn)), -179.9, 179.9)
        ys = np.clip(y0 + np.cumsum(step * np.sin(heading + turn)), -84.0, 84.0)
        coords = [[round(float(a), 6), round(float(b), 6)] for a, b in zip(xs, ys)]
        props = {"kind": "route", "name": f"route {seed}-{i}",
                 "lanes": int(rng.integers(1, 6))}
        out.append({"type": "Feature", "properties": props,
                    "geometry": {"type": "LineString", "coordinates": coords}})
    # a quarter of the points are background, uniform in Web Mercator, so
    # every low-zoom tile holds features whatever the seed
    n_bg = n_pt // 4
    which = rng.integers(n_clusters, size=n_pt)
    spread = rng.exponential(1.5, size=n_pt)
    ang = rng.uniform(0.0, 2 * math.pi, n_pt)
    lons = np.clip(centers[which, 0] + spread * np.cos(ang), -179.9, 179.9)
    lats = np.clip(centers[which, 1] + spread * np.sin(ang), -84.0, 84.0)
    lons[:n_bg] = rng.uniform(-179.9, 179.9, n_bg)
    merc_y = rng.uniform(-math.pi, math.pi, n_bg)
    lats[:n_bg] = np.degrees(np.arctan(np.sinh(merc_y)))
    pops = rng.integers(10, 2_000_000, n_pt)
    for i in range(n_pt):
        props = {"kind": "place", "name": f"p{seed}-{i}",
                 "population": int(pops[i]), "capital": bool(i % 97 == 0),
                 "score": round(float(spread[i]), 3)}
        out.append({"type": "Feature", "properties": props,
                    "geometry": {"type": "Point",
                                 "coordinates": [round(float(lons[i]), 6),
                                                 round(float(lats[i]), 6)]}})
    order = rng.permutation(len(out))
    return [json.dumps(out[k], separators=(",", ":")) for k in order]


def geojson_file(cache_root: str, seed: int, n_poly: int, n_line: int,
                 n_pt: int) -> str:
    """Line-delimited GeoJSON file; returns its path."""

    def write(d: str) -> None:
        with open(os.path.join(d, "features.geojson"), "w") as fh:
            for line in _geojson_lines(seed, n_poly, n_line, n_pt):
                fh.write(line + "\n")

    key = f"geojson-s{seed}-p{n_poly}-l{n_line}-n{n_pt}-v{GEN_VERSION}"
    return os.path.join(_cached(cache_root, key, write), "features.geojson")
