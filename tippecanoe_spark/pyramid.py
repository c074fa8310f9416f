"""Pyramid driver — the traverse_zooms analog (tile.cpp:3272-3623).

Every tile is built by one code path, :func:`tile.tiles_fused`: tile
assignment for a zoom range, ONE shuffle keyed (zz, tx, ty), and the
streaming kernel.  :func:`build_zoom` runs it once per build: a
(base cell × feature_minzoom) histogram (survivor counts, the input
bounds and the tiles over the task budget), the build itself, and one
aggregation for the per-zoom manifests.  Per-job fixed cost is what
kills scaling efficiency on short zooms, and on a real cluster each job
is a full barrier, so the job count does not grow with the number of
zooms.

**Checkpoints** (``out_dir`` set): the build deletes its zooms'
partitions and appends ``partitionBy("z")``, one parquet partition
``{out_dir}/z={z}/`` per zoom that has tiles, and one
``_zoom_{z}.json`` manifest per zoom (input rows, tile count, byte
totals, tiles over the task budget, input bounds).  A build drops its
zooms' manifests before it writes and writes them after its partitions
are committed, so a zoom with a manifest is complete.  A re-run keeps
those zooms and rebuilds the hull ``[min(missing), max(missing)]`` of
the rest in one build — resume is zoom-granular, the work is not split
by zoom.

Dense tiles are not split: every tile is one group of the one stream
kernel, as the reference builds each tile in one thread, and the hash
of the tile key over the shuffle's tasks spreads them.  The manifest's
``hot_tiles_split`` counts, per zoom, the tiles whose histogram count
exceeds ``max_features_per_task``: reported, not acted on."""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import minzoom as mzmod
from . import sinks
from . import tile as tilemod
from .config import TilingConfig


def zoom_manifest_path(out_dir: str, z: int) -> str:
    return os.path.join(out_dir, f"_zoom_{z}.json")


def zoom_dir(out_dir: str, z: int) -> str:
    return os.path.join(out_dir, f"z={z}")


def _shared_arrays(stamped: DataFrame, cfg: TilingConfig):
    """Shared-node world-coordinate arrays (T24) when -pn is on."""
    if not cfg.preserve_shared_nodes:
        return None
    import numpy as np

    from . import nodes

    pts = nodes.shared_nodes(stamped)
    sx = np.array([p[0] for p in pts], dtype=np.int64)
    sy = np.array([p[1] for p in pts], dtype=np.int64)
    return sx, sy


def coarse_hot_tiles(
    stamped: DataFrame,
    cfg: TilingConfig,
    base_z: int = 8,
    survivors: dict[int, int] | None = None,
    bounds: list[int] | None = None,
    z_lo: int | None = None,
    z_hi: int | None = None,
) -> dict[int, dict[tuple[int, int], int]]:
    """The build's one histogram: a (base-zoom tile of the
    representative point × feature_minzoom) count, ONE cheap
    aggregation rolled up the pyramid driver-side.

    Returns, for zooms ``[z_lo, z_hi]`` (default: every zoom of ``cfg``)
    up to ``base_z``, the tiles whose count exceeds
    ``cfg.max_features_per_task`` (zoom → tile → count).  A tile's count
    is the sum of its descendant base cells with minzoom ≤ z — exact for
    rep-point assignment (long-line fan-out is not counted).  Zooms
    deeper than ``base_z`` are not counted.

    ``survivors``, when given, is filled from the same histogram with
    zoom → number of features with feature_minzoom <= z, for every zoom
    of ``cfg`` (the build sizes its tile shuffle from it).  ``bounds``,
    when given, is filled with the input's world bbox ``[minx, miny,
    maxx, maxy]`` (left empty for an empty input)."""
    lo = cfg.minzoom if z_lo is None else z_lo
    hi = cfg.maxzoom if z_hi is None else z_hi
    base_z = min(base_z, cfg.maxzoom)
    shift = 32 - base_z
    rows = (
        stamped.groupBy(
            F.shiftright("minx", shift).alias("cx"),
            F.shiftright("miny", shift).alias("cy"),
            "feature_minzoom",
        )
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.min("minx").alias("minx"), F.min("miny").alias("miny"),
            F.max("maxx").alias("maxx"), F.max("maxy").alias("maxy"),
        )
        .collect()
    )
    if bounds is not None and rows:
        bounds[:] = [
            min(r["minx"] for r in rows), min(r["miny"] for r in rows),
            max(r["maxx"] for r in rows), max(r["maxy"] for r in rows),
        ]
    if survivors is not None:
        by_mz: dict[int, int] = {}
        for r in rows:
            mz = r["feature_minzoom"]
            by_mz[mz] = by_mz.get(mz, 0) + r["count"]
        for z in range(cfg.minzoom, cfg.maxzoom + 1):
            survivors[z] = sum(c for mz, c in by_mz.items() if mz <= z)
    out: dict[int, dict[tuple[int, int], int]] = {}
    for z in range(max(lo, cfg.minzoom), min(hi, base_z) + 1):
        agg: dict[tuple[int, int], int] = {}
        dz = base_z - z
        for r in rows:
            if r["feature_minzoom"] <= z:
                key = (int(r["cx"]) >> dz, int(r["cy"]) >> dz)
                agg[key] = agg.get(key, 0) + r["count"]
        hot = {t: c for t, c in agg.items() if c > cfg.max_features_per_task}
        if hot:
            out[z] = hot
    return out


def build_pyramid(
    spark: SparkSession,
    features: DataFrame,
    cfg: TilingConfig | None = None,
    out_dir: str | None = None,
    stamp: bool = True,
    resume: bool = True,
    fused: bool | None = None,
) -> list[dict]:
    """Build the full z-range; returns one manifest per zoom.

    With ``out_dir`` (and ``resume``), zooms whose manifest exists are
    kept and the rest are built by ONE :func:`build_zoom` over their
    hull.  ``fused`` is accepted for older callers and selects nothing:
    every build is one fused build."""
    cfg = cfg or TilingConfig()
    zooms = range(cfg.minzoom, cfg.maxzoom + 1)
    done: dict[int, dict] = {}
    if out_dir and resume:
        for z in zooms:
            mp = zoom_manifest_path(out_dir, z)
            if os.path.exists(mp):
                with open(mp) as fh:
                    done[z] = json.load(fh)
    missing = [z for z in zooms if z not in done]
    if missing:
        feats = mzmod.stamp_minzoom(features, cfg) if stamp else features
        feats = feats.persist()
        try:
            for m in build_zoom(spark, feats, cfg, out_dir, min(missing), max(missing)):
                done[m["z"]] = m
        finally:
            feats.unpersist()
    return [done[z] for z in zooms]


def read_tiles(spark: SparkSession, out_dir: str, zooms) -> DataFrame:
    """The checkpointed tiles of ``zooms`` in ``out_dir``.  A zoom
    without tiles has no ``z=`` partition; ``basePath`` keeps ``z`` a
    column.  Empty (``TILE_SCHEMA``) when no zoom has tiles."""
    parts = [zoom_dir(out_dir, z) for z in zooms if os.path.isdir(zoom_dir(out_dir, z))]
    if not parts:
        return spark.createDataFrame([], tilemod.TILE_SCHEMA)
    return spark.read.option("basePath", out_dir).parquet(*parts)


def build_zoom(
    spark: SparkSession,
    stamped: DataFrame,
    cfg: TilingConfig,
    out_dir: str | None,
    lo: int,
    hi: int,
) -> list[dict]:
    """The one build: zooms ``[lo, hi]`` of ``stamped`` in one
    :func:`tile.tiles_fused` job; returns their manifests.  With
    ``out_dir`` the range's old partitions are deleted and the tiles
    appended ``partitionBy("z")``, so other zooms' partitions survive,
    and each zoom's manifest follows the commit."""
    zooms = range(lo, hi + 1)
    t0 = time.time()
    if out_dir:
        # no manifest may outlive its partition; a leftover partition of
        # a zoom that now has no tiles would never be overwritten
        for z in zooms:
            if os.path.exists(zoom_manifest_path(out_dir, z)):
                os.remove(zoom_manifest_path(out_dir, z))
            shutil.rmtree(zoom_dir(out_dir, z), ignore_errors=True)
    survivors: dict[int, int] = {}
    world_bounds: list[int] = []
    hot = coarse_hot_tiles(
        stamped, cfg, survivors=survivors, bounds=world_bounds, z_lo=lo, z_hi=hi
    )
    tiles = tilemod.tiles_fused(
        stamped, cfg, shared=_shared_arrays(stamped, cfg),
        z_lo=lo, z_hi=hi, est_rows=sum(survivors[z] for z in zooms),
    )
    if out_dir:
        tiles.write.mode("append").partitionBy("z").parquet(out_dir)
        tiles = read_tiles(spark, out_dir, zooms)
    by_z = {
        r["z"]: r
        for r in tiles.groupBy("z")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum("n_in").alias("n_in"),
            F.sum("n_out").alias("n_out"),
            F.sum("gz_bytes").alias("gz_bytes"),
            F.max("gz_bytes").alias("max_gz"),
            F.max("passes").alias("max_passes"),
        )
        .collect()
    }
    wall = round(time.time() - t0, 3)
    bounds = list(sinks.lonlat_bounds(*world_bounds))
    manifests = []
    for z in zooms:
        r = by_z.get(z)
        manifests.append(
            {
                "z": z,
                "n_tiles": r["n_tiles"] if r else 0,
                "n_features_in": r["n_in"] if r else 0,
                "n_features_out": r["n_out"] if r else 0,
                "gz_bytes": r["gz_bytes"] if r else 0,
                "max_tile_gz_bytes": r["max_gz"] if r else 0,
                "max_passes": r["max_passes"] if r else 0,
                "hot_tiles_split": len(hot.get(z, {})),
                "bounds": bounds,
                "wall_sec": wall,  # one wall for the whole build
            }
        )
        if out_dir:
            with open(zoom_manifest_path(out_dir, z), "w") as fh:
                json.dump(manifests[-1], fh)
    return manifests


def build_zoom_global_retry(
    spark: SparkSession,
    stamped: DataFrame,
    z: int,
    cfg: TilingConfig,
    max_rounds: int = 8,
) -> DataFrame:
    """Reference zoom-global threshold semantics (tile.cpp:3506-3571):
    run zoom ``z`` with shared seed thresholds, max-reduce the per-tile
    FINAL thresholds, and if any tile escalated beyond the seeds, erase
    and re-run the WHOLE zoom with the raised values — so every tile of
    the zoom shares the worst tile's threshold, exactly like the
    reference's erase-and-rerun pass loop.  Returns the final tiles
    DataFrame (TILE_SCHEMA columns).

    This is the golden-parity mode; the scale default remains the
    per-tile escalation (no cross-tile barrier, no repeated zoom-wide
    work — see tile.py module docstring)."""
    from dataclasses import replace

    desc = cfg.drop_by_attribute_descending
    seeds = (0.0, 0.0, float("-inf"), float("inf") if desc else float("-inf"))
    tiles = None
    for _ in range(max_rounds):
        c = replace(cfg, global_threshold_retry=True, seed_thresholds=seeds)
        tiles = tilemod.tiles_for_zoom(stamped, z, c).persist()
        agg = tiles.agg(
            F.max("f_gap"), F.max("f_ext"), F.max("f_seq"),
            (F.min("f_attr") if desc else F.max("f_attr")),
        ).collect()[0]
        new = (
            max(seeds[0], float(agg[0] or 0.0)),
            max(seeds[1], float(agg[1] or 0.0)),
            max(seeds[2], float(agg[2]) if agg[2] is not None else seeds[2]),
            (
                min(seeds[3], float(agg[3]))
                if desc and agg[3] is not None
                else (
                    max(seeds[3], float(agg[3]))
                    if agg[3] is not None
                    else seeds[3]
                )
            ),
        )
        if new == seeds:
            break
        tiles.unpersist()
        seeds = new
    return tiles.select(*tilemod._TILE_COLS)
