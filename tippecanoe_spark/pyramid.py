"""Pyramid driver — the traverse_zooms analog (tile.cpp:3272-3623).

Every tile is built by one code path, :func:`tile.tiles_fused`: tile
assignment for a zoom range, ONE shuffle keyed (zz, tx, ty), and the
streaming kernel.  The driver runs it in two modes:

**Fused** (default, ``out_dir=None`` or ``fused=True``): the whole
z-range in one build.  Job count for a z0-z14 build drops from ~45
(3 per zoom) to 3 (survivor stats, optional hot stats, the build
itself) — per-job fixed cost is what kills scaling efficiency on short
zooms, and on a real cluster each job is a full barrier.  ``fused=True``
with ``out_dir`` writes all zooms in one job (partitioned by z) and
manifests afterwards — resumable at whole-build granularity only.

**Per-zoom** (``out_dir`` set, ``fused=False``): the same build over
``[z, z]``, one job per zoom, with a parquet partition
``{out_dir}/z={z}/`` + ``_zoom_{z}.json`` manifest per zoom — the
per-zoom checkpoint the north rule requires: a re-run skips zooms whose
manifest exists (idempotent resume) and the manifest carries per-zoom
lineage (input rows, tile count, byte totals, hot splits).

Hot-tile detection in both modes starts from one cheap aggregation
(survivors per zoom); only zooms whose survivor count exceeds the task
budget pay the per-tile count shuffle (statistics-driven split planning
— the reference's largest-shard-first scheduling, tile.cpp:3327-3378,
turned into an explicit plan)."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import minzoom as mzmod
from . import tile as tilemod
from .config import TilingConfig


def zoom_manifest_path(out_dir: str, z: int) -> str:
    return os.path.join(out_dir, f"_zoom_{z}.json")


_SHARED_CACHE: dict[int, object] = {}


def _shared_arrays(stamped: DataFrame, cfg: TilingConfig):
    """Shared-node world-coordinate arrays (T24) when -pn is on; cached
    per stamped-DataFrame identity so per-zoom mode computes them once."""
    if not cfg.preserve_shared_nodes:
        return None
    key = id(stamped)
    if key not in _SHARED_CACHE:
        import numpy as np

        from . import nodes

        pts = nodes.shared_nodes(stamped)
        sx = np.array([p[0] for p in pts], dtype=np.int64)
        sy = np.array([p[1] for p in pts], dtype=np.int64)
        _SHARED_CACHE.clear()
        _SHARED_CACHE[key] = (sx, sy)
    return _SHARED_CACHE[key]


def coarse_hot_tiles(
    stamped: DataFrame,
    cfg: TilingConfig,
    base_z: int = 8,
    survivors: dict[int, int] | None = None,
) -> dict[int, dict[tuple[int, int], int]]:
    """Hot-tile detection for EVERY zoom from ONE cheap aggregation:
    a (base-zoom tile of the representative point × feature_minzoom)
    histogram, rolled up the pyramid driver-side.

    - zooms ≤ base_z: a tile's count is the sum of its descendant base
      cells with minzoom ≤ z — exact for rep-point assignment.
    - zooms > base_z: a deeper tile is contained in a base cell, so its
      count is bounded by that cell's; cells under budget prove no hot
      descendants.  (Long-line fan-out is not counted — lines contribute
      only at their representative point; the budget escalation in the
      tile kernel still bounds those tiles' outputs.)

    ``survivors``, when given, is filled from the same histogram with
    zoom → number of features with feature_minzoom <= z, for every zoom
    of ``cfg`` (the fused build sizes its tile shuffle from it)."""
    base_z = min(base_z, cfg.maxzoom)
    shift = 32 - base_z
    rows = (
        stamped.groupBy(
            F.shiftright("minx", shift).alias("cx"),
            F.shiftright("miny", shift).alias("cy"),
            "feature_minzoom",
        )
        .count()
        .collect()
    )
    if survivors is not None:
        by_mz: dict[int, int] = {}
        for r in rows:
            mz = r["feature_minzoom"]
            by_mz[mz] = by_mz.get(mz, 0) + r["count"]
        for z in range(cfg.minzoom, cfg.maxzoom + 1):
            survivors[z] = sum(c for mz, c in by_mz.items() if mz <= z)
    budget = cfg.max_features_per_task
    out: dict[int, dict[tuple[int, int], int]] = {}
    hot_base: dict[tuple[int, int], int] = {}
    for z in range(cfg.minzoom, base_z + 1):
        agg: dict[tuple[int, int], int] = {}
        dz = base_z - z
        for r in rows:
            if r["feature_minzoom"] <= z:
                key = (int(r["cx"]) >> dz, int(r["cy"]) >> dz)
                agg[key] = agg.get(key, 0) + r["count"]
        hot = {t: c for t, c in agg.items() if c > budget}
        if hot:
            out[z] = hot
        if z == base_z:
            hot_base = hot
    # zooms deeper than base_z: only descendants of hot base cells can be
    # hot — refine those (and only those) with an exact per-zoom count
    if hot_base and base_z < cfg.maxzoom:
        keys = [(t[0] << base_z) | t[1] for t in hot_base]
        shift_b = 32 - base_z
        cell = F.shiftleft(F.shiftright("minx", shift_b), base_z).bitwiseOR(
            F.shiftright("miny", shift_b)
        )
        subset = stamped.filter(cell.isin(keys))
        deep = hot_tiles_by_zoom(
            subset, cfg, list(range(base_z + 1, cfg.maxzoom + 1))
        )
        out.update(deep)
    return out


def hot_tiles_by_zoom(
    stamped: DataFrame, cfg: TilingConfig, zooms: list[int]
) -> dict[int, dict[tuple[int, int], int]]:
    """Per-tile counts for the given zooms in ONE union-aggregation job;
    returns only tiles above the task budget."""
    if not zooms:
        return {}
    assigned = tilemod.assign_tiles_all(
        stamped, cfg, z_lo=min(zooms), z_hi=max(zooms)
    ).filter(F.col("zz").isin(zooms))
    rows = (
        assigned.groupBy("zz", "tx", "ty")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cfg.max_features_per_task)
        .collect()
    )
    out: dict[int, dict[tuple[int, int], int]] = {}
    for r in rows:
        out.setdefault(r["zz"], {})[(r["tx"], r["ty"])] = r["n"]
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
    """Run the full z-range; returns per-zoom metrics manifests."""
    cfg = cfg or TilingConfig()
    if fused is None:
        fused = out_dir is None
    feats = mzmod.stamp_minzoom(features, cfg) if stamp else features
    feats = feats.persist()
    try:
        if fused:
            return _build_fused(spark, feats, cfg, out_dir)
        leaves = None
        if cfg.variable_depth_pyramid:
            # -at: one leaf plan (vardepth.py) shared by every zoom
            from . import vardepth

            leaves = vardepth.leaf_plan(
                tilemod.with_dateline_twins(feats, cfg), cfg,
                _shared_arrays(feats, cfg),
            )
        manifests: list[dict] = []
        for z in range(cfg.minzoom, cfg.maxzoom + 1):
            if out_dir and resume:
                mp = zoom_manifest_path(out_dir, z)
                if os.path.exists(mp):
                    with open(mp) as fh:
                        manifests.append(json.load(fh))
                    continue
            manifests.append(build_zoom(spark, feats, z, cfg, out_dir, leaves))
        return manifests
    finally:
        feats.unpersist()


def _build_fused(
    spark: SparkSession,
    stamped: DataFrame,
    cfg: TilingConfig,
    out_dir: str | None,
) -> list[dict]:
    t0 = time.time()
    survivors: dict[int, int] = {}
    hot = coarse_hot_tiles(stamped, cfg, survivors=survivors)
    shared = _shared_arrays(stamped, cfg)
    tiles = tilemod.tiles_fused(
        stamped, cfg, hot_by_zoom=hot,
        split_budget=cfg.max_features_per_task, shared=shared,
        est_rows=sum(survivors.values()),
    )
    if out_dir:
        tiles.write.mode("overwrite").partitionBy("z").parquet(out_dir)
        tiles = spark.read.parquet(out_dir)
    per_zoom = (
        tiles.groupBy("z")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum("n_in").alias("n_in"),
            F.sum("n_out").alias("n_out"),
            F.sum("gz_bytes").alias("gz_bytes"),
            F.max("gz_bytes").alias("max_gz"),
            F.max("passes").alias("max_passes"),
        )
        .collect()
    )
    wall = round(time.time() - t0, 3)
    by_z = {r["z"]: r for r in per_zoom}
    manifests = []
    for z in range(cfg.minzoom, cfg.maxzoom + 1):
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
                "wall_sec": wall,  # fused: one wall for the whole build
            }
        )
        if out_dir:
            with open(zoom_manifest_path(out_dir, z), "w") as fh:
                json.dump(manifests[-1], fh)
    return manifests


def build_zoom(
    spark: SparkSession,
    stamped: DataFrame,
    z: int,
    cfg: TilingConfig,
    out_dir: str | None = None,
    leaves: tuple[DataFrame, DataFrame] | None = None,
) -> dict:
    """One zoom of the per-zoom mode: the fused build over ``[z, z]``,
    checkpointed to ``{out_dir}/z={z}/`` with its manifest.  ``leaves``
    is the build's -at leaf plan."""
    t0 = time.time()
    # statistics pass gated by a cheap cached-scan count — if the zoom's
    # survivors fit one task budget, no tile can be hot
    hot: dict[tuple[int, int], int] = {}
    n_surviving = stamped.filter(F.col("feature_minzoom") <= F.lit(z)).count()
    if n_surviving > cfg.max_features_per_task:
        hot = hot_tiles_by_zoom(stamped, cfg, [z]).get(z, {})
    tiles = tilemod.tiles_fused(
        stamped, cfg, hot_by_zoom={z: hot},
        split_budget=cfg.max_features_per_task,
        shared=_shared_arrays(stamped, cfg),
        z_lo=z, z_hi=z, leaves=leaves, est_rows=n_surviving,
    )
    if out_dir:
        zdir = os.path.join(out_dir, f"z={z}")
        tiles.write.mode("overwrite").parquet(zdir)
        tiles = spark.read.parquet(zdir)
    stats = tiles.agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.coalesce(F.sum("n_in"), F.lit(0)).alias("n_in"),
        F.coalesce(F.sum("n_out"), F.lit(0)).alias("n_out"),
        F.coalesce(F.sum("gz_bytes"), F.lit(0)).alias("gz_bytes"),
        F.coalesce(F.max("gz_bytes"), F.lit(0)).alias("max_gz"),
        F.coalesce(F.max("passes"), F.lit(0)).alias("max_passes"),
    ).collect()[0]
    manifest = {
        "z": z,
        "n_tiles": stats["n_tiles"],
        "n_features_in": stats["n_in"],
        "n_features_out": stats["n_out"],
        "gz_bytes": stats["gz_bytes"],
        "max_tile_gz_bytes": stats["max_gz"],
        "max_passes": stats["max_passes"],
        "hot_tiles_split": len(hot),
        "wall_sec": round(time.time() - t0, 3),
    }
    if out_dir:
        with open(zoom_manifest_path(out_dir, z), "w") as fh:
            json.dump(manifest, fh)
    return manifest


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
