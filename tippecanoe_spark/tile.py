"""Per-tile pipeline: clip → scale → thin/drop → simplify → MVT encode.

The Spark re-expression of write_tile (reference: tile.cpp:1665-3079).

Physical strategy (chosen for deep-zoom scale, where most tiles hold a
handful of points): one hash shuffle on the tile key +
``sortWithinPartitions(zz, tx, ty, index, seq)`` + a *streaming*
``mapInPandas`` kernel that walks each sorted partition, slicing
consecutive tile groups out of the Arrow batches (carrying partial
groups across batch boundaries).  This avoids the per-group overhead of
a grouped-map UDF — at z10+ a zoom can hold 10⁵-10⁶ tiny tiles, and
per-group JVM↔Python round trips dominate there.  Small all-point groups take a
further fast path: batch-vectorized scaling, direct MVT assembly, no
pandas objects per tile.  Every tile, dense or not, is one group of one
kernel call, so the sequential per-tile stages (tiny-polygon
accumulation, the prefilter hook, drops) always see the whole tile; the
hash of the tile key over the shuffle's tasks spreads the dense tiles.

One driver, :func:`tiles_fused`, assigns, shuffles and kernels the tiles
of any zoom range; :func:`tiles_for_zoom` is that build over ``[z, z]``,
and the pyramid (checkpointed or not) runs it once over the zooms it
builds.

Stage semantics, per tile group:

- :func:`prepare_tile_pdf` — clip to buffered tile (clip_to_tile,
  tile.cpp:974-1057), scale to the tile grid (to_tile_scale,
  clip.cpp:507-519), Douglas-Peucker / Visvalingam, tiny-polygon
  reduction, too-small-line drop.
- :func:`_finalize_tile_dict` — order-dependent stages: gamma thinning,
  clustering, as-needed drops with tile-local threshold escalation,
  top-k truncation, attribute accumulation, MVT encode + gzip + budget
  loop.

Threshold escalation deviates from the reference deliberately: tippecanoe
erases and re-runs a whole zoom when any tile overflows
(tile.cpp:3506-3571); here each tile escalates its own thresholds over
the already-prepared batch (same monotone choose_* logic,
tile.cpp:754-857) — one pass over the data per zoom, no global barrier.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import drop as dropmod
from . import features as featmod
from . import mvt
from .config import TilingConfig
from .features import OP_CLOSEPATH, OP_LINETO, OP_MOVETO, signed_area
from .geom import borders as bordersmod
from .geom import clean as cleanmod
from .geom import clip as clipmod
from .geom import simplify as simpmod

WORLD_BITS = 32

# columns of prepared (tile-local) features: prepare_tile_pdf's output,
# _finalize_tile_dict's input
_PREPARED_COLS = (
    "tx", "ty", "feature_id", "layer", "geom_type", "geometry", "attrs",
    "index", "extent", "seq", "feature_minzoom",
)

TILE_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType()),
        T.StructField("x", T.IntegerType()),
        T.StructField("y", T.IntegerType()),
        T.StructField("tile", T.BinaryType()),
        T.StructField("n_in", T.LongType()),
        T.StructField("n_out", T.LongType()),
        T.StructField("raw_bytes", T.LongType()),
        T.StructField("gz_bytes", T.LongType()),
        T.StructField("passes", T.IntegerType()),
    ]
)

_TILE_COLS = ["z", "x", "y", "tile", "n_in", "n_out", "raw_bytes", "gz_bytes", "passes"]

# vardepth confirm-pass output: TILE_SCHEMA + the leaf verdict
TILE_SCHEMA_LEAF = T.StructType(
    TILE_SCHEMA.fields + [T.StructField("leaf_ok", T.BooleanType())]
)

# zoom-global retry output: TILE_SCHEMA + each tile's final thresholds
TILE_SCHEMA_RETRY = T.StructType(
    TILE_SCHEMA.fields
    + [
        T.StructField("f_gap", T.DoubleType()),
        T.StructField("f_ext", T.DoubleType()),
        T.StructField("f_seq", T.DoubleType()),
        T.StructField("f_attr", T.DoubleType()),
    ]
)


def _tile_schema(cfg) -> T.StructType:
    if getattr(cfg, "vardepth_confirm", False):
        return TILE_SCHEMA_LEAF
    if cfg.global_threshold_retry:
        return TILE_SCHEMA_RETRY
    return TILE_SCHEMA

# fast-path bound: all-point groups up to this size skip the pandas kernel
_FAST_MAX = 256


# Estimated survivor rows per tile-kernel task (see _tile_partitions).
# Calibrated on the one measurement where many partitions paid off:
# 100k pages, z0-z8, 32 cores (BASELINE.md, r5), where 24x cores beat 6x
# (77 s vs 102 s).  The estimate is the sum over the build's zooms of
# the features with feature_minzoom <= z, about 3.1 x the feature count
# on this corpus (measured at 1k and 20k pages: 7,360 rows for 2,361
# features, 154k for 49.6k).  100k pages stamp 236k-248k features, so
# 730k-770k rows: 730-768 tasks, within 5% of the 24 x 32 = 768 cap.
# The 1k-page benchmark corpus gets 8 tasks, 2 x cores on 4 cores.
ROWS_PER_TASK = 1_000

# task-count ceiling per core: the straggler control of a hot-spot-heavy
# corpus (city hot spots put ~20% of rows in a handful of tiles)
_MAX_TASKS_PER_CORE = 24


def _tile_partitions(spark, key_space: int, est_rows: int | None = None) -> int:
    """Partition count for a tile-kernel shuffle, sized to its rows:
    ``ceil(est_rows / ROWS_PER_TASK)``, at least ``cores`` and at most
    ``24 x cores`` and ``key_space`` (the number of distinct (z, tx, ty)
    keys the shuffle can hold: more partitions than keys are empty
    tasks).  Each Python task costs ~0.3 s of fixed Arrow/worker set-up
    whatever its size, so a small build wants few tasks; a large skewed
    one wants many, so the hash of (z, tx, ty) spreads the hot tiles and
    no one straggler gates the stage.  ``est_rows`` is the caller's
    survivor-row estimate; unknown (``None``) means the floor."""
    cores = spark.sparkContext.defaultParallelism
    cap = min(_MAX_TASKS_PER_CORE * cores, key_space)
    want = -(-est_rows // ROWS_PER_TASK) if est_rows else 0
    return max(min(max(want, cores), cap), 1)


def buffer_world(z: int, cfg: TilingConfig) -> int:
    """Tile buffer in world units: buffer/256ths of the tile width
    (main.cpp:74 default 5)."""
    shift = WORLD_BITS - z
    return cfg.buffer << max(shift - 8, 0)


# bbox tile-span above which lines take the exact per-segment walk
# instead of bbox explode.  A diagonal touching O(span) tiles bbox-fans
# into O(span^2) phantom rows that each cost a full kernel clip (~100us);
# with the cover slack below, walk and bbox outputs are byte-identical
# (measured: z0-z8 bench tileset sha equal at span 4/8/64), so the
# threshold is purely a cost crossover — 8 cuts the z0-z8 pyramid wall
# ~34% on the 100k-page corpus vs 64.
_WIDE_SPAN = 8


def _segments_cover_vec(
    x0, y0, x1, y1, shift: int, buf: int, nmax: int,
    wx0=None, wx1=None, wy0=None, wy1=None,
):
    """Vectorized conservative rasterization of many segments onto the
    buffered tile grid: per crossed column, the segment's y-interval
    (± buffer) selects the rows.  Returns (seg_ids, txs, tys) — total
    work O(covered cells), all numpy.

    ``wx0..wy1`` (per-segment arrays) optionally clamp the produced
    cells to a tile window up front — the in-subtree walk passes the
    root-descendant block so a world-spanning segment never generates
    (then filters) its full global cover."""
    steep = np.abs(y1 - y0) > np.abs(x1 - x0)
    ax0 = np.where(steep, y0, x0).astype(np.int64)
    ab0 = np.where(steep, x0, y0).astype(np.int64)
    ax1 = np.where(steep, y1, x1).astype(np.int64)
    ab1 = np.where(steep, x1, y1).astype(np.int64)
    swap = ax1 < ax0
    ax0, ax1 = np.where(swap, ax1, ax0), np.where(swap, ax0, ax1)
    ab0, ab1 = np.where(swap, ab1, ab0), np.where(swap, ab0, ab1)
    size = 1 << shift
    if wx0 is None:
        clo = crlo = 0
        chi = crhi = nmax
    else:
        clo = np.where(steep, wy0, wx0)
        chi = np.where(steep, wy1, wx1)
        crlo = np.where(steep, wx0, wy0)
        crhi = np.where(steep, wx1, wy1)
    # max/min (not clip): a segment whose span lies entirely outside the
    # window must produce an EMPTY column range, not a pinned edge column
    c0 = np.maximum((ax0 - buf - 1) >> shift, clo)
    c1 = np.minimum((ax1 + buf) >> shift, chi)
    ncols = np.maximum(c1 - c0 + 1, 0).astype(np.int64)
    total = int(ncols.sum())
    if total == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z
    seg = np.repeat(np.arange(len(ax0)), ncols)
    col = np.arange(total) - np.repeat(np.cumsum(ncols) - ncols, ncols) + c0[seg]
    lo = col * size - buf
    hi = (col + 1) * size + buf
    dxs = (ax1 - ax0)[seg].astype(np.float64)
    dbs = (ab1 - ab0)[seg].astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        t_lo = np.clip((lo - ax0[seg]) / dxs, 0.0, 1.0)
        t_hi = np.clip((hi - ax0[seg]) / dxs, 0.0, 1.0)
    t_lo = np.nan_to_num(t_lo, nan=0.0)
    t_hi = np.nan_to_num(t_hi, nan=1.0)
    b_lo = ab0[seg] + t_lo * dbs
    b_hi = ab0[seg] + t_hi * dbs
    bmin = np.minimum(b_lo, b_hi) - buf
    bmax = np.maximum(b_lo, b_hi) + buf
    if wx0 is None:
        rlo_c, rhi_c = 0, nmax
    else:
        rlo_c, rhi_c = crlo[seg], crhi[seg]
    r0 = np.maximum(np.floor(bmin).astype(np.int64) >> shift, rlo_c)
    r1 = np.minimum(np.floor(bmax).astype(np.int64) >> shift, rhi_c)
    nrows = np.maximum(r1 - r0 + 1, 0).astype(np.int64)
    total2 = int(nrows.sum())
    cell = np.repeat(np.arange(total), nrows)
    row = np.arange(total2) - np.repeat(np.cumsum(nrows) - nrows, nrows) + r0[cell]
    segs2 = seg[cell]
    cols2 = col[cell]
    st = steep[segs2]
    tx = np.where(st, row, cols2)
    ty = np.where(st, cols2, row)
    return segs2, tx, ty


def _cover_slack(z: int, cfg: TilingConfig) -> int:
    """Extra world units the walk's buffered window needs beyond the
    kernel's world buffer: the px clip keeps px == extent+buf inclusive,
    i.e. world coords up to ((extent+buf+1) << (shift-detail)) - 1 — one
    sub-pixel's worth past ``origin + size + buf``.  Without the slack a
    segment living entirely in that last inclusive pixel is skipped by
    the per-segment cover while the per-feature bbox path keeps it (a
    1-2 px sliver at the buffered corner).  Over-covering is harmless
    (extra rows clip to nothing); under-covering loses features."""
    k = (WORLD_BITS - z) - cfg.detail_at(z)
    return (1 << k) - 1 if k > 0 else 0


def _line_cover_local(
    blob, shift: int, buf: int, nmax: int, dx: int = 0
) -> list[tuple[int, int, bytes]]:
    """(tx, ty, tile-LOCAL packed sub-geometry) per covered tile: each
    tile row carries only the segments that touch it (consecutive runs
    merged), not the whole line — the Spark analog of the reference's
    rewrite passing CLIPPED geometry to child shards (tile.cpp:443-534).
    Without this, a line spanning S tiles duplicates its full geometry
    S times per zoom, which detonates executor memory at deep zooms
    (measured: z14 on 25k long routes > 26 GB).  ``dx`` is the dateline
    twin world shift; the emitted sub-geometry is pre-shifted (the
    joined-back row sets _dl to 0)."""
    ops, xs, ys = featmod.unpack_cmds(blob, dx)
    pb = np.flatnonzero(ops == OP_LINETO)
    if len(pb) == 0:
        return []
    pa = pb - 1  # command streams are sequential: the segment start is
    # always the immediately preceding vertex row
    sids, txs, tys = _segments_cover_vec(
        xs[pa], ys[pa], xs[pb], ys[pb], shift, buf, nmax
    )
    if len(sids) == 0:
        return []
    key = (txs << 32) | tys
    order = np.lexsort((sids, key))
    key, sids = key[order], sids[order]
    bounds = np.concatenate(
        [[0], np.flatnonzero(np.diff(key) != 0) + 1, [len(key)]]
    )
    out = []
    for s, e in zip(bounds[:-1], bounds[1:]):
        tx, ty = int(key[s] >> 32), int(key[s] & 0xFFFFFFFF)
        a_arr = pa[sids[s:e]]
        b_arr = pb[sids[s:e]]
        new_run = np.empty(len(a_arr), dtype=bool)
        new_run[0] = True
        np.not_equal(a_arr[1:], b_arr[:-1], out=new_run[1:])
        nm = np.cumsum(new_run)
        total = len(a_arr) + int(nm[-1])
        ops_o = np.full(total, OP_LINETO, dtype=np.int64)
        xs_o = np.empty(total, dtype=np.int64)
        ys_o = np.empty(total, dtype=np.int64)
        li_pos = np.arange(len(a_arr), dtype=np.int64) + nm
        xs_o[li_pos] = xs[b_arr]
        ys_o[li_pos] = ys[b_arr]
        mv_pos = li_pos[new_run] - 1
        ops_o[mv_pos] = OP_MOVETO
        xs_o[mv_pos] = xs[a_arr[new_run]]
        ys_o[mv_pos] = ys[a_arr[new_run]]
        out.append((tx, ty, featmod.pack_cmds_arrays(ops_o, xs_o, ys_o)))
    return out


_WALK_FLUSH = 200_000  # emitted tile-rows per yielded pandas frame


def _walk_wide_lines(wide: DataFrame, keys: list[str], cover_fn) -> DataFrame:
    """The exact conservative walk for wide-span lines: one row per
    (row of ``wide``, covered tile) carrying the tile-local sub-geometry
    from ``cover_fn(geometry, zz, dx)`` (``zz`` is None when ``keys``
    holds no zoom column).  Returns ``wide``'s columns plus tx, ty.

    One deep-zoom line can cover thousands of tiles: the Python kernel
    carries ONLY the row key (``keys``, unique per source row) and the
    geometry, in output frames of at most ``_WALK_FLUSH`` rows (emitting
    a whole input batch at once OOMs the python worker), and the JVM
    re-attaches the other columns with a broadcast join (attrs/url
    string duplication in pandas was the dominant assignment cost)."""
    has_dl = "_dl" in wide.columns
    z_col = "zz" if "zz" in keys else None
    walk_cols = keys + (["_dl"] if has_dl else []) + ["geometry"]
    walk_schema = T.StructType(
        [wide.schema[c] for c in walk_cols]
        + [
            T.StructField("tx", T.IntegerType()),
            T.StructField("ty", T.IntegerType()),
        ]
    )

    def walk(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            geoms = pdf["geometry"].to_numpy()
            zzs = pdf[z_col].to_numpy() if z_col else None
            dls = pdf["_dl"].to_numpy() if has_dl else None
            src_rows: list[int] = []
            txs: list[int] = []
            tys: list[int] = []
            sub_geoms: list[bytes] = []

            def flush():
                out = pdf.iloc[np.array(src_rows, dtype=np.int64)].reset_index(drop=True)
                out["geometry"] = sub_geoms
                out["tx"] = np.array(txs, dtype=np.int32)
                out["ty"] = np.array(tys, dtype=np.int32)
                if dls is not None:
                    # emitted sub-geometry is pre-shifted by the twin delta
                    out["_dl"] = np.zeros(len(out), dtype=np.int64)
                return out

            for i in range(n):
                cover = cover_fn(
                    geoms[i],
                    zzs[i] if zzs is not None else None,
                    int(dls[i]) if dls is not None else 0,
                )
                for t_x, t_y, sub in cover:
                    src_rows.append(i)
                    txs.append(t_x)
                    tys.append(t_y)
                    sub_geoms.append(sub)
                if len(src_rows) >= _WALK_FLUSH:
                    yield flush()
                    src_rows, txs, tys, sub_geoms = [], [], [], []
            if src_rows:
                yield flush()

    walked = wide.select(*walk_cols).mapInPandas(walk, schema=walk_schema)
    # the walked _dl=0 replaces the source row's (drop it to avoid the clash)
    return walked.join(
        F.broadcast(wide.drop("geometry", *(["_dl"] if has_dl else []))), keys
    )


def with_dateline_twins(features: DataFrame, cfg: TilingConfig) -> DataFrame:
    """Dateline propagation for z >= 1: the reference duplicates
    edge-touching geometry at z0 (tile.cpp:977-1001) and the z0 clip's
    output feeds children via the rewrite step, so deeper east/west edge
    tiles see the wrapped copy too.  Our per-zoom assignment derives
    from the ORIGINAL features, so the equivalent is a shifted twin
    feature (geometry ±2^32, pure Catalyst transform) whose minzoom
    starts at 1 — at z0 the tile kernel concatenates the copies into one
    feature instead (matching the reference's single-feature z0 output).
    Each z>=1 tile sees at most one copy (a tile+buffer spans less than
    half the world), so per-tile feature multisets match the reference."""
    if cfg.buffer <= 0:
        return features.withColumn("_twin", F.lit(False)).withColumn(
            "_dl", F.lit(0).cast("long")
        )
    world = 1 << 32
    buf0 = world * cfg.buffer // 256
    left = F.col("minx") <= buf0
    right = F.col("maxx") >= world - buf0
    # ONE explode instead of a three-branch union: each feature emits a
    # delta list {0} ∪ {+world if left} ∪ {-world if right} — no extra
    # relation scans, no multiplied task counts (the union formulation
    # measurably cost ~8% of pyramid wall and ~0.1 scaling efficiency)
    deltas = F.concat(
        F.array(F.lit(0).cast("long")),
        F.when(left, F.array(F.lit(world).cast("long"))).otherwise(
            F.array().cast("array<long>")
        ),
        F.when(right, F.array(F.lit(-world).cast("long"))).otherwise(
            F.array().cast("array<long>")
        ),
    )
    out = features.withColumn("_dl", F.explode(deltas))
    # geometry itself is NOT rewritten: the packed-binary blob rides
    # through the shuffle unchanged and the kernels apply the ``_dl``
    # world shift at unpack time (unpack_cmds(blob, dx)) — the twin costs
    # one long column, not a rewritten geometry copy
    is_twin = F.col("_dl") != 0
    return (
        out.withColumn("minx", F.col("minx") + F.col("_dl"))
        .withColumn("maxx", F.col("maxx") + F.col("_dl"))
        .withColumn(
            "feature_minzoom",
            F.when(
                is_twin, F.greatest(F.col("feature_minzoom"), F.lit(1))
            ).otherwise(F.col("feature_minzoom")),
        )
        .withColumn("_twin", is_twin)
    )


def _twin_col(features: DataFrame):
    return F.col("_twin") if "_twin" in features.columns else F.lit(False)


def forced_keep_tiles(features: DataFrame, cfg: TilingConfig) -> DataFrame:
    """Per-(zoom, tile) forced first-feature admissions (tile.cpp:
    1290-1301: "the first feature in each tile is always kept").

    The reference streams every buffered feature of a tile in (ix, seq)
    order; the first NON-explicit-minzoom one creates the per-layer count
    entry and is kept even below its rate-drop minzoom — and only in THAT
    tile (a buffered neighbor's keep does not leak back to the home
    tile).  This returns the extra admission rows ``(seq, minx, zz, tx,
    ty)`` for winners whose feature_minzoom > zz — the rows natural
    assignment would skip.  The relation is a conservative SUPERSET
    (bbox-span membership; wide-span features skipped — they have
    minzoom 0 and never need forcing): the tile kernel re-runs the exact
    stream-first check over the admitted rows, so over-admission is
    harmless and the semantics stay exact.

    Scale shape: explode zooms-below-basezoom × buffered span (span is 1
    for points, tiny for small geoms), map-side-combined min per (zoom,
    tile, layer) — shuffle is one row per occupied tile, not per feature.
    """
    bz = min(cfg.resolved_basezoom(), cfg.maxzoom)
    empty = features.sparkSession.createDataFrame(
        [], "seq long, minx long, zz int, tx int, ty int"
    )
    if not cfg.keep_first_per_tile or cfg.no_feature_dropping or bz <= cfg.minzoom:
        return empty
    # explicit tippecanoe:minzoom features never create the count entry
    # (tile.cpp:1290: `if (sf.tippecanoe_minzoom == -1)`)
    cand = features.filter(F.col("attrs").getItem("tippecanoe_minzoom").isNull())
    zz = F.explode(F.sequence(F.lit(cfg.minzoom), F.lit(bz - 1)))
    tagged = cand.withColumn("zz", zz)
    # twins never compete at z0 — the z0 kernel concatenates the dateline
    # wrap into the original feature instead of a second stream entry
    tagged = tagged.filter(~(_twin_col(features) & (F.col("zz") == 0)))
    if "feature_maxzoom" in features.columns:
        tagged = tagged.filter(F.col("feature_maxzoom") >= F.col("zz"))
    shift = F.lit(32) - F.col("zz")
    pow_shift = F.pow(F.lit(2.0), shift)
    buf = F.when(
        shift >= 8, F.lit(float(cfg.buffer)) * F.pow(F.lit(2.0), shift - 8)
    ).otherwise(F.lit(float(cfg.buffer)))
    nmax = F.pow(F.lit(2.0), F.col("zz")) - 1
    tx0 = F.greatest(F.lit(0.0), F.floor((F.col("minx") - buf - 1) / pow_shift)).cast("int")
    tx1 = F.least(nmax, F.floor((F.col("maxx") + buf) / pow_shift)).cast("int")
    ty0 = F.greatest(F.lit(0.0), F.floor((F.col("miny") - buf - 1) / pow_shift)).cast("int")
    ty1 = F.least(nmax, F.floor((F.col("maxy") + buf) / pow_shift)).cast("int")
    tagged = tagged.filter((tx1 >= tx0) & (ty1 >= ty0))
    span = (tx1 - tx0 + 1) * (ty1 - ty0 + 1)
    # Wide-span rows are skipped only when they can never need forcing
    # (feature_minzoom <= zz ⇒ natural assignment already admits them).
    # Today only points carry rate-drop minzooms so the second disjunct
    # is vacuous, but if line/polygon dropping is ever stamped, wide
    # stream-first features stay correct instead of silently vanishing.
    tagged = tagged.filter(
        (span <= F.lit(float(_WIDE_SPAN)))
        | (F.col("feature_minzoom") > F.col("zz"))
    )
    spanned = tagged.withColumn("tx", F.explode(F.sequence(tx0, tx1))).withColumn(
        "ty", F.explode(F.sequence(ty0, ty1))
    )
    # winners per (tile, layer, geom_type): the per-layer stream-first
    # keep (tile.cpp:1290-1301) is the min over the geom_type groups, and
    # the FALL-THROUGH keep (tile.cpp:2003-2008: a rate-dropped feature
    # with no prior same-layer-same-type feature to accumulate onto is
    # kept, not dropped — nullisland golden) needs the stream-first of
    # each (layer, geom_type) as an admission candidate too
    win = (
        spanned.groupBy("zz", "tx", "ty", "layer", "geom_type")
        .agg(
            F.min(
                F.struct(
                    F.col("index"),
                    F.col("seq"),
                    F.col("minx"),
                    F.col("feature_minzoom").alias("fmz"),
                )
            ).alias("m")
        )
        .filter(F.col("m.fmz") > F.col("zz"))
    )
    return win.select(
        F.col("m.seq").alias("seq"), F.col("m.minx").alias("minx"), "zz", "tx", "ty"
    )


def rate_drop_strategies(features: DataFrame, cfg: TilingConfig) -> list[dict] | None:
    """Per-zoom strategy counters for the metadata ``strategies`` row
    (stringify_strategies, mbtiles.cpp:372-460) — currently exact for
    builds whose ONLY dropping is the rate cascade: per (zoom, tile,
    layer, geom_type) stream, every buffered member with
    feature_minzoom > zoom counts as dropped_by_rate EXCEPT the
    stream-first member when it leads the whole group (no prior
    same-layer-same-type feature to accumulate onto ⇒ kept,
    tile.cpp:1970-1977 + find_feature_to_accumulate_onto).

    Returns None when other drop mechanisms are active (gamma,
    clustering, multipliers, as-needed strategies, explicit per-feature
    minzooms) — their counters are not modeled yet."""
    if (
        cfg.gamma > 0
        or cfg.cluster_distance != 0
        or cfg.retain_points_multiplier > 1
        or cfg.drop_densest_as_needed or cfg.drop_smallest_as_needed
        or cfg.drop_fraction_as_needed or cfg.coalesce_densest_as_needed
        or cfg.coalesce_smallest_as_needed or cfg.cluster_densest_as_needed
        or cfg.limit_tile_feature_count
        or cfg.drop_by_attribute
        or cfg.variable_depth_pyramid
    ):
        return None
    bz = min(cfg.resolved_basezoom(), cfg.maxzoom)
    out = [dict() for _ in range(cfg.maxzoom + 1)]
    if cfg.no_feature_dropping or bz <= cfg.minzoom:
        return out
    featT = with_dateline_twins(features, cfg)
    if (
        featT.filter(
            F.col("attrs").getItem("tippecanoe_minzoom").isNotNull()
        ).limit(1).count()
        > 0
    ):
        return None  # explicit minzooms change the admission stream
    zz = F.explode(F.sequence(F.lit(cfg.minzoom), F.lit(bz - 1)))
    tagged = featT.withColumn("zz", zz)
    tagged = tagged.filter(~(_twin_col(featT) & (F.col("zz") == 0)))
    shift = F.lit(32) - F.col("zz")
    pow_shift = F.pow(F.lit(2.0), shift)
    buf = F.when(
        shift >= 8, F.lit(float(cfg.buffer)) * F.pow(F.lit(2.0), shift - 8)
    ).otherwise(F.lit(float(cfg.buffer)))
    nmax = F.pow(F.lit(2.0), F.col("zz")) - 1
    tx0 = F.greatest(F.lit(0.0), F.floor((F.col("minx") - buf - 1) / pow_shift)).cast("int")
    tx1 = F.least(nmax, F.floor((F.col("maxx") + buf) / pow_shift)).cast("int")
    ty0 = F.greatest(F.lit(0.0), F.floor((F.col("miny") - buf - 1) / pow_shift)).cast("int")
    ty1 = F.least(nmax, F.floor((F.col("maxy") + buf) / pow_shift)).cast("int")
    tagged = tagged.filter((tx1 >= tx0) & (ty1 >= ty0))
    span = (tx1 - tx0 + 1) * (ty1 - ty0 + 1)
    # wide-span features are lines/polygons with minzoom 0 — they never
    # rate-drop, so skipping them loses nothing from the counters
    tagged = tagged.filter(span <= F.lit(float(_WIDE_SPAN)))
    spanned = tagged.withColumn("tx", F.explode(F.sequence(tx0, tx1))).withColumn(
        "ty", F.explode(F.sequence(ty0, ty1))
    )
    grp = (
        spanned.groupBy("zz", "tx", "ty", "layer", "geom_type")
        .agg(
            F.sum(
                (F.col("feature_minzoom") > F.col("zz")).cast("long")
            ).alias("nd"),
            F.min(
                F.struct(
                    F.col("index"), F.col("seq"),
                    F.col("feature_minzoom").alias("fmz"),
                )
            ).alias("first"),
        )
    )
    rows = (
        grp.groupBy("zz")
        .agg(
            (
                F.sum("nd")
                - F.sum((F.col("first.fmz") > F.col("zz")).cast("long"))
            ).alias("dropped")
        )
        .collect()
    )
    for r in rows:
        if r["dropped"]:
            out[r["zz"]]["dropped_by_rate"] = int(r["dropped"])
    return out


def _forced_extra_rows(
    features: DataFrame, cfg: TilingConfig, extra_zooms, cols,
    z_lo: int | None = None, z_hi: int | None = None,
):
    """Forced first-per-tile admission rows (all zooms) for the fused
    assignment: features below their natural admission zoom that are the
    (index, seq)-first of some buffered tile (tile.cpp:1290-1301)."""
    if cfg.full_stream_admission():
        # full admission covers every feature at every zoom —
        # forced keeps are subsumed; adding them would duplicate rows
        return (
            features.limit(0)
            .withColumn("zz", F.lit(0))
            .withColumn("tx", F.lit(0))
            .withColumn("ty", F.lit(0))
            .select(*cols)
        )
    forced = forced_keep_tiles(features, cfg)
    if z_lo is not None:
        forced = forced.filter(F.col("zz") >= F.lit(z_lo))
    if z_hi is not None:
        forced = forced.filter(F.col("zz") <= F.lit(z_hi))
    return (
        features.join(forced, ["seq", "minx"])
        .filter(F.col("feature_minzoom") > (F.col("zz").cast("double") + extra_zooms))
        .select(*cols)
    )


def assign_tiles_all(
    features: DataFrame,
    cfg: TilingConfig,
    z_lo: int | None = None,
    z_hi: int | None = None,
) -> DataFrame:
    """Tile assignment for EVERY zoom in one Catalyst branch: explode the
    per-feature surviving zoom range (``zz``), derive the buffered tile
    span arithmetically from ``zz`` (powers of two in exact doubles), and
    explode the span.  One pass over the input instead of one branch per
    zoom — plan size and cache traffic stay constant as maxzoom grows.
    Wide lines take the exact conservative walk across all zooms in one
    Arrow kernel.

    ``z_lo``/``z_hi`` restrict the produced zoom range (inclusive) — a
    per-zoom build asks for one zoom, and the subtree fan-out path keeps
    only the shallow zooms on per-(zoom, tile) rows."""
    lo = cfg.minzoom if z_lo is None else max(cfg.minzoom, z_lo)
    hi = cfg.maxzoom if z_hi is None else min(cfg.maxzoom, z_hi)
    top = F.lit(hi)
    if "feature_maxzoom" in features.columns:
        top = F.least(top, F.col("feature_maxzoom"))
    # multiplier candidates enter extra zooms early (ceil for integer zz);
    # dateline twins are exempt — their minzoom >= 1 is structural
    extra_zooms = F.when(_twin_col(features), F.lit(0.0)).otherwise(
        F.lit(cfg.multiplier_extra_zooms())
    )
    eff_min = F.ceil(F.col("feature_minzoom") - extra_zooms).cast("int")
    if cfg.full_stream_admission():
        # dropped features still stream through every zoom's tile (see
        # TilingConfig.full_stream_admission)
        eff_min = F.lit(cfg.minzoom)
    # a single-zoom build tags a literal zoom, so Catalyst folds the zoom
    # arithmetic below to constants: the exploded form cost a fresh-session
    # per-zoom build ~0.5 s more per zoom (geojson-cli, 4 cores)
    zz = F.explode(F.sequence(F.greatest(eff_min, F.lit(lo)), top)) if lo < hi else F.lit(lo)
    tagged = features.filter(
        (eff_min <= F.lit(hi))
        & (top >= F.greatest(eff_min, F.lit(lo)))
    ).withColumn("zz", zz)
    shift = F.lit(32) - F.col("zz")
    pow_shift = F.pow(F.lit(2.0), shift)
    # buffer_world(z): cfg.buffer << max(shift-8, 0)
    buf = F.when(
        shift >= 8, F.lit(float(cfg.buffer)) * F.pow(F.lit(2.0), shift - 8)
    ).otherwise(F.lit(float(cfg.buffer)))
    nmax = F.pow(F.lit(2.0), F.col("zz")) - 1
    tx0 = F.greatest(F.lit(0.0), F.floor((F.col("minx") - buf - 1) / pow_shift)).cast("int")
    tx1 = F.least(nmax, F.floor((F.col("maxx") + buf) / pow_shift)).cast("int")
    ty0 = F.greatest(F.lit(0.0), F.floor((F.col("miny") - buf - 1) / pow_shift)).cast("int")
    ty1 = F.least(nmax, F.floor((F.col("maxy") + buf) / pow_shift)).cast("int")
    if cfg.buffer > 0:
        # z0 edge membership (tile.cpp:977-1001): a feature touching (or
        # fully beyond) the ±world edge ALWAYS reaches the single z0
        # tile — the kernel concatenates the ±world copy and clips, so a
        # high-longitude geometry renders at its wrapped position even
        # when its own clamped tile range is empty
        world0 = 1 << 32
        buf00 = world0 * cfg.buffer // 256
        not_twin0 = (
            (F.col("_dl") == 0) if "_dl" in features.columns else F.lit(True)
        )
        edge0 = (
            (F.col("zz") == 0)
            & not_twin0
            & ((F.col("minx") <= buf00) | (F.col("maxx") >= world0 - buf00))
        )
        tx0 = F.when(edge0, F.lit(0)).otherwise(tx0).cast("int")
        tx1 = F.when(edge0, F.lit(0)).otherwise(tx1).cast("int")
    # empty clamped range (off-world twin side) must drop, not descend
    tagged = tagged.filter((tx1 >= tx0) & (ty1 >= ty0))
    edge_wide = None
    if cfg.full_stream_admission():
        # full-stream + dateline: full-x membership at zz == 1 ONLY.  The
        # z0 wrap concatenates the ±world copy and the serialized bbox
        # spans the copies' hull, so an edge-touching feature reaches
        # EVERY z1 tile of its y-band and its attributes accumulate there
        # even where its geometry clips empty (the reference's "XXX should
        # continue, but affects test outputs" reader path,
        # tile.cpp:1205-1209).  Deeper zooms see only the copies that
        # survived the parent's clip (rewrite skips empty geometry,
        # tile.cpp:444), i.e. the ordinary per-copy assignment.  Twins
        # (_dl != 0) keep their shifted bbox (the rendering copies).
        world = 1 << 32
        buf0 = world * cfg.buffer // 256
        not_twin = (
            (F.col("_dl") == 0) if "_dl" in features.columns else F.lit(True)
        )
        edge_wide = (
            (F.col("zz") == 1)
            & not_twin
            & ((F.col("minx") <= buf0) | (F.col("maxx") >= world - buf0))
        )
        tx0 = F.when(edge_wide, F.lit(0)).otherwise(tx0).cast("int")
        tx1 = F.when(edge_wide, nmax).otherwise(tx1).cast("int")
    span = (tx1 - tx0 + 1) * (ty1 - ty0 + 1)
    is_wide_line = (F.col("geom_type") == 2) & (span > _WIDE_SPAN)
    if edge_wide is not None:
        is_wide_line = is_wide_line & ~edge_wide

    small = (
        tagged.filter(~is_wide_line)
        .withColumn("tx", F.explode(F.sequence(tx0, tx1)))
        .withColumn("ty", F.explode(F.sequence(ty0, ty1)))
    )

    cols = [f.name for f in features.schema.fields] + ["zz", "tx", "ty"]

    def cover_fn(row_geom, zz, dx):
        z = int(zz)
        return _line_cover_local(
            row_geom, 32 - z,
            buffer_world(z, cfg) + _cover_slack(z, cfg),
            (1 << z) - 1, dx,
        )

    # (feature_id, minx, zz) uniquely identifies the source row even with
    # dateline twins (twins share feature_id but differ in minx)
    wide = _walk_wide_lines(
        tagged.filter(is_wide_line), ["feature_id", "minx", "zz"], cover_fn
    )
    return (
        small.select(*cols)
        .unionByName(wide.select(*cols))
        .unionByName(_forced_extra_rows(features, cfg, extra_zooms, cols, lo, hi))
    )


def _subtree_root_zoom(cfg: TilingConfig, lo: int, hi: int) -> int | None:
    """Root zoom R for the subtree fan-out of a build over zooms
    ``[lo, hi]``, or None when the per-(zoom, tile) assignment must be
    used everywhere.  The kernel expands each root to every zoom
    R..maxzoom, so only a range holding all of them (``lo <= R`` and
    ``hi == maxzoom``) can use it; a per-zoom build never does.

    Modes with cross-row semantics the in-kernel expansion does not
    reproduce are excluded: full-stream admission (every feature already
    rides every zoom, and its z1 dateline hull-membership special case
    lives in the Catalyst assignment), the vardepth planner (prunes
    per-(zz, tx, ty) keys with an anti-join), the zoom-global retry
    mode (single-zoom builds only), and point multipliers
    (``retain_points_multiplier > 1``): their multiplier candidates
    enter extra zooms early, and the in-kernel forced admissions
    reproduce only the M == 1 relation."""
    if cfg.subtree_depth <= 0:
        return None
    if (
        cfg.full_stream_admission()
        or cfg.global_threshold_retry
        or cfg.vardepth_confirm
        or cfg.variable_depth_pyramid
        or cfg.retain_points_multiplier > 1
    ):
        return None
    R = max(cfg.minzoom, 2, cfg.maxzoom - cfg.subtree_depth)
    if R >= cfg.maxzoom or lo > R or hi < cfg.maxzoom:
        return None
    return R


def _subtree_root_rows(
    features: DataFrame,
    cfg: TilingConfig,
    R: int,
) -> DataFrame:
    """One row per (candidate feature, zoom-R root tile), tagged
    ``zz = -(R + 1)``: the shuffle-side half of the subtree fan-out.  The
    tile kernel expands each root group to its descendant tiles for
    zooms R..maxzoom in-memory (``_flush_subtree``), so the deep-zoom
    fan-out — 4× more tile rows per zoom — never rides the shuffle.

    Candidates are a conservative SUPERSET of the features any
    descendant tile can admit (natural admission via eff_min/top, plus
    forced first-per-tile candidates, tile.cpp:1290-1301); the kernel
    applies the exact per-zoom membership.  Root cover is the buffered
    bbox span (wide lines: the exact conservative walk) at zoom R — a
    feature touching a buffered descendant tile always touches the
    buffered root (buffers shrink with depth), so root cover is
    sufficient."""
    top = F.lit(cfg.maxzoom)
    if "feature_maxzoom" in features.columns:
        top = F.least(top, F.col("feature_maxzoom"))
    extra_zooms = F.when(_twin_col(features), F.lit(0.0)).otherwise(
        F.lit(cfg.multiplier_extra_zooms())
    )
    eff_min = F.ceil(F.col("feature_minzoom") - extra_zooms).cast("int")
    cond = (top >= F.lit(R)) & (eff_min <= F.lit(cfg.maxzoom))
    bz = min(cfg.resolved_basezoom(), cfg.maxzoom)
    if cfg.keep_first_per_tile and not cfg.no_feature_dropping and bz - 1 >= R:
        # features beyond every natural zoom can still be forced
        # first-per-tile admissions below basezoom (forced_keep_tiles)
        cond = (top >= F.lit(R)) & (
            (eff_min <= F.lit(cfg.maxzoom))
            | F.col("attrs").getItem("tippecanoe_minzoom").isNull()
        )
    cand = features.filter(cond)
    shift = WORLD_BITS - R
    buf = buffer_world(R, cfg)
    nmax = (1 << R) - 1
    tx0 = F.greatest(F.lit(0), F.shiftright(F.col("minx") - buf - 1, shift)).cast("int")
    tx1 = F.least(F.lit(nmax), F.shiftright(F.col("maxx") + buf, shift)).cast("int")
    ty0 = F.greatest(F.lit(0), F.shiftright(F.col("miny") - buf - 1, shift)).cast("int")
    ty1 = F.least(F.lit(nmax), F.shiftright(F.col("maxy") + buf, shift)).cast("int")
    cand = cand.filter((tx1 >= tx0) & (ty1 >= ty0))
    span = (tx1 - tx0 + 1) * (ty1 - ty0 + 1)
    is_wide_line = (F.col("geom_type") == 2) & (span > _WIDE_SPAN)

    small = (
        cand.filter(~is_wide_line)
        .withColumn("tx", F.explode(F.sequence(tx0, tx1)))
        .withColumn("ty", F.explode(F.sequence(ty0, ty1)))
    )
    wide = _walk_wide_lines(
        cand.filter(is_wide_line),
        ["feature_id", "minx"],
        lambda row_geom, _z, dx: _line_cover_local(
            row_geom, shift, buf + _cover_slack(R, cfg), nmax, dx
        ),
    )
    out_cols = [f.name for f in features.schema.fields] + ["tx", "ty"]
    out = small.select(*out_cols).unionByName(wide.select(*out_cols))
    return out.withColumn("zz", F.lit(-(R + 1)))


# ---------------------------------------------------------------------------
# scaling helpers
# ---------------------------------------------------------------------------

def _box_tiles(x0: np.ndarray, x1: np.ndarray, y0: np.ndarray, y1: np.ndarray):
    """Every tile (tx, ty) of each inclusive box, with the box's
    position: ``(tx, ty, box)``."""
    wy = y1 - y0 + 1
    cnt = (x1 - x0 + 1) * wy
    box = np.repeat(np.arange(cnt.size), cnt)
    off = np.arange(box.size) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    return x0[box] + off // wy[box], y0[box] + off % wy[box], box


def _scale_params(z: int, cfg: TilingConfig):
    shift = WORLD_BITS - z
    # -d sets detail at MAXZOOM only; lower zooms use -D low_detail
    # (main.cpp:72-74, tile.cpp traverse_zooms full/low detail split)
    detail = cfg.detail_at(z)
    if cfg.vardepth_confirm:
        # vardepth first pass: full input resolution (tile.cpp:1710
        # first_detail = 30 - z) so a confirmed leaf is overzoomable
        detail = max(detail, 30 - z)
    extent_px = 1 << detail
    buf_px = (cfg.buffer * extent_px) >> 8
    # to_tile_scale (clip.cpp:507-519) uses std::round: (rel+half)>>k on
    # the aligned-origin relative coordinate reproduces it exactly for
    # the nonnegative absolute coords the reference scales (roads golden
    # pinned the rounding; truncation was off by one pixel)
    half = (1 << (shift - detail - 1)) if shift > detail else 0
    return shift, detail, extent_px, buf_px, half


def _to_px(w: np.ndarray, origin, shift: int, detail: int, half: int) -> np.ndarray:
    """World → tile px.  to_tile_scale runs on TILE-RELATIVE coords
    (clip_lines/clip_point bounds are 0..2^(32-z), so buffer points go
    negative) and std::round is half-AWAY-FROM-ZERO — the sign-aware
    form, not (rel+half)>>k, decides exact parity for buffered points
    landing on half-pixel boundaries (gscale-quantized inputs do)."""
    rel = np.asarray(w, dtype=np.int64) - origin
    return _tts_arr(rel, shift - detail)


def _shared_world_for_tile(shared, tx: int, ty: int, shift: int,
                           lo_w: int, hi_w: int):
    """World-coord shared-node arrays → tile-relative WORLD set (T24,
    used by the late-quantization polygon branch where DP runs in world
    coordinates)."""
    if shared is None:
        return None
    sx, sy = shared
    if len(sx) == 0:
        return None
    rx = np.asarray(sx, dtype=np.int64) - (tx << shift)
    ry = np.asarray(sy, dtype=np.int64) - (ty << shift)
    m = (rx >= lo_w) & (rx <= hi_w) & (ry >= lo_w) & (ry <= hi_w)
    if not m.any():
        return None
    return set(zip(rx[m].tolist(), ry[m].tolist()))


def _shared_px_for_tile(shared, tx: int, ty: int, shift: int, detail: int,
                        half: int, lo: int, hi: int):
    """World-coord shared-node arrays → tile-local pixel set (T24)."""
    if shared is None:
        return None
    sx, sy = shared
    if len(sx) == 0:
        return None
    px = _to_px(sx, tx << shift, shift, detail, half)
    py = _to_px(sy, ty << shift, shift, detail, half)
    m = (px >= lo) & (px <= hi) & (py >= lo) & (py <= hi)
    if not m.any():
        return None
    return set(zip(px[m].tolist(), py[m].tolist()))


# ---------------------------------------------------------------------------
# phase 1: prepare (clip + scale + simplify)
# ---------------------------------------------------------------------------

def _cmds_to_rings(cmds) -> list[tuple[np.ndarray, np.ndarray]]:
    """Flat (op, x, y) tuple stream → list of (x,y) vertex arrays (one
    per MOVETO..CLOSEPATH/next-MOVETO run)."""
    rings = []
    cur_x: list[int] = []
    cur_y: list[int] = []
    for op, x, y in cmds:
        if op == OP_MOVETO:
            if cur_x:
                rings.append((np.array(cur_x, dtype=np.int64), np.array(cur_y, dtype=np.int64)))
            cur_x, cur_y = [x], [y]
        elif op == OP_LINETO:
            cur_x.append(x)
            cur_y.append(y)
        elif op == OP_CLOSEPATH:
            if cur_x:
                rings.append((np.array(cur_x, dtype=np.int64), np.array(cur_y, dtype=np.int64)))
            cur_x, cur_y = [], []
    if cur_x:
        rings.append((np.array(cur_x, dtype=np.int64), np.array(cur_y, dtype=np.int64)))
    return rings


def _dedupe_consecutive(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """remove_noop analog (clip.cpp:532-604): collapse zero-length linetos
    after rounding to the tile grid."""
    if len(x) <= 1:
        return x, y
    keep = np.empty(len(x), dtype=bool)
    keep[0] = True
    # slice-compare instead of np.diff: same mask, half the temporaries
    # and none of np.diff's python dispatch (this runs per clipped part)
    np.not_equal(x[1:], x[:-1], out=keep[1:])
    keep[1:] |= y[1:] != y[:-1]
    if keep.all():
        return x, y
    return x[keep], y[keep]


def _point_cmds(a: int, b: int, z: int, lo: int, hi: int) -> list[tuple[int, int, int]]:
    """Point command tuples; at z0 a point inside the buffered world edge
    also appears shifted by a world width (tile.cpp:977-1001)."""
    cmds = [(OP_MOVETO, a, b)]
    if z == 0:
        buf_px = -lo
        extent_px = hi + lo
        if buf_px > 0:
            if a <= buf_px and a + extent_px <= hi:
                cmds.append((OP_MOVETO, a + extent_px, b))
            if a >= extent_px - buf_px and a - extent_px >= lo:
                cmds.append((OP_MOVETO, a - extent_px, b))
    return cmds


def _dateline_duplicate(
    rings: list[tuple[np.ndarray, np.ndarray]], z: int, lo: int, hi: int
) -> list[tuple[np.ndarray, np.ndarray]]:
    """z0 antimeridian handling (tile.cpp:977-1001): when a feature's
    px-space extent reaches the buffered world edge, append a copy
    shifted by a full world width so the clip keeps both sides — the
    dateline/wraparound fixture behavior."""
    if z != 0 or not rings:
        return rings
    buf_px = -lo
    extent_px = hi + lo
    if buf_px <= 0:
        return rings
    minx = min(int(r[0].min()) for r in rings)
    maxx = max(int(r[0].max()) for r in rings)
    out = list(rings)
    if minx <= buf_px:
        out += [(rx + extent_px, ry) for rx, ry in rings]
    if maxx >= extent_px - buf_px:
        out += [(rx - extent_px, ry) for rx, ry in rings]
    return out


def _parts_to_arrays(
    parts: list[tuple[np.ndarray, np.ndarray, bool]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """(vertex-run, closed?) parts → one (ops, xs, ys) command stream —
    the kernel's array-native interchange (no per-vertex Python tuples)."""
    if not parts:
        return None
    total = sum(len(cx) + (1 if closed else 0) for cx, _, closed in parts)
    ops = np.full(total, OP_LINETO, dtype=np.int64)
    xs = np.zeros(total, dtype=np.int64)
    ys = np.zeros(total, dtype=np.int64)
    pos = 0
    for cx, cy, closed in parts:
        n = len(cx)
        ops[pos] = OP_MOVETO
        xs[pos:pos + n] = cx
        ys[pos:pos + n] = cy
        pos += n
        if closed:
            ops[pos] = OP_CLOSEPATH
            pos += 1
    return ops, xs, ys


# worker-local geometry caches: the tile assignment fans one feature out
# to every tile it touches, so the SAME packed blob reaches the kernel
# once per (feature, tile) — ~14x duplication at z0-z8 on the bench
# corpus.  Decode (blob→world rings) and zoom scaling (world→global px at
# zoom z) are tile-independent: px = (w - (t<<shift))>>(shift-detail)
# distributes exactly over the aligned origin, so per tile only the
# origin subtraction remains.  Entries are never mutated downstream
# (every consumer subtracts/copies into fresh arrays).
_DECODE_CACHE: dict = {}
_GEOM_CACHE_MAX = 200_000


def _cached_world_rings(row_geom, dx: int):
    key = (row_geom, dx)
    rings = _DECODE_CACHE.get(key)
    if rings is None:
        rings = featmod.blob_to_rings(row_geom, dx)
        if len(_DECODE_CACHE) >= _GEOM_CACHE_MAX:
            _DECODE_CACHE.clear()
        _DECODE_CACHE[key] = rings
    return rings


_WBBOX_CACHE: dict = {}
_SEG_CACHE: dict = {}


def _cached_segments(row_geom, dx: int):
    """All segment endpoints of a feature's rings, concatenated —
    (x0, y0, x1, y1) world-coordinate arrays, once per (blob, twin).
    Feeds the in-subtree wide-line walk (zoom-independent)."""
    key = (row_geom, dx)
    seg = _SEG_CACHE.get(key)
    if seg is None:
        xs0, ys0, xs1, ys1 = [], [], [], []
        for rx, ry in _cached_world_rings(row_geom, dx):
            if len(rx) >= 2:
                xs0.append(rx[:-1])
                ys0.append(ry[:-1])
                xs1.append(rx[1:])
                ys1.append(ry[1:])
        if xs0:
            seg = (
                np.concatenate(xs0), np.concatenate(ys0),
                np.concatenate(xs1), np.concatenate(ys1),
            )
        else:
            z = np.empty(0, dtype=np.int64)
            seg = (z, z, z, z)
        if len(_SEG_CACHE) >= _GEOM_CACHE_MAX:
            _SEG_CACHE.clear()
        _SEG_CACHE[key] = seg
    return seg


def _cached_world_bboxes(row_geom, dx: int):
    """Per-ring and whole-feature world bboxes, once per (blob, twin):
    (ring_boxes, fx0, fy0, fx1, fy1).  Drives the polygon branch's
    quick-check ancestor walk and per-ring inside tests without per-tile
    numpy min/max."""
    key = (row_geom, dx)
    got = _WBBOX_CACHE.get(key)
    if got is None:
        boxes = []
        fx0 = fy0 = (1 << 62)
        fx1 = fy1 = -(1 << 62)
        for rx, ry in _cached_world_rings(row_geom, dx):
            if not len(rx):
                boxes.append((0, 0, -1, -1))
                continue
            b = (int(rx.min()), int(ry.min()), int(rx.max()), int(ry.max()))
            boxes.append(b)
            fx0 = min(fx0, b[0]); fy0 = min(fy0, b[1])
            fx1 = max(fx1, b[2]); fy1 = max(fy1, b[3])
        got = (boxes, fx0, fy0, fx1, fy1)
        if len(_WBBOX_CACHE) >= _GEOM_CACHE_MAX:
            _WBBOX_CACHE.clear()
        _WBBOX_CACHE[key] = got
    return got


def _strip_collinear_ring(
    rx: np.ndarray, ry: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """wagyu/Clipper vertex minimization (the reference's post-scale
    coalesce_polygon, tile.cpp:691, always rebuilds ring boundaries):
    out-and-back spikes and straight-through collinear vertices do not
    survive the clean, cyclically (ring treated closed)."""
    if len(rx) <= 12:
        # scalar twin of the loop below (same pass structure: all cyclic
        # duplicates first, then all zero-cross vertices, repeat) — tiny
        # rings dominate and 4 numpy rolls per pass cost more than the
        # integer arithmetic
        xs = [int(v) for v in rx]
        ys = [int(v) for v in ry]
        while len(xs) >= 3:
            n = len(xs)
            keep = [
                i for i in range(n)
                if not (
                    xs[i] == xs[(i + 1) % n] and ys[i] == ys[(i + 1) % n]
                )
            ]
            if len(keep) != n:
                xs = [xs[i] for i in keep]
                ys = [ys[i] for i in keep]
                continue
            keep = []
            for i in range(n):
                p = i - 1
                j = i + 1 if i + 1 < n else 0
                cross = (xs[i] - xs[p]) * (ys[j] - ys[p]) - (
                    ys[i] - ys[p]
                ) * (xs[j] - xs[p])
                if cross != 0:
                    keep.append(i)
            if len(keep) == n:
                break
            xs = [xs[i] for i in keep]
            ys = [ys[i] for i in keep]
        return (
            np.array(xs, dtype=np.int64),
            np.array(ys, dtype=np.int64),
        )
    while len(rx) >= 3:
        nx2, ny2 = np.roll(rx, -1), np.roll(ry, -1)
        m = (rx != nx2) | (ry != ny2)
        if not m.all():
            rx, ry = rx[m], ry[m]
            continue
        px2, py2 = np.roll(rx, 1), np.roll(ry, 1)
        cross = (rx - px2) * (ny2 - py2) - (ry - py2) * (nx2 - px2)
        m = cross != 0
        if m.all():
            break
        rx, ry = rx[m], ry[m]
    return rx, ry


def _union_touch_points(
    rings: list[tuple[np.ndarray, np.ndarray]],
) -> set:
    """Vertices of one ring that lie exactly on another ring's boundary
    (shared vertices included).  Bounded to small ring sets — the same
    4096-vertex ceiling as rings_need_cleaning's cheap path."""
    if sum(len(r[0]) for r in rings) > 4096:
        return set()
    touch: set = set()
    boxes = [
        (int(r[0].min()), int(r[1].min()), int(r[0].max()), int(r[1].max()))
        for r in rings
    ]
    for i in range(len(rings)):
        for j in range(len(rings)):
            if i == j:
                continue
            bi, bj = boxes[i], boxes[j]
            if bi[0] > bj[2] or bj[0] > bi[2] or bi[1] > bj[3] or bj[1] > bi[3]:
                continue
            vx, vy = rings[i]
            jx, jy = rings[j]
            nxt_x, nxt_y = np.roll(jx, -1), np.roll(jy, -1)
            for ax, ay, bx, by in zip(
                jx.tolist(), jy.tolist(), nxt_x.tolist(), nxt_y.tolist()
            ):
                dx, dy = bx - ax, by - ay
                col = (vx - ax) * dy == (vy - ay) * dx
                t = (vx - ax) * dx + (vy - ay) * dy
                on = col & (t >= 0) & (t <= dx * dx + dy * dy)
                for k in np.flatnonzero(on):
                    touch.add((int(vx[k]), int(vy[k])))
    return touch


def _impose_touch_points(
    rx: np.ndarray, ry: np.ndarray, touch: set
) -> tuple[np.ndarray, np.ndarray]:
    """Insert union touch points (vertices shared by multiple input
    rings) that lie strictly inside an output edge — wagyu retains these
    nodes in the merged boundary even where it is collinear."""
    n = len(rx)
    ox: list[int] = []
    oy: list[int] = []
    for i in range(n):
        ax, ay = int(rx[i]), int(ry[i])
        bx, by = int(rx[(i + 1) % n]), int(ry[(i + 1) % n])
        ox.append(ax)
        oy.append(ay)
        dx, dy = bx - ax, by - ay
        ins = []
        for px_, py_ in touch:
            if (px_ == ax and py_ == ay) or (px_ == bx and py_ == by):
                continue
            # exactly collinear and strictly between a and b
            if (px_ - ax) * dy != (py_ - ay) * dx:
                continue
            t_num = (px_ - ax) * dx + (py_ - ay) * dy
            if 0 < t_num < dx * dx + dy * dy:
                ins.append((t_num, px_, py_))
        for _, px_, py_ in sorted(ins):
            ox.append(px_)
            oy.append(py_)
    return np.array(ox, dtype=np.int64), np.array(oy, dtype=np.int64)


def _tts_arr(v: np.ndarray, k: int) -> np.ndarray:
    """to_tile_scale for one coordinate array (clip.cpp:507-519):
    std::round — half away from zero — by 2^k (k = 32 - detail - z)."""
    if k <= 0:
        return v << (-k)
    half = 1 << (k - 1)
    return np.where(v >= 0, (v + half) >> k, -((-v + half) >> k))


def _tts_int(v: int, k: int) -> int:
    """Scalar twin of _tts_arr."""
    if k <= 0:
        return v << (-k)
    half = 1 << (k - 1)
    return (v + half) >> k if v >= 0 else -((-v + half) >> k)


def _clip_line_runs_ref(
    rx: np.ndarray, ry: np.ndarray, lo_x: int, lo_y: int, hi_x: int, hi_y: int
) -> list[tuple[np.ndarray, np.ndarray]]:
    """clip_lines (clip.cpp:106-164): every segment is clipped
    independently by the integer Cohen–Sutherland clip with truncating
    division (clip.cpp:169-230).  A clipped segment always becomes its
    own 2-point run — the MOVETO it emits for the original endpoint is
    either consumed by the next segment or removed as unused
    (remove_noop second pass, clip.cpp:560-580) — while maximal chains
    of untouched segments stay one run.  Boundary vertices therefore
    DUPLICATE across adjacent runs exactly as in the reference."""
    runs: list[tuple[np.ndarray, np.ndarray]] = []
    cx: list[int] | None = None
    cy: list[int] | None = None
    n = len(rx)
    for i in range(1, n):
        x1, y1 = int(rx[i - 1]), int(ry[i - 1])
        x2, y2 = int(rx[i]), int(ry[i])
        c, a1, b1, a2, b2 = bordersmod._clip_cs(
            x1, y1, x2, y2, lo_x, lo_y, hi_x, hi_y
        )
        if c == 1:
            if cx is None:
                cx, cy = [x1], [y1]
            cx.append(x2)
            cy.append(y2)
        else:
            if cx is not None:
                runs.append(
                    (np.array(cx, dtype=np.int64), np.array(cy, dtype=np.int64))
                )
                cx = cy = None
            if c > 1:
                runs.append(
                    (
                        np.array([a1, a2], dtype=np.int64),
                        np.array([b1, b2], dtype=np.int64),
                    )
                )
    if cx is not None:
        runs.append((np.array(cx, dtype=np.int64), np.array(cy, dtype=np.int64)))
    return runs


def _snap_gscale(v: np.ndarray, g: int) -> np.ndarray:
    """Rewrite-time serialization snap (SHIFT_RIGHT/SHIFT_LEFT,
    tile.cpp:62, serial.cpp:29-31): std::round(x / 2^g) * 2^g.  Every
    zoom handoff re-quantizes the vertices a clip just created back to
    the geometry_scale grid (COORD_OFFSET is a multiple of 2^g, so the
    storage offset cancels).  Half away from zero, like std::round."""
    if g <= 0:
        return v
    half = 1 << (g - 1)
    return np.where(v >= 0, (v + half) >> g, -((-v + half) >> g)) << g


# (parts, gate-bbox, ancestor-ever-cut) per (feature-blob, dx, zoom,
# ancestor tile) — the cascade prefix shared by every descendant tile in
# the task (see _cascade_level).  Bounded like the decode cache.
_CASCADE_CACHE: dict = {}


def _cascade_input(
    row_geom, dx: int, z: int, x: int, y: int, cfg: TilingConfig,
    is_poly: bool,
) -> tuple[list, list, bool, bool]:
    """Absolute-world geometry tile (z, x, y) RECEIVES from its parent
    shard: (parts, part-bboxes, this-level-gate, ancestor-ever-gated).

    The reference hands each zoom the PARENT's clip_to_tile output
    re-serialized at geometry_scale (rewrite runs after clip_to_tile,
    tile.cpp:1201-1215; SHIFT_RIGHT snap at tile.cpp:523-530), so clip
    intersections cascade level by level, snapping to the 2^gscale grid
    between levels.  A single-shot clip of the original geometry lands
    up to a pixel away once gscale aligns vertices with the output grid
    (curve / nullisland goldens pinned this).  Gates replicate
    quick_check on the ORIGINAL feature bbox (geometry.cpp:147-174 —
    sf.bbox is never recomputed after clipping, only widened to the
    full world by the z0 antimeridian duplication, tile.cpp:996-998).
    Parts are unclosed rings (polygons) or vertex runs (lines)."""
    if z == 0:
        parts, boxes, gate = _cascade_base(row_geom, dx, cfg)
        return parts, boxes, gate, False
    parts, boxes, gbox, ever = _cascade_level(
        row_geom, dx, z - 1, x >> 1, y >> 1, cfg, is_poly
    )
    ext = 1 << (32 - z)
    aox, aoy = x << (32 - z), y << (32 - z)
    fbx0, fby0, fbx1, fby1 = gbox
    gate = not (
        fbx0 > aox and fby0 > aoy and fbx1 < aox + ext and fby1 < aoy + ext
    )
    return parts, boxes, gate, ever


def _part_boxes(parts: list) -> list:
    return [
        (int(rx.min()), int(ry.min()), int(rx.max()), int(ry.max()))
        if len(rx)
        else (0, 0, -1, -1)
        for rx, ry in parts
    ]


def _cascade_base(row_geom, dx: int, cfg: TilingConfig):
    """z0 INPUT: original quantized rings plus the antimeridian copies
    (tile.cpp:977-1001), and whether the z0 clip gate fires.  A dateline
    twin (dx != 0) IS the shifted copy the reference appends, so it
    always clips."""
    key = (row_geom, dx, -1, cfg.buffer)
    got = _CASCADE_CACHE.get(key)
    if got is not None:
        return got
    parts = list(_cached_world_rings(row_geom, dx))
    boxes, fbx0, fby0, fbx1, fby1 = _cached_world_bboxes(row_geom, dx)
    boxes = list(boxes)
    if dx:
        out = (parts, boxes, True)
    else:
        z0buf = (cfg.buffer << 32) >> 8
        dateline = fbx0 <= z0buf or fbx1 >= (1 << 32) - z0buf
        if dateline:
            allp = list(parts)
            allb = list(boxes)
            if fbx0 <= z0buf:
                allp += [(rx + (1 << 32), ry) for rx, ry in parts]
                allb += [
                    (b0 + (1 << 32), b1, b2 + (1 << 32), b3)
                    for b0, b1, b2, b3 in boxes
                ]
            if fbx1 >= (1 << 32) - z0buf:
                allp += [(rx - (1 << 32), ry) for rx, ry in parts]
                allb += [
                    (b0 - (1 << 32), b1, b2 - (1 << 32), b3)
                    for b0, b1, b2, b3 in boxes
                ]
            parts, boxes = allp, allb
        gate = dateline or not (
            fbx0 > 0 and fby0 > 0 and fbx1 < (1 << 32) and fby1 < (1 << 32)
        )
        out = (parts, boxes, gate)
    if len(_CASCADE_CACHE) >= _GEOM_CACHE_MAX:
        _CASCADE_CACHE.clear()
    _CASCADE_CACHE[key] = out
    return out


def _gate_box(row_geom, dx: int, cfg: TilingConfig) -> tuple:
    """The bbox quick_check gates run on at every level: the original
    feature bbox, widened to the full world width by the z0 dateline
    duplication (sf.bbox mutation, tile.cpp:996-998) or for a twin."""
    _, fbx0, fby0, fbx1, fby1 = _cached_world_bboxes(row_geom, dx)
    z0buf = (cfg.buffer << 32) >> 8
    if dx or fbx0 <= z0buf or fbx1 >= (1 << 32) - z0buf:
        fbx0, fbx1 = 0, 1 << 32
    return (fbx0, fby0, fbx1, fby1)


def _cascade_level(
    row_geom, dx: int, zp: int, xp: int, yp: int, cfg: TilingConfig,
    is_poly: bool,
) -> tuple[list, list, tuple, bool]:
    """clip_to_tile output of ancestor (zp, xp, yp) AFTER the rewrite
    snap — what its children inherit.  Returns (parts, part-bboxes,
    gate-bbox, ever-gated).  Cached per ancestor tile: all 4^(z-zp)
    descendant tiles in a task share each prefix."""
    key = (row_geom, dx, zp, xp, yp, is_poly, cfg.buffer, cfg.gscale)
    got = _CASCADE_CACHE.get(key)
    if got is not None:
        return got
    gbox = _gate_box(row_geom, dx, cfg)
    if zp == 0:
        parts, boxes, gate = _cascade_base(row_geom, dx, cfg)
        ever = gate
    else:
        parts, boxes, _, prev_ever = _cascade_level(
            row_geom, dx, zp - 1, xp >> 1, yp >> 1, cfg, is_poly
        )
        ext = 1 << (32 - zp)
        aox, aoy = xp << (32 - zp), yp << (32 - zp)
        fbx0, fby0, fbx1, fby1 = gbox
        gate = not (
            fbx0 > aox and fby0 > aoy
            and fbx1 < aox + ext and fby1 < aoy + ext
        )
        ever = prev_ever or gate
    if gate:
        ext = 1 << (32 - zp)
        aox = (xp << (32 - zp)) if zp else 0
        aoy = (yp << (32 - zp)) if zp else 0
        buf = (cfg.buffer * ext) >> 8
        lo_x, lo_y = aox - buf, aoy - buf
        hi_x, hi_y = aox + ext + buf, aoy + ext + buf
        g = cfg.gscale
        # does anything change at this level?  A part poking past the
        # buffered window needs the clip; an exact consecutive
        # duplicate / closing duplicate / mergeable run junction (all
        # possible from an earlier level's snap) needs the
        # remove_noop(t, 0) dedupe even without a cut.  If neither,
        # the level is an exact no-op and the shared arrays pass on.
        need = False
        for (rx, ry), (bx0, by0, bx1, by1) in zip(parts, boxes):
            if not (bx0 > lo_x and bx1 < hi_x and by0 > lo_y and by1 < hi_y):
                need = True
                break
            if len(rx) > 1 and bool(
                np.any((rx[1:] == rx[:-1]) & (ry[1:] == ry[:-1]))
            ):
                need = True
                break
            if is_poly and len(rx) >= 2 and rx[0] == rx[-1] and ry[0] == ry[-1]:
                need = True
                break
        if not need and not is_poly:
            for i in range(1, len(parts)):
                if (
                    parts[i - 1][0][-1] == parts[i][0][0]
                    and parts[i - 1][1][-1] == parts[i][1][0]
                ):
                    need = True
                    break
        if need:
            # clip (SH rings / CS segment runs), then remove_noop(t, 0)
            # over the WHOLE stream (exact-duplicate collapse; for lines
            # also the exact MOVETO run merge), then the rewrite snap —
            # the reference's order inside clip_to_tile + rewrite
            new: list[tuple[np.ndarray, np.ndarray]] = []
            for (rx, ry), (bx0, by0, bx1, by1) in zip(parts, boxes):
                inside = (
                    bx0 > lo_x and bx1 < hi_x and by0 > lo_y and by1 < hi_y
                )
                if is_poly:
                    if inside:
                        cx, cy = rx, ry
                    else:
                        cx, cy = clipmod.clip_ring_ref(
                            rx, ry, lo_x, lo_y, hi_x, hi_y
                        )
                    cx, cy = _dedupe_consecutive(cx, cy)
                    if len(cx) >= 2 and cx[0] == cx[-1] and cy[0] == cy[-1]:
                        cx, cy = cx[:-1], cy[:-1]
                    if len(cx) >= 2:
                        new.append((cx, cy))
                else:
                    if inside:
                        runs_ = [(rx, ry)]
                    else:
                        runs_ = _clip_line_runs_ref(
                            rx, ry, lo_x, lo_y, hi_x, hi_y
                        )
                    for cx, cy in runs_:
                        cx, cy = _dedupe_consecutive(cx, cy)
                        if len(cx) < 2:
                            continue
                        if new:
                            px_, py_ = new[-1]
                            if px_[-1] == cx[0] and py_[-1] == cy[0]:
                                new[-1] = (
                                    np.concatenate([px_, cx[1:]]),
                                    np.concatenate([py_, cy[1:]]),
                                )
                                continue
                        new.append((cx, cy))
            parts = [
                (_snap_gscale(cx, g), _snap_gscale(cy, g)) for cx, cy in new
            ]
            boxes = _part_boxes(parts)
    out = (parts, boxes, gbox, ever)
    if len(_CASCADE_CACHE) >= _GEOM_CACHE_MAX:
        _CASCADE_CACHE.clear()
    _CASCADE_CACHE[key] = out
    return out
def _line_cmds_ref(
    row_geom, ox: int, oy: int, z: int, cfg: TilingConfig,
    shift: int, detail: int, dx: int, shared_world: set | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """VT_LINE pipeline in tile-relative WORLD coordinates — the
    reference's order and arithmetic end to end: per-segment integer
    Cohen–Sutherland clip to the buffered tile (clip.cpp:106-230),
    remove_noop rounded-px dedupe (clip.cpp:532-557; exact-only under
    -pn, tile.cpp:622-624), whole-feature line_is_too_small at EVERY
    zoom (clip.cpp:1903-1924, gate tile.cpp:2180-2183), simplify_lines
    (endpoint + shared-node necessary marking, impose_tile_boundaries
    against the tile square, reference Douglas-Peucker at
    res*simplification, geometry.cpp:219-313), and to_tile_scale
    std::round at the very end (clip.cpp:507-519)."""
    k = shift - detail
    # --extra-detail raises the OUTPUT scale only: simplification
    # tolerance, px dedupe and too-small all run at line_detail
    # (full_detail), while to_tile_scale uses out_detail
    # (simplification_worker, tile.cpp:595-683)
    k_line = k
    if z == cfg.maxzoom and cfg.extra_detail >= 0:
        k_line = shift - cfg.full_detail
    buf_w = (cfg.buffer << shift) >> 8
    lo_w, hi_w = -buf_w, (1 << shift) + buf_w
    extent_w = 1 << shift
    do_simp = cfg.simplify_at(z)
    res_w = float(1 << k_line) if k_line >= 0 else 1.0 / (1 << -k_line)
    tol_w = res_w * cfg.simplification

    # geometry arrives through the ancestor cascade (clip_to_tile at
    # every gated ancestor + the rewrite gscale snap between levels)
    parts_in, pboxes, gate_z, _ = _cascade_input(
        row_geom, dx, z, ox >> (32 - z), oy >> (32 - z), cfg, False
    )
    runs: list[tuple[np.ndarray, np.ndarray]] = []
    wlo_x, wlo_y = lo_w + ox, lo_w + oy
    whi_x, whi_y = hi_w + ox, hi_w + oy
    for (rx, ry), (bx0, by0, bx1, by1) in zip(parts_in, pboxes):
        if len(rx) < 2:
            continue
        if bx1 < wlo_x or bx0 > whi_x or by1 < wlo_y or by0 > whi_y:
            continue  # entirely outside the buffered window
        inside = (
            bx0 >= wlo_x and bx1 <= whi_x and by0 >= wlo_y and by1 <= whi_y
        )
        rx = rx - ox
        ry = ry - oy
        if inside or not gate_z:
            runs.append((rx, ry))
        else:
            runs.extend(_clip_line_runs_ref(rx, ry, lo_w, lo_w, hi_w, hi_w))
    if not runs:
        return None

    # remove_noop px dedupe (keep the FIRST world vertex of each run of
    # px-equal vertices; comparing to the immediate predecessor is
    # equivalent because dropped vertices share the kept one's px).
    # Under -pn the reference skips the px-scale pass (tile.cpp:622-624)
    # and only exact duplicates collapse (shard-writer remove_noop(0),
    # tile.cpp:1034).
    kk = 0 if cfg.preserve_shared_nodes else k_line
    deduped: list[tuple[np.ndarray, np.ndarray]] = []
    for cx, cy in runs:
        qx, qy = _tts_arr(cx, kk), _tts_arr(cy, kk)
        m = np.empty(len(cx), dtype=bool)
        m[0] = True
        np.logical_or(qx[1:] != qx[:-1], qy[1:] != qy[:-1], out=m[1:])
        if not m.all():
            cx, cy = cx[m], cy[m]
        if len(cx) < 2:
            continue  # unused moveto (remove_noop second pass)
        # remove_noop third pass (clip.cpp:586-601): a MOVETO landing on
        # the previous run's endpoint px MERGES the runs (the duplicate
        # boundary vertex the per-segment clip emitted disappears)
        if deduped:
            px_, py_ = deduped[-1]
            if (
                _tts_int(int(px_[-1]), kk) == _tts_int(int(cx[0]), kk)
                and _tts_int(int(py_[-1]), kk) == _tts_int(int(cy[0]), kk)
            ):
                deduped[-1] = (
                    np.concatenate([px_, cx[1:]]),
                    np.concatenate([py_, cy[1:]]),
                )
                continue
        deduped.append((cx, cy))
    if not deduped:
        return None

    # line_is_too_small (clip.cpp:1903-1924): EACH MOVETO part compared
    # against ITS OWN first pixel — the rounding resets per part, so a
    # multi-part line whose parts collapse into different single pixels
    # still drops.  Monotone rounding ⇒ bbox corners decide per part.
    small = True
    for cx, cy in deduped:
        qa = _tts_int(int(cx.min()), k_line), _tts_int(int(cy.min()), k_line)
        qb = _tts_int(int(cx.max()), k_line), _tts_int(int(cy.max()), k_line)
        if qa != qb:
            small = False
            break
    if small:
        return None

    parts: list[tuple[np.ndarray, np.ndarray, bool]] = []
    for cx, cy in deduped:
        if cfg.grid_low_zooms and z < cfg.maxzoom:
            # -aL: stairstep replaces simplification below maxzoom
            # (tile.cpp:602-604); stairstep itself rounds to px
            px, py = simpmod.stairstep(_tts_arr(cx, k), _tts_arr(cy, k))
            parts.append((px, py, False))
            continue
        if do_simp:
            nec = np.zeros(len(cx), dtype=bool)
            nec[0] = nec[-1] = True
            if shared_world:
                for vi in range(len(cx)):
                    if (int(cx[vi]), int(cy[vi])) in shared_world:
                        nec[vi] = True
            cx, cy, nec = bordersmod._impose_bounds_ref(cx, cy, nec, extent_w)
            if len(cx) > 2 and not nec.all():
                if cfg.visvalingam:
                    # -av empirical DP→VV tolerance mapping
                    # (geometry.cpp:289-293)
                    tolv = tol_w * (0.1596 * z + 0.878)
                    scale = float(np.exp(1.002 * np.log(tolv * tolv) + 0.3043))
                    nec = simpmod.visvalingam(cx, cy, scale, keep=nec)
                else:
                    bordersmod._dp_ref(cx, cy, nec, tol_w, kept=2, retain=0)
            cx, cy = cx[nec], cy[nec]
        qx, qy = _tts_arr(cx, k), _tts_arr(cy, k)
        # final tile-scale remove_noop (tile.cpp:2628-2631): boundary
        # imposition can land an inserted intersection on the px of an
        # adjacent vertex; exact duplicates never reach the MVT stream
        if len(qx) > 1:
            mm = np.empty(len(qx), dtype=bool)
            mm[0] = True
            np.logical_or(qx[1:] != qx[:-1], qy[1:] != qy[:-1], out=mm[1:])
            if not mm.all():
                qx, qy = qx[mm], qy[mm]
        parts.append((qx, qy, False))
    return _parts_to_arrays(parts)


def _world_clip_area(
    row_geom, dx: int, ox: int, oy: int, shift: int, detail: int,
    lo: int, hi: int,
) -> float:
    """World-precision signed area of the geometry clipped to a tile's
    pixel window [lo, hi] — the revival area for a polygon that pixel
    rounding collapsed (revive_polygon, tile.cpp:551-590)."""
    if shift >= detail:
        up = 1 << (shift - detail)
        wlo, whi = lo * up, hi * up
    else:
        dn = 1 << (detail - shift)
        wlo, whi = lo // dn, hi // dn
    wa = 0.0
    for rx, ry in _cached_world_rings(row_geom, dx):
        wx = np.asarray(rx, dtype=np.int64) - ox
        wy = np.asarray(ry, dtype=np.int64) - oy
        ccx, ccy = clipmod.clip_ring(wx, wy, wlo, wlo, whi, whi)
        if len(ccx) >= 3:
            wa += float(
                signed_area(ccx.astype(np.float64), ccy.astype(np.float64))
            )
    return wa


def _simplify_nonpoint_cmds(
    row_geom, gt: int, ox: int, oy: int, z: int, cfg: TilingConfig,
    shift: int, detail: int, half: int, lo: int, hi: int,
    tiny: simpmod.TinyPolygonReducer,
    shared_px: set | None = None,
    dx: int = 0,
    shared_world: set | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """Clip + scale + simplify one line/polygon feature (packed geometry
    blob, world-shifted by ``dx`` for dateline twins) → tile-local
    (ops, xs, ys) command arrays (None when nothing survives).
    ``shared_world`` (tile-relative world shared-node set, T24) marks
    vertices the simplifier must keep."""
    do_simp = cfg.simplify_at(z)

    parts: list[tuple[np.ndarray, np.ndarray, bool]] = []
    if gt == 2:
        # lines: the reference-order world-coordinate pipeline
        # (clip -> noop dedupe -> too-small -> simplify -> round)
        return _line_cmds_ref(
            row_geom, ox, oy, z, cfg, shift, detail, dx, shared_world
        )
    if cfg.detect_shared_borders:
        # -ab (T23): polygons stay at FULL RESOLUTION through the drop
        # loop — the reference runs find_common_edges on unscaled
        # tile-relative coords (tile.cpp:2464) and only afterwards
        # to_tile_scale + coalesce_polygon (tile.cpp:682-691), so
        # quantization, cleaning, and the joint arc simplification all
        # happen in the finalize kernel.  Tiny-polygon reduction still
        # precedes -ab in the reference's stream loop, so it runs here
        # with the area converted to detail-px² for the threshold.
        buf_w = (cfg.buffer << shift) >> 8
        lo_w, hi_w = -buf_w, (1 << shift) + buf_w
        frings = [
            (np.asarray(rx, dtype=np.int64) - ox, np.asarray(ry, dtype=np.int64) - oy)
            for rx, ry in _cached_world_rings(row_geom, dx)
        ]
        frings = _dateline_duplicate(frings, z, lo_w, hi_w)
        clipped_fr: list[tuple[np.ndarray, np.ndarray]] = []
        for rx, ry in frings:
            cx, cy = clipmod.clip_ring(rx, ry, lo_w, lo_w, hi_w, hi_w)
            if len(cx) < 3:
                continue
            cx, cy = _dedupe_consecutive(cx, cy)
            if len(cx) >= 3:
                clipped_fr.append((cx, cy))
        if cfg.tiny_reduction_on(z):
            clipped_fr, _, _ = simpmod.reduce_tiny_poly_ref(
                clipped_fr, z, detail, cfg.tiny_polygon_size, tiny
            )
        for cx, cy in clipped_fr:
            parts.append((cx, cy, True))
    elif cfg.grid_low_zooms:
        # -aL path (tile.cpp:602-608): tiny reduction is off under -aL
        # (tile.cpp:2163-2166) and stairstepping replaces simplification.
        # The reference clips in WORLD coordinates at the exact buffered
        # window and only THEN rounds to the detail grid (stairstep,
        # geometry.cpp:440-444) — clipping pre-rounded coords loses the
        # boundary slivers between the last integer px and the exact
        # 2.5-px buffer edge (grid-unaligned golden, buffered z8 tiles)
        kk_ = shift - detail
        buf_w = (cfg.buffer << shift) >> 8
        lo_w, hi_w = -buf_w, (1 << shift) + buf_w
        rings = [
            (np.asarray(rx, dtype=np.int64) - ox,
             np.asarray(ry, dtype=np.int64) - oy)
            for rx, ry in _cached_world_rings(row_geom, dx)
        ]
        rings = _dateline_duplicate(rings, z, lo_w, hi_w)
        deg_sx, deg_sy, deg_n = 0, 0, 0
        clipped_al: list[tuple[np.ndarray, np.ndarray]] = []
        saw_part = False
        one_px = True
        squashed_pre = False
        for rx, ry in rings:
            wx_, wy_ = clipmod.clip_ring(rx, ry, lo_w, lo_w, hi_w, hi_w)
            if len(wx_) == 0:
                continue
            cx, cy = _tts_arr(wx_, kk_), _tts_arr(wy_, kk_)
            saw_part = True
            if int(cx.min()) != int(cx.max()) or int(cy.min()) != int(cy.max()):
                one_px = False
            deg_sx += int(cx.sum())
            deg_sy += int(cy.sum())
            deg_n += len(cx)
            if len(cx) < 3:
                continue
            cx, cy = _dedupe_consecutive(cx, cy)
            if len(cx) >= 3:
                clipped_al.append((cx, cy))
            elif z < cfg.maxzoom:
                # ring collapsed under the px rounding: the reference's
                # post-stairstep area is zero, so no revival below
                # maxzoom (tile.cpp:602-608)
                squashed_pre = True
        # line_is_too_small gate — applies to POLYGONS too
        # (tile.cpp:2180-2183): every part's vertices rounding into its
        # own single px means the feature draws as nothing; no revival
        # (the reference drops it before the simplification worker)
        if saw_part and one_px:
            return None
        squashed = squashed_pre
        for cx, cy in clipped_al:
            if z < cfg.maxzoom:
                cx, cy = simpmod.stairstep(cx, cy)
                if len(cx) < 3 or signed_area(
                    cx.astype(np.float64), cy.astype(np.float64)
                ) == 0.0:
                    # grid-squashed ring: the reference computes the
                    # revival area AFTER stairstep (tile.cpp:602-608),
                    # so a zero-area snap drops with NO revival
                    squashed = True
                    continue
            parts.append((cx, cy, True))
        if not parts and deg_n > 0 and not squashed:
            wa = _world_clip_area(row_geom, dx, ox, oy, shift, detail, lo, hi)
            if wa > 0:
                rect = simpmod.revive_polygon(
                    wa, z, detail, deg_sx // deg_n, deg_sy // deg_n
                )
                if rect is not None:
                    parts.append((rect[0], rect[1], True))
    else:
        # General polygon path, restructured to the reference's order
        # (tile.cpp:2166, 606-699): clip, tiny-polygon reduction, and
        # Douglas-Peucker all run in tile-relative WORLD coordinates;
        # rounding to tile pixels (to_tile_scale, std::round) happens at
        # the very END, followed by the coalesce_polygon clean of the
        # rounding debris and area-equivalent revival.  Early pixel
        # quantization kept sub-pixel slivers the reference dissolves
        # (islands golden, first divergence at z0).
        buf_w = (cfg.buffer << shift) >> 8
        lo_w, hi_w = -buf_w, (1 << shift) + buf_w
        # geometry arrives through the ancestor cascade (clip_to_tile at
        # every gated ancestor + the rewrite gscale snap between levels,
        # _cascade_input); this level's clip runs when quick != 1 on the
        # original feature bbox (geometry.cpp:147-154)
        parts_in, pboxes, gate_z, ever = _cascade_input(
            row_geom, dx, z, ox >> (32 - z), oy >> (32 - z), cfg, True
        )
        clipped: list[tuple[np.ndarray, np.ndarray]] = []
        if gate_z:
            wlo_x, wlo_y = lo_w + ox, lo_w + oy
            whi_x, whi_y = hi_w + ox, hi_w + oy
            for (rx, ry), (b0, b1, b2, b3) in zip(parts_in, pboxes):
                if b2 < b0 or b2 < wlo_x or b0 > whi_x \
                        or b3 < wlo_y or b1 > whi_y:
                    continue  # ring fully outside the window
                rx = rx - ox
                ry = ry - oy
                if b0 > wlo_x and b2 < whi_x and b1 > wlo_y and b3 < whi_y:
                    # strictly inside: SH passes every vertex through
                    cx, cy = rx, ry
                else:
                    cx, cy = clipmod.clip_ring_ref(
                        rx, ry, lo_w, lo_w, hi_w, hi_w
                    )
                if len(cx) < 2:
                    continue
                cx, cy = _dedupe_consecutive(cx, cy)
                if len(cx) >= 2 and cx[0] == cx[-1] and cy[0] == cy[-1]:
                    cx, cy = cx[:-1], cy[:-1]
                # degenerate A-B spikes stay in the stream (the reference
                # only drops them in wagyu's >= 4-point feed gate) — they
                # still anchor feature-level revival and feed DP order
                if len(cx) >= 2:
                    clipped.append((cx, cy))
        elif ever:
            # quick == 1 here, but an ancestor rebuilt the geometry;
            # pass the inherited (clipped, snapped) rings through
            clipped = [
                (rx - ox, ry - oy) for rx, ry in parts_in if len(rx) >= 2
            ]
        else:
            # strictly inside the tile proper at every level: the
            # reference never rebuilt this geometry, so quantized
            # duplicate vertices survive into DP (they shift the
            # sub-tolerance retain admissions — parity-relevant)
            clipped = [
                (rx - ox, ry - oy) for rx, ry in parts_in if len(rx) >= 3
            ]
        # reduce_tiny_poly at world precision (tile.cpp:2166), at EVERY
        # zoom incl. maxzoom unless -pt/-pT/-aL; a feature is `reduced`
        # (skips DP, tile.cpp:612-616,2256) iff no ring represented itself
        reduced = False
        tiny_ate = False
        if cfg.tiny_reduction_on(z) and clipped:
            clipped, still_needs, reduced_away = simpmod.reduce_tiny_poly_ref(
                clipped, z, detail, cfg.tiny_polygon_size, tiny
            )
            reduced = not still_needs
            tiny_ate = reduced_away
        if not clipped:
            return None
        # get_mp_area on the post-reduce world geometry (tile.cpp:607-609)
        wa = 0.0
        for cx, cy in clipped:
            wa += simpmod._get_area_ref(cx, cy)
        # simplify_feature (tile.cpp:612-655): per-ring DP in world
        # coordinates at res*simplification with kept=2/retain=4, ring
        # treated CLOSED (first==last both necessary, the closing segment
        # visible to impose_tile_boundaries), boundary crossings pinned
        if do_simp and not reduced:
            # --extra-detail: tolerance at line_detail, not out_detail
            _ld = detail
            if z == cfg.maxzoom and cfg.extra_detail >= 0:
                _ld = cfg.full_detail
            tol_w = float(1 << (shift - _ld)) * cfg.simplification
            extent_w = 1 << shift
            nrings: list[tuple[np.ndarray, np.ndarray]] = []
            tot = 0
            for cx, cy in clipped:
                ccx = np.concatenate([cx, cx[:1]])
                ccy = np.concatenate([cy, cy[:1]])
                nec = np.zeros(len(ccx), dtype=bool)
                nec[0] = nec[-1] = True
                if shared_world:
                    # -pn (T24): shared nodes marked necessary in world
                    # coords (simplify_lines, geometry.cpp:234-268)
                    for vi in range(len(ccx)):
                        if (int(ccx[vi]), int(ccy[vi])) in shared_world:
                            nec[vi] = True
                ccx, ccy, nec = bordersmod._impose_bounds_ref(
                    ccx, ccy, nec, extent_w
                )
                if len(ccx) > 2:
                    if cfg.visvalingam:
                        # -av empirical DP→VV tolerance mapping
                        # (geometry.cpp:289-293)
                        tolv = tol_w * (0.1596 * z + 0.878)
                        scale = float(np.exp(1.002 * np.log(tolv * tolv) + 0.3043))
                        nec = simpmod.visvalingam(ccx, ccy, scale, keep=nec)
                    else:
                        bordersmod._dp_ref(ccx, ccy, nec, tol_w)
                rx2, ry2 = ccx[nec][:-1], ccy[nec][:-1]
                nrings.append((rx2, ry2))
                tot += len(rx2) + 1
            if tot >= 3:
                # simplify_feature keeps the original when the simplified
                # polygon would vanish (tile.cpp:652-654)
                clipped = nrings
        # to_tile_scale (clip.cpp:507-519): std::round to tile pixels
        k = shift - detail
        before_px = [(_tts_arr(cx, k), _tts_arr(cy, k)) for cx, cy in clipped]
        deg_sx = sum(int(p.sum()) for p, _ in before_px)
        deg_sy = sum(int(q.sum()) for _, q in before_px)
        deg_n = sum(len(p) for p, _ in before_px)
        # coalesce_polygon's role (tile.cpp:685-691): drop rounding
        # debris (duplicate vertices, degenerate and zero-area rings) and
        # positive-fill clean whatever the rounding made invalid
        survivors: list[tuple[np.ndarray, np.ndarray]] = []
        for px_, py_ in before_px:
            if len(px_) < 3:
                continue
            px_, py_ = _strip_collinear_ring(px_, py_)
            if len(px_) < 3:
                continue
            # a collinear-stripped ring with zero net area is necessarily
            # self-crossing — rings_need_cleaning routes it to the sweep,
            # which resolves the lobes positive-fill (no early drop)
            survivors.append((px_, py_))
        if cfg.clean_polygons and cleanmod.rings_need_cleaning(survivors):
            # a vertex of one ring lying ON another ring's boundary is a
            # union touch node: wagyu keeps it as an output vertex even
            # where the merged boundary is collinear through it (observed
            # coalesce_polygon behavior on the islands golden)
            touch = _union_touch_points(survivors)
            survivors = cleanmod.clean_rings(survivors)
            if touch:
                survivors = [
                    _impose_touch_points(sx_, sy_, touch)
                    for sx_, sy_ in survivors
                ]
        if survivors:
            for cx, cy in survivors:
                parts.append((cx, cy, True))
        elif wa > 0 and deg_n > 0:
            # T26 revival (tile.cpp:694-699): the polygon collapsed in
            # scaling/cleaning but had real world area — substitute an
            # area-equivalent rectangle anchored at the mean of the
            # scaled pre-clean vertices.  Sub-pixel slivers never get
            # here: reduce_tiny_poly already ate them at world precision.
            rect = simpmod.revive_polygon(
                wa, z, detail, deg_sx // deg_n, deg_sy // deg_n
            )
            if rect is not None:
                parts.append((rect[0], rect[1], True))
    return _parts_to_arrays(parts)


def _cleanup_coalesced_line(cmds: list, cfg: TilingConfig) -> list:
    """Post-coalesce linestring cleanup (tile.cpp:2556-2563 + the final
    remove_noop at 2628-2631): a MOVETO landing exactly on the previous
    run's endpoint merges the runs; each merged run is then DP-simplified
    at pixel scale (simplify_lines with z=32, detail=0 — tolerance =
    ``simplification`` px) with run endpoints pinned; runs that collapse
    to a single distinct vertex vanish."""
    from .geom import borders as bordersmod

    runs: list[tuple[list, list]] = []
    for op_, a_, b_ in cmds:
        if op_ == OP_MOVETO:
            if runs and runs[-1][0] and (
                runs[-1][0][-1] == a_ and runs[-1][1][-1] == b_
            ):
                continue  # remove_noop(0): run merge at shared endpoint
            runs.append(([a_], [b_]))
        elif op_ == OP_LINETO and runs:
            if runs[-1][0][-1] == a_ and runs[-1][1][-1] == b_:
                continue  # exact duplicate
            runs[-1][0].append(a_)
            runs[-1][1].append(b_)
    out: list = []
    tol = float(cfg.simplification)
    for xs_, ys_ in runs:
        if len(xs_) < 2:
            continue
        cx = np.asarray(xs_, dtype=np.int64)
        cy = np.asarray(ys_, dtype=np.int64)
        if len(cx) > 2 and cfg.simplify_at(32):
            nec = np.zeros(len(cx), dtype=bool)
            nec[0] = nec[-1] = True
            bordersmod._dp_ref(cx, cy, nec, tol, kept=2, retain=0)
            cx, cy = cx[nec], cy[nec]
        # degenerate after simplification: out-and-back collapsed onto
        # its endpoints (start == end with no surviving interior)
        if len(cx) < 2 or (
            len(cx) == 2 and cx[0] == cx[1] and cy[0] == cy[1]
        ):
            continue
        out.append((OP_MOVETO, int(cx[0]), int(cy[0])))
        out.extend(
            (OP_LINETO, int(a_), int(b_)) for a_, b_ in zip(cx[1:], cy[1:])
        )
    return out


def prepare_tile_pdf(pdf: pd.DataFrame, z: int, cfg: TilingConfig,
                     shared=None) -> pd.DataFrame:
    """Clip + scale + simplify the features of one tile.  Column-wise
    fast path for points; python loop only for the line/polygon
    minority."""
    cols = list(_PREPARED_COLS)
    if cfg.prefilter is not None:
        # per-tile user hook (plugin.cpp prefilter role): raw group rows
        # before clip/scale/simplify
        pdf = cfg.prefilter(pdf)
    if len(pdf) == 0:
        return pd.DataFrame({c: pd.Series(dtype=object) for c in cols})
    if len(pdf) > 1:
        # deterministic processing order regardless of arrival order — the
        # tiny-polygon accumulator is sequential (SURVEY §7 hard parts)
        pdf = pdf.sort_values(["index", "seq"], kind="mergesort")
    shift, detail, extent_px, buf_px, half = _scale_params(z, cfg)
    tx = int(pdf["tx"].iloc[0])
    ty = int(pdf["ty"].iloc[0])
    ox, oy = tx << shift, ty << shift
    lo, hi = -buf_px, extent_px + buf_px
    gts = pdf["geom_type"].to_numpy()

    frames: list[pd.DataFrame] = []
    # ---- points: column-wise (minx==x, miny==y for points) ----
    pt_mask = gts == 1
    # MultiPoint features (blob > one 17-byte cmd) need per-vertex clip —
    # route them through the generic loop below instead
    if pt_mask.any():
        blob_len = np.fromiter(
            (len(b) for b in pdf["geometry"].to_numpy()),
            dtype=np.int64, count=len(pdf),
        )
        multi_pt = pt_mask & (blob_len > 17)
        pt_mask = pt_mask & ~multi_pt
    else:
        multi_pt = np.zeros(len(pdf), dtype=bool)
    if multi_pt.any():
        subm = pdf.loc[multi_pt]
        rows_m: list[dict] = []
        _dl_col = (
            subm["_dl"].to_numpy()
            if "_dl" in subm.columns
            else np.zeros(len(subm), dtype=np.int64)
        )
        _geo_col = subm["geometry"].to_numpy()
        _fid_col = subm["feature_id"].to_numpy()
        _lay_col = subm["layer"].to_numpy()
        _att_col = subm["attrs"].to_numpy()
        _idx_col = subm["index"].to_numpy()
        _ext_col = subm["extent"].to_numpy()
        _seq_col = subm["seq"].to_numpy()
        _fmz_col = subm["feature_minzoom"].to_numpy()
        for ri in range(len(subm)):
            dxi = int(_dl_col[ri])
            _, mxs, mys = featmod.unpack_cmds(_geo_col[ri], dxi)
            mpx = _to_px(mxs, ox, shift, detail, half)
            mpy = _to_px(mys, oy, shift, detail, half)
            keep_m = (mpx >= lo) & (mpx <= hi) & (mpy >= lo) & (mpy <= hi)
            if not keep_m.any() and not cfg.full_stream_admission():
                continue
            cmds_m: list = []
            for a, b in zip(mpx[keep_m], mpy[keep_m]):
                if z == 0:
                    cmds_m.extend(_point_cmds(int(a), int(b), z, lo, hi))
                else:
                    cmds_m.append((OP_MOVETO, int(a), int(b)))
            rows_m.append(
                {
                    "tx": tx, "ty": ty,
                    "feature_id": _fid_col[ri], "layer": _lay_col[ri],
                    "geom_type": 1,
                    "geometry": featmod.pack_cmds(cmds_m),
                    "attrs": _att_col[ri], "index": _idx_col[ri],
                    "extent": _ext_col[ri], "seq": _seq_col[ri],
                    "feature_minzoom": _fmz_col[ri],
                }
            )
        if rows_m:
            frames.append(pd.DataFrame(rows_m))
    if pt_mask.any():
        sub = pdf.loc[pt_mask]
        px = _to_px(sub["minx"].to_numpy(), ox, shift, detail, half)
        py = _to_px(sub["miny"].to_numpy(), oy, shift, detail, half)
        inside = (px >= lo) & (px <= hi) & (py >= lo) & (py <= hi)
        if cfg.full_stream_admission() and not inside.all():
            # an out-of-window point stays in the stream with EMPTY
            # geometry: its attributes can accumulate onto the tile's
            # survivor and it advances the extent/count chains (the
            # reference reader keeps empty-clip features,
            # tile.cpp:1205-1209)
            geometry = [
                featmod.pack_cmds(_point_cmds(int(a), int(b), z, lo, hi))
                if ok
                else featmod.pack_cmds([])
                for a, b, ok in zip(px, py, inside)
            ]
        else:
            sub = sub.loc[inside]
            px, py = px[inside], py[inside]
            geometry = [
                featmod.pack_cmds(_point_cmds(int(a), int(b), z, lo, hi))
                for a, b in zip(px, py)
            ]
        frames.append(
            pd.DataFrame(
                {
                    "tx": np.full(len(sub), tx, dtype=np.int32),
                    "ty": np.full(len(sub), ty, dtype=np.int32),
                    "feature_id": sub["feature_id"].to_numpy(),
                    "layer": sub["layer"].to_numpy(),
                    "geom_type": np.ones(len(sub), dtype=np.int32),
                    "geometry": geometry,
                    "attrs": sub["attrs"].to_numpy(),
                    "index": sub["index"].to_numpy(),
                    "extent": sub["extent"].to_numpy(),
                    "seq": sub["seq"].to_numpy(),
                    "feature_minzoom": sub["feature_minzoom"].to_numpy(),
                }
            )
        )

    # ---- lines / polygons ----
    if (~pt_mask).any():
        shared_px = _shared_px_for_tile(shared, tx, ty, shift, detail, half, lo, hi)
        buf_w0 = (cfg.buffer << shift) >> 8
        shared_w = _shared_world_for_tile(
            shared, tx, ty, shift, -buf_w0, (1 << shift) + buf_w0
        )
        tiny = simpmod.TinyPolygonReducer(cfg.tiny_polygon_size)
        out_rows: list[dict] = []
        sub = pdf.loc[~pt_mask]
        geoms = sub["geometry"].to_numpy()
        sgt = sub["geom_type"].to_numpy()
        fid = sub["feature_id"].to_numpy()
        lay = sub["layer"].to_numpy()
        att = sub["attrs"].to_numpy()
        idx = sub["index"].to_numpy()
        ext = sub["extent"].to_numpy()
        seq = sub["seq"].to_numpy()
        fmz = sub["feature_minzoom"].to_numpy()
        dls = sub["_dl"].to_numpy() if "_dl" in sub.columns else None
        for i in range(len(sub)):
            res = _simplify_nonpoint_cmds(
                geoms[i], int(sgt[i]), ox, oy, z, cfg,
                shift, detail, half, lo, hi, tiny, shared_px,
                dx=int(dls[i]) if dls is not None else 0,
                shared_world=shared_w,
            )
            if res is None:
                if cfg.full_stream_admission():
                    # keep the empty-clip row (accumulation / chains)
                    res = (
                        np.empty(0, dtype=np.int64),
                        np.empty(0, dtype=np.int64),
                        np.empty(0, dtype=np.int64),
                    )
                else:
                    continue
            out_rows.append(
                {
                    "tx": tx, "ty": ty,
                    "feature_id": fid[i], "layer": lay[i], "geom_type": int(sgt[i]),
                    "geometry": featmod.pack_cmds_arrays(*res),
                    "attrs": att[i], "index": idx[i],
                    "extent": ext[i], "seq": seq[i], "feature_minzoom": fmz[i],
                }
            )
        if out_rows:
            frames.append(pd.DataFrame(out_rows, columns=cols))
    if not frames:
        return pd.DataFrame({c: pd.Series(dtype=object) for c in cols})
    out = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    return out[cols]


# ---------------------------------------------------------------------------
# phase 2: finalize (order-dependent drops + encode) — once per tile
# ---------------------------------------------------------------------------

_RESERVED_ATTRS = ("tippecanoe_minzoom", "tippecanoe_maxzoom")


def _coerce_typed(val: str, want: str):
    """-T coercion of one serial_val string (coerce_value,
    serial.cpp:924-958)."""
    if val.startswith("\x02"):  # string-type tag (sources/geojson.py)
        val = val[1:]
    if want == "string":
        return val
    if want == "float":
        try:
            return float(val)
        except ValueError:
            return 0.0
    if want == "int":
        if val == "":
            return 0
        try:
            return int(val)
        except ValueError:
            try:
                f = float(val)
            except ValueError:
                return 0
            # C round(): half away from zero
            return int(np.floor(f + 0.5)) if f >= 0 else int(np.ceil(f - 0.5))
    if want == "bool":
        if val in ("false", "0", "null", ""):
            return False
        try:
            return float(val) != 0.0
        except ValueError:
            return True
    raise ValueError(f"unknown -T type {want!r}")


def _typed_attrs(attrs: dict | None, cfg: TilingConfig) -> dict:
    if cfg.set_attributes:
        # --set-attribute: added/overwritten on every feature
        attrs = dict(attrs or {})
        attrs.update(cfg.set_attributes)
    if not attrs or cfg.exclude_all_attrs:
        return {}
    include = cfg.include_attrs
    exclude = cfg.exclude_attrs
    types = cfg.attribute_types
    coerce = mvt.coerce_string_value
    out = {}
    if include:
        for a, b in attrs.items():
            if a in include:
                want = types.get(a)
                if b.startswith("\x00"):  # mvt_null (sources NULL_TAG)
                    if want:  # -T coerces null like any value
                        out[a] = _coerce_typed("null", want)
                    continue  # un-coerced nulls drop at encode (mvt.cpp)
                out[a] = _coerce_typed(b, want) if want else coerce(b)
    else:
        for a, b in attrs.items():
            if a in exclude or a in _RESERVED_ATTRS:
                continue
            want = types.get(a)
            if b.startswith("\x00"):
                if want:
                    out[a] = _coerce_typed("null", want)
                continue
            out[a] = _coerce_typed(b, want) if want else coerce(b)
    return out


def _finalize_tile_dict(pdf: pd.DataFrame, z: int, cfg: TilingConfig) -> dict | None:
    """Sequential stages + MVT encode with tile-local budget escalation.
    Input: prepared tile-local features for ONE tile."""
    if cfg.postfilter is not None and len(pdf):
        # per-tile user hook (plugin.cpp postfilter role): prepared
        # tile-local features before the drop machinery and encode
        pdf = cfg.postfilter(pdf)
    n_in = len(pdf)
    if n_in == 0:
        return None
    tx = int(pdf["tx"].iloc[0])
    ty = int(pdf["ty"].iloc[0])
    index = pdf["index"].to_numpy(dtype=np.int64)
    seq = pdf["seq"].to_numpy(dtype=np.int64)
    order = np.lexsort((seq, index))
    index = index[order]
    seq = seq[order]
    fid = pdf["feature_id"].to_numpy()[order]
    lay = pdf["layer"].to_numpy()[order]
    gt = pdf["geom_type"].to_numpy()[order]
    # prepared geometry blobs are tile-local and already twin-shifted;
    # unpack once to (op,x,y) tuple lists for the sequential stages
    geom = np.empty(n_in, dtype=object)
    geom[:] = [
        featmod.unpack_cmds_tuples(b) for b in pdf["geometry"].to_numpy()[order]
    ]
    att = pdf["attrs"].to_numpy()[order]
    ext = pdf["extent"].to_numpy(dtype=np.int64)[order]
    fmz = pdf["feature_minzoom"].to_numpy(dtype=np.int64)[order]

    # dateline twin folding: when a wide feature's natural copy AND its
    # ±world twin both clip into this tile, the reference sees ONE
    # feature whose command stream carries the wrap (tile.cpp:977-1001
    # duplication descends inside the feature).  Twin rows share (index,
    # seq) with the original, so they are adjacent after the sort —
    # concatenate their command streams into the first row.
    if n_in > 1:
        dup = (seq[1:] == seq[:-1]) & (lay[1:] == lay[:-1])
        if dup.any():
            keep_rows = np.ones(n_in, dtype=bool)
            geom = geom.copy()
            owner = 0
            for i in range(1, n_in):
                if dup[i - 1]:
                    geom[owner] = list(geom[owner]) + list(geom[i])
                    keep_rows[i] = False
                else:
                    owner = i
            index = index[keep_rows]
            seq = seq[keep_rows]
            fid = fid[keep_rows]
            lay = lay[keep_rows]
            gt = gt[keep_rows]
            geom = geom[keep_rows]
            att = att[keep_rows]
            ext = ext[keep_rows]
            fmz = fmz[keep_rows]
            n_in = int(keep_rows.sum())

    # point extents are a PER-TILE stream quantity (tile.cpp:1897-1909):
    # pi * (sqrt(index - extent_previndex)/4)^2 over the tile's points in
    # stream order (truncated to long long, floored at 1), with the
    # chain reset per tile — the serialized extent column only carries
    # polygon/line areas
    if (gt == 1).any():
        pts_pos = np.flatnonzero(gt == 1)
        ixs = index[pts_pos]
        prev = np.concatenate(([0], ixs[:-1]))
        d = ixs - prev
        pe = (np.pi * (d.astype(np.float64) / 16.0)).astype(np.int64)
        pe[d <= 0] = 1
        pe[pe < 1] = 1
        ext = ext.copy()
        ext[pts_pos] = pe

    # planar per-tile gap signal (T1, tile.cpp:1180-1199) — computed
    # LAZILY: the gap-threshold strategies only consult it once a tile
    # actually escalates, so the typical tile never pays the vertex scan
    _gap_cache: list[np.ndarray | None] = [None]

    def get_gap() -> np.ndarray:
        if _gap_cache[0] is None:
            shift_w = WORLD_BITS - z
            det = (
                max(cfg.full_detail, 30 - z)
                if cfg.vardepth_confirm
                else cfg.detail_at(z)
            )
            gap_geom = geom
            if cfg.detect_shared_borders and (gt == 3).any():
                # -ab polygons are full-res until the arc step; scale
                # them to detail px for the gap signal
                up_g = shift_w - det
                gap_geom = geom.copy()
                for i in np.flatnonzero(gt == 3):
                    gap_geom[i] = [
                        (
                            op_,
                            (x_ >> up_g) if up_g >= 0 else (x_ << -up_g),
                            (y_ >> up_g) if up_g >= 0 else (y_ << -up_g),
                        )
                        for op_, x_, y_ in geom[i]
                    ]
            _gap_cache[0] = dropmod.planar_gaps(
                index, gap_geom, tx << shift_w, ty << shift_w, shift_w - det, cfg.curve
            )
        return _gap_cache[0]

    keep = np.ones(n_in, dtype=bool)

    # forced first-per-tile keep + multiplier clusters (tile.cpp:
    # 1290-1311): the stream replays the reference's per-tile count
    # machine — the first NON-explicit feature of each layer creates the
    # count entry and is always kept (even below its rate-drop minzoom:
    # those rows were admitted by forced_keep_tiles); natural survivors
    # reset the count; rate-dropped followers stay only while fewer than
    # M-1 follow the last kept lead of their layer.  Explicit
    # tippecanoe:minzoom features are kept but create no count entry
    # (tile.cpp:1290).
    mult_lead: set[int] = set()
    M = cfg.retain_points_multiplier
    sub_mz = np.flatnonzero(fmz > z)
    if not cfg.no_feature_dropping and (len(sub_mz) or M > 1):
        if M > 1:
            count_by_layer: dict = {}
            appended: set[tuple] = set()
            for i in range(n_in):
                a = att[i]
                if a is not None and a.get("tippecanoe_minzoom") is not None:
                    appended.add((lay[i], int(gt[i])))
                    continue  # kept; no count entry
                c = count_by_layer.get(lay[i])
                if c is None or fmz[i] <= z:
                    count_by_layer[lay[i]] = 0
                    mult_lead.add(i)
                elif c + 1 < M:
                    count_by_layer[lay[i]] = c + 1
                elif (lay[i], int(gt[i])) not in appended:
                    # fall-through keep (tile.cpp:2003-2008): no prior
                    # same-layer-same-type feature to accumulate onto;
                    # emitted but NOT a lead — the count stays put
                    pass
                else:
                    keep[i] = False
                    continue
                appended.add((lay[i], int(gt[i])))
        else:
            # vectorizable M == 1 case: a sub-minzoom row survives as
            # the count-creating first non-explicit row of its layer
            # (tile.cpp:1290-1301) or as the first row of its
            # (layer, geom_type) — the fall-through keep
            # (tile.cpp:2003-2008)
            expl = np.fromiter(
                (
                    a is not None and a.get("tippecanoe_minzoom") is not None
                    for a in att
                ),
                dtype=bool,
                count=n_in,
            )
            nonexp_idx = np.flatnonzero(~expl)
            _, firsts = np.unique(lay[nonexp_idx], return_index=True)
            first_pos = {int(nonexp_idx[f]) for f in firsts}
            pair = np.array(
                [f"{l}\x00{int(g)}" for l, g in zip(lay, gt)]
            )
            _, pfirsts = np.unique(pair, return_index=True)
            first_pos |= {int(p) for p in pfirsts}
            for i in sub_mz:
                if int(i) not in first_pos:
                    keep[i] = False

    # gamma thinning (T9)
    if cfg.gamma > 0:
        g = get_gap()
        finite = g[np.isfinite(g)]
        base_gap = float(np.nanmedian(finite)) if len(finite) else 0.0
        keep &= dropmod.gamma_thin(g, cfg.gamma, base_gap)

    # clustering (T10, -K) — the reference-faithful stream pass
    # (tile.cpp:1993-2027): index-gap to the previous kept feature vs
    # cluster_mingap, merge onto the most recent kept feature of the
    # same (layer, type), truncating running-centroid for single points
    cluster_attrs: dict[int, dict] = {}
    if cfg.cluster_distance > 0 and z <= cfg.maxzoom:
        live = np.flatnonzero(keep)
        xs = np.zeros(len(live), dtype=np.float64)
        ys = np.zeros(len(live), dtype=np.float64)
        for j, i in enumerate(live):
            if gt[i] == 1 and len(geom[i]) == 1:
                xs[j] = geom[i][0][1]
                ys[j] = geom[i][0][2]
        # cluster_mingap = ((1 << (32 - z)) / 256 * K)^2 (tile.cpp:1696)
        # in full-scale index (world²) units, shifted >> 2 because our
        # signed-safe quadkey drops the low bit of each world coord
        # (proj.py quadkey_index), so index gaps here are ref_gap / 4;
        # point coords are detail px, so the centroid stays px-space
        mingap = ((1 << (32 - z)) // 256 * cfg.cluster_distance) ** 2 >> 2
        lead_of, cx, cy, count = dropmod.cluster_stream(
            index[live], lay[live], gt[live], xs, ys, mingap
        )
        drop_pts = live[lead_of != np.arange(len(live))]
        keep[drop_pts] = False
        # re-key per-subset results to absolute positions
        count = {int(live[j]): int(count[j]) for j in range(len(live))}
        cx = {int(live[j]): cx[j] for j in range(len(live))}
        cy = {int(live[j]): cy[j] for j in range(len(live))}
        for i in (int(p) for p in live):
            if keep[i] and count[i] > 1 and gt[i] == 1:
                cluster_attrs[i] = {
                    "clustered": "true",
                    "point_count": str(int(count[i])),
                    # round(100*sqrt(n))/100 printed shortest (tile.cpp:2437
                    # stores mvt_double; JSON renders 7.0 as 7)
                    "sqrt_point_count": "%g" % (
                        round(100.0 * float(np.sqrt(count[i]))) / 100.0
                    ),
                    "point_count_abbreviated": dropmod.point_count_abbreviated(int(count[i])),
                    "_cx": int(round(cx[i])), "_cy": int(round(cy[i])),
                }

    # feature-density attribute (T34, -ag): 0-255 from the curve-gap
    # spacing to the previous feature (larger gap → lower density)
    density_attrs: dict[int, str] = {}
    if cfg.calculate_feature_density:
        with np.errstate(divide="ignore"):
            dens = 255.0 - 8.0 * np.log2(np.maximum(get_gap(), 1.0))
        dens = np.clip(dens, 0, 255).astype(np.int64)
        density_attrs = {i: str(int(dens[i])) for i in range(n_in)}

    seq_prio = dropmod.drop_sequence(fmz, index)
    mingap, minextent, minseq = 0.0, 0.0, -np.inf
    passes = 0
    max_feat = cfg.max_tile_features if cfg.max_tile_features > 0 else None
    if cfg.limit_tile_feature_count > 0:
        max_feat = min(max_feat or 10**18, cfg.limit_tile_feature_count)

    def _apply_limit(k: np.ndarray) -> np.ndarray:
        """Feature-budget truncation.  -O (limit_tile_feature_count)
        resizes each layer to its FIRST N kept features in final stream
        order (layer_features.resize, tile.cpp:2595-2611 — no
        preservation, no priority); the as-needed max_tile_features path
        keeps the top-k by drop-sequence priority (T13/T32)."""
        if not max_feat or k.sum() <= max_feat:
            return k
        if cfg.limit_tile_feature_count > 0 and max_feat == cfg.limit_tile_feature_count:
            k2 = k.copy()
            seen: dict = {}
            for pos in np.flatnonzero(k):
                c = seen.get(lay[pos], 0)
                if c >= max_feat:
                    k2[pos] = False
                else:
                    seen[lay[pos]] = c + 1
            return k2
        pos = np.flatnonzero(k)
        o = np.argsort(-seq_prio[pos], kind="mergesort")[:max_feat]
        k2 = np.zeros(n_in, dtype=bool)
        k2[pos[np.sort(o)]] = True
        return k2

    # as-needed strategy flavors (tile.cpp:2020-2109): drop_* removes the
    # feature; coalesce_* appends its geometry onto the previous kept
    # feature of the same layer/type; cluster_densest averages point
    # locations onto it.  All share the gap/extent threshold machinery.
    use_gap = (
        cfg.drop_densest_as_needed
        or cfg.coalesce_densest_as_needed
        or cfg.cluster_densest_as_needed
    )
    use_extent = cfg.drop_smallest_as_needed or cfg.coalesce_smallest_as_needed
    use_attr = cfg.drop_by_attribute is not None
    gap_merges = cfg.coalesce_densest_as_needed or cfg.cluster_densest_as_needed
    attr_vals = None
    minattr = -np.inf if not cfg.drop_by_attribute_descending else np.inf
    if cfg.seed_thresholds:
        # zoom-global parity mode: start from the zoom's shared
        # thresholds (tile.cpp:3506-3571 — every tile of the re-run zoom
        # begins where the worst tile of the previous pass ended)
        mingap, minextent, minseq, minattr = cfg.seed_thresholds
    if use_attr:
        # numeric attribute values; non-numeric/missing never dropped by
        # this rule (find_attribute_value semantics, tile.cpp:2110-2126)
        def _num(a):
            try:
                return float((a or {}).get(cfg.drop_by_attribute))
            except (TypeError, ValueError):
                return np.nan
        attr_vals = np.array([_num(a) for a in att], dtype=np.float64)

    def current_keep() -> tuple[np.ndarray, np.ndarray]:
        """(kept mask, coalesce-onto-previous mask)."""
        k = keep.copy()
        coal = np.zeros(n_in, dtype=bool)
        if use_gap and mingap > 0:
            kg = dropmod.drop_by_gap(get_gap(), mingap)
            if gap_merges:
                coal |= k & ~kg
            k &= kg
        if use_extent and minextent > 0:
            ke = dropmod.drop_by_extent(ext, minextent)
            if cfg.coalesce_smallest_as_needed:
                coal |= k & ~ke
            k &= ke
        if use_attr and np.isfinite(minattr):
            with np.errstate(invalid="ignore"):
                ka = dropmod.drop_by_attribute(
                    attr_vals, minattr, cfg.drop_by_attribute_descending
                )
            k &= ka | np.isnan(attr_vals)
        if minseq > -np.inf:
            k &= dropmod.drop_by_sequence(seq_prio, minseq)
        if not k.any() and keep.any():
            # the first feature of the tile is always kept, even when a
            # raised threshold would drop every feature (tile.cpp:2227-2233)
            k[int(np.flatnonzero(keep)[0])] = True
        return k, coal

    def _owners(k: np.ndarray, coal: np.ndarray) -> dict[int, list[int]]:
        """For each coalesced position: the previous kept position with
        the same (layer, geom_type) — find_feature_to_accumulate_onto."""
        out: dict[int, list[int]] = {}
        kept_by_group: dict[tuple, list[int]] = {}
        for pos in range(n_in):
            gkey = (lay[pos], int(gt[pos]))
            if k[pos]:
                kept_by_group.setdefault(gkey, []).append(pos)
            elif coal[pos]:
                prevs = kept_by_group.get(gkey)
                if prevs:
                    out.setdefault(prevs[-1], []).append(pos)
        return out

    def encode(
        k: np.ndarray, coal: np.ndarray | None = None, detail_shift: int = 0
    ) -> tuple[bytes, int, int]:
        # attribute accumulation onto survivors (T33): a sequential
        # replay of the reference stream (tile.cpp:1970-2246) — dropped
        # rows fold onto the most recent APPENDED feature of the same
        # (layer, geom_type) (find_feature_to_accumulate_onto); a kept
        # row whose geometry clipped empty never joins the targets (the
        # geometry.size() > 0 append gate) and is not emitted; a dropped
        # row with NO target falls through and is kept (the re-assert at
        # tile.cpp:2228-2235).  The replay can therefore CHANGE the keep
        # mask — k is rewritten in place.
        accum: dict[int, dict[str, str]] = {}
        if cfg.accumulate_attrs:
            k = k.copy()
            last_app: dict[tuple, int] = {}
            vals_by_lead: dict[int, dict[str, list]] = {}
            names = cfg.accumulate_attrs
            for pos in range(n_in):
                gkey = (lay[pos], int(gt[pos]))
                visible = len(geom[pos]) > 0
                if not k[pos]:
                    tgt = last_app.get(gkey)
                    if tgt is None:
                        # fall-through: nothing to accumulate onto, so
                        # the feature is kept after all (if visible)
                        if visible:
                            k[pos] = True
                            last_app[gkey] = pos
                        continue
                    a = att[pos]
                    if a:
                        slot = vals_by_lead.setdefault(tgt, {})
                        for name in names:
                            if name in a:
                                slot.setdefault(name, []).append(a[name])
                elif visible:
                    last_app[gkey] = pos
                else:
                    k[pos] = False  # kept but clipped away: vanishes
            for lead, by_name in vals_by_lead.items():
                own = att[lead] or {}
                for name, vals in by_name.items():
                    op = names[name]
                    seq_vals = ([own[name]] if name in own else []) + vals
                    acc_v = dropmod.accumulate_attribute(op, seq_vals)
                    if acc_v is not None:  # all contributors were null
                        accum.setdefault(lead, {})[name] = acc_v
            # the reference truncates the FINAL feature list after
            # accumulation (layer_features.resize, tile.cpp:2595-2611) —
            # truncated survivors vanish with their accumulated attrs
            k = _apply_limit(k)
        # coalesce/cluster-as-needed: merge below-threshold features onto
        # their previous kept same-layer/type feature (tile.cpp:2029-2064)
        merged_cmds: dict[int, list] = {}
        merge_cluster: dict[int, dict] = {}
        if coal is not None and coal.any():
            for owner_pos, members in _owners(k, coal).items():
                if cfg.cluster_densest_as_needed and gt[owner_pos] == 1:
                    # running centroid average (tile.cpp:2033-2045)
                    cx0 = float(geom[owner_pos][0][1])
                    cy0 = float(geom[owner_pos][0][2])
                    cnt = 1
                    for m in members:
                        if len(geom[m]) == 1:
                            cx0 = (cx0 * cnt + geom[m][0][1]) / (cnt + 1)
                            cy0 = (cy0 * cnt + geom[m][0][2]) / (cnt + 1)
                            cnt += 1
                    merge_cluster[owner_pos] = {
                        "clustered": "true",
                        "point_count": str(cnt),
                        "sqrt_point_count": str(round(float(np.sqrt(cnt)), 2)),
                        "point_count_abbreviated": dropmod.point_count_abbreviated(cnt),
                        "_cx": int(round(cx0)),
                        "_cy": int(round(cy0)),
                    }
                else:
                    extra_cmds: list = []
                    for m in members:
                        mc = geom[m]
                        if gt[owner_pos] == 2 and simpmod.line_is_too_small(
                            np.array([c[1] for c in mc]),
                            np.array([c[2] for c in mc]),
                            1.0,
                        ):
                            continue  # tile.cpp:2054 skip-too-small guard
                        extra_cmds.extend(mc)
                    if extra_cmds:
                        merged_cmds[owner_pos] = extra_cmds

        positions = np.flatnonzero(k)
        geom_l = geom
        if cfg.detect_shared_borders:
            # -ab (T23): decompose the surviving polygons into shared
            # arcs and simplify each arc ONCE so adjacent polygons keep
            # identical borders (find_common_edges, shared_borders.cpp:86,
            # called at tile.cpp:2464 after the drop loop settles).
            # Polygon geometry arrives FULL-RES from prepare; the arcs
            # run at full resolution exactly like the reference, then
            # each feature is quantized (to_tile_scale, clip.cpp:507 —
            # std::round, half away from zero) and cleaned
            # (coalesce_polygon at tile scale, tile.cpp:691).
            poly_pos = [int(p) for p in positions if gt[p] == 3]
            if poly_pos:
                # reference guard (tile.cpp:612): simplify unless -ps,
                # (-pS at maxzoom), or (-aL below maxzoom) — NOT gated
                # off at z == maxzoom
                do_simp = cfg.simplification > 0 and not (
                    cfg.grid_low_zooms and z < cfg.maxzoom
                )
                shift_ab, det_ab, _, _, _ = _scale_params(z, cfg)
                up_ab = shift_ab - det_ab
                new_fr = bordersmod.find_common_edges(
                    [_cmds_to_rings(geom[p]) for p in poly_pos],
                    simplify_tol=cfg.simplification if do_simp else 0.0,
                    z=z,
                    detail=det_ab,
                )

                def _tts(v: np.ndarray) -> np.ndarray:
                    # to_tile_scale: round half away from zero
                    if up_ab <= 0:
                        return v << (-up_ab)
                    h = np.int64(1) << (up_ab - 1)
                    av = (np.abs(v) + h) >> up_ab
                    return np.where(v < 0, -av, av)

                geom_l = geom.copy()
                for p, rl in zip(poly_pos, new_fr):
                    qrings: list[tuple[np.ndarray, np.ndarray]] = []
                    for rx, ry in rl:
                        qx, qy = _strip_collinear_ring(_tts(rx), _tts(ry))
                        if len(qx) >= 3:
                            qrings.append((qx, qy))
                    if cfg.clean_polygons and cleanmod.rings_need_cleaning(qrings):
                        qrings = cleanmod.clean_rings(qrings)
                        qrings = [
                            (qx, qy)
                            for qx, qy in (
                                _strip_collinear_ring(qx, qy)
                                for qx, qy in qrings
                            )
                            if len(qx) >= 3
                        ]
                    cmds_n: list = []
                    for rx, ry in qrings:
                        cmds_n.append((OP_MOVETO, int(rx[0]), int(ry[0])))
                        cmds_n.extend(
                            (OP_LINETO, int(a_), int(b_))
                            for a_, b_ in zip(rx[1:], ry[1:])
                        )
                        cmds_n.append((OP_CLOSEPATH, 0, 0))
                    geom_l[p] = cmds_n
        if cfg.order_by:
            ovals = np.array(
                [
                    float(att[i].get(cfg.order_by, "nan")) if att[i] else np.nan
                    for i in positions
                ]
            )
            o = np.argsort(-ovals if cfg.order_descending else ovals, kind="mergesort")
            positions = positions[o]
        elif cfg.preserve_input_order:
            # -pi: stable sort by input sequence (tile.cpp:2583-2587)
            positions = positions[np.argsort(seq[positions], kind="mergesort")]
        elif cfg.reorder_features or cfg.coalesce_features:
            # -ao (coalindexcmp, tile.cpp:140-160): coalcmp order — geom
            # type, has_id/id, attrs (tile.cpp:113-138) — then index
            # (centroid) and geometry, so coalcmp-identical features
            # become adjacent for -ac.  Layer is the outermost key: the
            # reference sorts each layer's feature list separately.
            from .proj import encode_index as _enc

            gx = np.array(
                [geom_l[i][0][1] if geom_l[i] else 0 for i in positions],
                dtype=np.int64,
            )
            gy = np.array(
                [geom_l[i][0][2] if geom_l[i] else 0 for i in positions],
                dtype=np.int64,
            )
            gkey = _enc(np.maximum(gx, 0), np.maximum(gy, 0))
            akey = np.array(
                [repr(sorted((att[i] or {}).items())) for i in positions]
            )
            fkey = fid[positions].astype(np.int64)
            hkey = (fkey >= 0).astype(np.int8)
            fkey = np.where(fkey >= 0, fkey, -1)  # any negative = no id
            tkey = gt[positions].astype(np.int8)
            lkey = lay[positions]
            ikey = index[positions]
            positions = positions[
                np.lexsort((gkey, ikey, akey, fkey, hkey, tkey, lkey))
            ]
        merged_away: set[int] = set()
        if cfg.coalesce_features:
            # -ac: merge adjacent coalcmp-identical features (same layer,
            # geom type, feature id, attrs) into one multi-geometry
            # (tile.cpp:2524-2546; id in coalcmp at tile.cpp:122-133)
            prev = None
            for pos in positions:
                pos = int(pos)
                sig = (
                    lay[pos], int(gt[pos]),
                    max(int(fid[pos]), -1),  # any negative = no id
                    repr(sorted((att[pos] or {}).items())),
                )
                if prev is not None and sig == prev[1]:
                    merged_cmds.setdefault(prev[0], []).extend(geom_l[pos])
                    merged_away.add(pos)
                else:
                    prev = (pos, sig)
        out_detail = (
            max(cfg.full_detail, 30 - z)
            if cfg.vardepth_confirm
            else cfg.detail_at(z)
        ) - detail_shift

        def _shifted(cmds_list):
            if detail_shift == 0:
                return cmds_list
            out_c = []
            prev = None
            for op_, a_, b_ in cmds_list:
                a_, b_ = a_ >> detail_shift, b_ >> detail_shift
                if op_ == OP_LINETO and prev == (a_, b_):
                    continue  # remove_noop at the reduced grid
                out_c.append((op_, a_, b_))
                prev = (a_, b_) if op_ != OP_CLOSEPATH else prev
            return out_c

        layers: dict[str, mvt.LayerBuilder] = {}
        n_out = 0
        for pos in positions:
            pos = int(pos)
            if pos in merged_away:
                continue  # -ac: geometry already on the run's first feature
            lb = layers.get(lay[pos])
            if lb is None:
                lb = layers[lay[pos]] = mvt.LayerBuilder(
                    lay[pos], extent=1 << out_detail
                )
            attrs = dict(att[pos] or {})
            if pos in mult_lead:
                attrs["tippecanoe:retain_points_multiplier_first"] = "true"
            extra = cluster_attrs.get(pos) or merge_cluster.get(pos)
            cmds = geom_l[pos]
            if extra:
                cmds = [(OP_MOVETO, extra["_cx"], extra["_cy"])]
                attrs.update({kk: vv for kk, vv in extra.items() if not kk.startswith("_")})
            elif pos in merged_cmds:
                cmds = cmds + merged_cmds[pos]
                if gt[pos] == 2:
                    # coalesced-line cleanup (tile.cpp:2556-2563): merge
                    # runs at shared endpoints (remove_noop 0) and
                    # re-simplify at px scale to drop the collinear /
                    # out-and-back corners left at the former joins;
                    # a fully-degenerate result drops the feature
                    cmds = _cleanup_coalesced_line(cmds, cfg)
                    if not cmds:
                        continue
                if gt[pos] == 3:
                    # coalesce_polygon on the merged tile-scale geometry,
                    # UNCONDITIONALLY (tile.cpp:2566-2570): the union
                    # dissolves interior borders between members that
                    # share edges (adjacent tracts -> one county shape)
                    rings = _cmds_to_rings(cmds)
                    rings = [
                        (qx, qy)
                        for qx, qy in (
                            _strip_collinear_ring(qx, qy)
                            for qx, qy in cleanmod.clean_rings(rings)
                        )
                        if len(qx) >= 3
                    ]
                    cmds = []
                    for rx, ry in rings:
                        cmds.append((OP_MOVETO, int(rx[0]), int(ry[0])))
                        cmds.extend(
                            (OP_LINETO, int(a_), int(b_))
                            for a_, b_ in zip(rx[1:], ry[1:])
                        )
                        cmds.append((OP_CLOSEPATH, 0, 0))
                    if not cmds:
                        continue
            if pos in accum:
                attrs.update(accum[pos])
            if density_attrs:
                attrs["tippecanoe_feature_density"] = density_attrs[pos]
            cmds = _shifted(cmds)
            if not cmds:
                continue  # e.g. a polygon whose rings all collapsed in -ab
            lb.add_feature(int(gt[pos]), cmds, _typed_attrs(attrs, cfg), int(fid[pos]))
            n_out += 1
        raw = mvt.encode_tile(layers.values())
        return raw, n_out, len(raw)

    # per-strategy CUMULATIVE keep fractions (tile.cpp:1666-1670): each
    # retry multiplies by (budget/actual)·C with the reference constants
    # — gap ·0.80, extent/attr ·0.75, drop-sequence ·0.95 — capped at
    # 0.80.  The chooser samples are the rate-kept features (the sample
    # is taken BEFORE the threshold gate, tile.cpp:2066-2098, so it
    # includes features the previous threshold dropped).
    _fracs = {"gap": 1.0, "ext": 1.0, "attr": 1.0, "seq": 1.0}

    def raise_thresholds(k: np.ndarray, ratio: float) -> None:
        nonlocal mingap, minextent, minseq, minattr
        if use_gap:
            _fracs["gap"] = min(_fracs["gap"] * ratio * 0.80, 0.80)
            mingap = dropmod.choose_mingap(get_gap()[keep], _fracs["gap"], mingap)
        elif use_extent:
            _fracs["ext"] = min(_fracs["ext"] * ratio * 0.75, 0.80)
            m = dropmod.choose_sorted_threshold(
                ext[keep].astype(np.float64), _fracs["ext"], minextent
            )
            if m > minextent:
                minextent = m
        elif use_attr:
            # choose_minattribute (tile.cpp:838-857): sorted values in
            # the drop direction, same index rule
            _fracs["attr"] = min(_fracs["attr"] * ratio * 0.75, 0.80)
            vals = attr_vals[keep]
            vals = vals[np.isfinite(vals)]
            if len(vals):
                if not cfg.drop_by_attribute_descending:
                    m = dropmod.choose_sorted_threshold(
                        vals, _fracs["attr"],
                        minattr if np.isfinite(minattr) else -np.inf,
                    )
                    if m > minattr or not np.isfinite(minattr):
                        minattr = m
                else:
                    m = -dropmod.choose_sorted_threshold(
                        -vals, _fracs["attr"],
                        -minattr if np.isfinite(minattr) else -np.inf,
                    )
                    if m < minattr or not np.isfinite(minattr):
                        minattr = m
        else:
            # drop_fraction_as_needed / dynamic-drop default fallback
            _fracs["seq"] = min(_fracs["seq"] * ratio * 0.95, 0.80)
            m = dropmod.choose_sorted_threshold(
                seq_prio[keep].astype(np.float64), _fracs["seq"], minseq
            )
            if m > minseq:
                minseq = m

    k, coal = current_keep()

    if cfg.vardepth_confirm:
        # vardepth strict pass: the tile leafs only if every drop /
        # coalesce / multiplier stage was a no-op (can_stop_early,
        # tile.cpp:1955-2092), nothing in it belongs deeper than z, the
        # feature budget is clear, and the full-detail encode fits.
        clean = (
            bool(k.all())
            and not coal.any()
            and not (fmz > z).any()
            and not (max_feat and n_in > max_feat)
        )
        if not clean:
            # a failed candidate is rebuilt by the normal kernel — skip
            # the (large) full-detail encode entirely
            return {
                "z": z, "x": tx, "y": ty, "tile": b"",
                "n_in": n_in, "n_out": 0,
                "raw_bytes": 0, "gz_bytes": 0, "passes": 1,
                "leaf_ok": False,
            }
        raw, n_out, raw_bytes = encode(k, None)
        gz = mvt.gzip_tile(raw) if cfg.compress_tiles else raw
        leaf_ok = cfg.max_tile_size <= 0 or len(gz) <= cfg.max_tile_size
        return {
            "z": z, "x": tx, "y": ty, "tile": gz,
            "n_in": n_in, "n_out": n_out,
            "raw_bytes": raw_bytes, "gz_bytes": len(gz), "passes": 1,
            "leaf_ok": bool(leaf_ok),
        }

    # pre-encode size estimate: start the thresholds near the answer so a
    # giant tile doesn't burn a full 5-pass encode cascade (each pass
    # re-encodes every kept feature).  ~10B/feature overhead + ~4B per
    # geometry command + ~2B per attr tag; gzip ≈ 0.5× on MVT streams.
    if cfg.max_tile_size > 0 and k.sum() > 2000:
        geom_len = np.fromiter((len(g) for g in geom), dtype=np.int64, count=n_in)
        attr_len = np.fromiter(
            ((len(a) if a else 0) for a in att), dtype=np.int64, count=n_in
        )
        est_raw = 10.0 + 4.0 * geom_len + 2.0 * attr_len
        est_gz = 0.5 * float(est_raw[k].sum())
        if est_gz > cfg.max_tile_size:
            raise_thresholds(k, cfg.max_tile_size / est_gz)
            k, coal = current_keep()

    as_needed_drop = (
        use_gap or use_extent or use_attr or cfg.drop_fraction_as_needed
    )
    while True:
        passes += 1
        if max_feat and as_needed_drop and passes < 5:
            # feature-COUNT overflow with an as-needed mode raises the
            # drop threshold and retries, exactly like size overflow
            # (tile.cpp:2222-2224 too_many_features →
            # fraction * max_tile_features / count * 0.75 retry,
            # tile.cpp:2770-2800) — truncation is only the plain -O path
            n_kept = int(k.sum())
            if n_kept > max_feat:
                raise_thresholds(k, max_feat / n_kept)
                k, coal = current_keep()
                continue
        if not cfg.accumulate_attrs:
            # feature-budget overflow (with -E the truncation instead
            # runs INSIDE encode, after the accumulation replay, so
            # fall-through keeps count against the budget and truncated
            # survivors vanish with their accumulated attrs)
            k = _apply_limit(k)
        raw, n_out, raw_bytes = encode(k, coal)
        gz = mvt.gzip_tile(raw) if cfg.compress_tiles else raw
        if len(gz) <= cfg.max_tile_size or passes >= 5 or n_out <= 1:
            break
        # size overflow: escalate thresholds monotonically (tile.cpp:754-857)
        raise_thresholds(k, cfg.max_tile_size / len(gz))
        k, coal = current_keep()

    # detail-reduction fallback (E4, tile.cpp:1719-1721,3034-3036): when
    # dropping can't fit the tile, lower the grid resolution instead of
    # shipping an oversized tile
    if cfg.max_tile_size > 0 and len(gz) > cfg.max_tile_size:
        best = None
        for reduce_by in range(1, max(cfg.full_detail - cfg.min_detail, 0) + 1):
            raw2, n_out2, _ = encode(k, coal, detail_shift=reduce_by)
            gz2 = mvt.gzip_tile(raw2) if cfg.compress_tiles else raw2
            best = (raw2, n_out2, gz2)
            passes += 1
            if len(gz2) <= cfg.max_tile_size:
                break
        if best is not None and len(best[2]) < len(gz):
            raw, n_out, gz = best[0], best[1], best[2]
            raw_bytes = len(raw)
    if n_out == 0:
        # every kept feature degenerated in encode (e.g. a coalesced
        # out-and-back line simplified away) — no tile (the reference
        # never writes a featureless tile)
        return None
    row = {
        "z": z, "x": tx, "y": ty, "tile": gz,
        "n_in": n_in, "n_out": n_out,
        "raw_bytes": raw_bytes, "gz_bytes": len(gz), "passes": passes,
    }
    if cfg.global_threshold_retry:
        # report the FINAL thresholds so the zoom driver can max-reduce
        # and re-run (the reference's mingap_out/minextent_out/... outs)
        row["f_gap"] = float(mingap)
        row["f_ext"] = float(minextent)
        row["f_seq"] = float(minseq)
        row["f_attr"] = float(minattr)
    return row


# ---------------------------------------------------------------------------
# streaming kernel: every tile of every zoom
# ---------------------------------------------------------------------------

def _fast_eligible(cfg: TilingConfig) -> bool:
    """Configs under which a small all-point group encodes identically to
    the full kernel: no sequential thinning/clustering/accumulation, no
    ordering override, and budgets the group cannot exceed."""
    return (
        cfg.gamma <= 0
        and cfg.cluster_distance <= 0
        and not cfg.accumulate_attrs
        and cfg.order_by is None
        and not cfg.calculate_feature_density
        and cfg.retain_points_multiplier <= 1
        and not cfg.preserve_input_order
        and not cfg.reorder_features
        and not cfg.coalesce_features
        and not cfg.grid_low_zooms
        and not cfg.detect_shared_borders
        and (cfg.max_tile_features == 0 or cfg.max_tile_features >= _FAST_MAX)
        and (cfg.limit_tile_feature_count == 0 or cfg.limit_tile_feature_count >= _FAST_MAX)
        and cfg.prefilter is None
        and cfg.postfilter is None
    )


# columns the stream kernel materializes once per Arrow batch
_STREAM_COLS = (
    "tx", "ty", "feature_id", "layer", "geom_type", "geometry", "attrs",
    "index", "extent", "seq", "feature_minzoom", "minx", "miny", "maxx", "maxy",
    "_dl",
)


def _encode_small_group(
    z: int, s: int, e: int, arr: dict, px: np.ndarray, py: np.ndarray,
    cfg: TilingConfig,
    shift: int, detail: int, half: int, lo: int, hi: int,
    shared=None,
) -> dict | None:
    """Direct MVT assembly for a small tile group (slice [s,e) of the
    batch arrays, already in index order, budgets unreachable) — the
    deep-zoom hot loop.  No pandas objects at all; ``px``/``py`` are the
    group-local vectorized point scalings (length e-s)."""
    tx = int(arr["tx"][s])
    ty = int(arr["ty"][s])
    ox, oy = tx << shift, ty << shift
    gt = arr["geom_type"]
    lay = arr["layer"]
    att = arr["attrs"]
    fid = arr["feature_id"]
    tiny = None
    shared_w = None
    layers: dict[str, mvt.LayerBuilder] = {}
    n_out = 0
    for i in range(s, e):
        if gt[i] == 1:
            blob = arr["geometry"][i]
            if len(blob) > 17:
                # MultiPoint: one feature, several MOVETOs (read_json
                # MultiPoint stays one serial_feature); clip per vertex
                _dxi = int(arr["_dl"][i]) if "_dl" in arr else 0
                _, mxs, mys = featmod.unpack_cmds(blob, _dxi)
                ox_, oy_ = tx << shift, ty << shift
                mpx = _to_px(mxs, ox_, shift, detail, half)
                mpy = _to_px(mys, oy_, shift, detail, half)
                keep_m = (mpx >= lo) & (mpx <= hi) & (mpy >= lo) & (mpy <= hi)
                if not keep_m.any():
                    continue
                cmds = []
                for a, b in zip(mpx[keep_m], mpy[keep_m]):
                    if z == 0:
                        cmds.extend(_point_cmds(int(a), int(b), z, lo, hi))
                    else:
                        cmds.append((OP_MOVETO, int(a), int(b)))
                cmds = tuple(cmds)
            else:
                j = i - s
                if not (lo <= px[j] <= hi and lo <= py[j] <= hi):
                    continue
                if z == 0:
                    cmds = _point_cmds(int(px[j]), int(py[j]), z, lo, hi)
                else:
                    cmds = ((OP_MOVETO, int(px[j]), int(py[j])),)
        else:
            if tiny is None:
                tiny = simpmod.TinyPolygonReducer(cfg.tiny_polygon_size)
                shared_px = _shared_px_for_tile(
                    shared, tx, ty, shift, detail, half, lo, hi
                )
                _bw = (cfg.buffer << shift) >> 8
                shared_w = _shared_world_for_tile(
                    shared, tx, ty, shift, -_bw, (1 << shift) + _bw
                )
            res = _simplify_nonpoint_cmds(
                arr["geometry"][i], int(gt[i]), ox, oy, z, cfg,
                shift, detail, half, lo, hi, tiny, shared_px,
                dx=int(arr["_dl"][i]) if "_dl" in arr else 0,
                shared_world=shared_w,
            )
            if res is None:
                continue
            cmds = None
        lb = layers.get(lay[i])
        if lb is None:
            lb = layers[lay[i]] = mvt.LayerBuilder(lay[i], extent=1 << detail)
        if cmds is None:
            lb.add_feature_arrays(
                int(gt[i]), *res, _typed_attrs(att[i], cfg), int(fid[i])
            )
        else:
            lb.add_feature(int(gt[i]), cmds, _typed_attrs(att[i], cfg), int(fid[i]))
        n_out += 1
    if n_out == 0:
        return None
    raw = mvt.encode_tile(layers.values())
    gz = mvt.gzip_tile(raw) if cfg.compress_tiles else raw
    return {
        "z": z, "x": tx, "y": ty, "tile": gz,
        "n_in": n_out, "n_out": n_out,
        "raw_bytes": len(raw), "gz_bytes": len(gz), "passes": 1,
    }


def make_stream_kernel(cfg: TilingConfig, shared=None):
    """mapInPandas kernel over a partition sorted by (zz, tx, ty, index,
    seq) — ``zz`` is the zoom column, so ONE shuffle serves every zoom of
    the pyramid (the fused-pyramid plan).  Slices consecutive tile groups
    out of the Arrow batches, carrying the trailing partial group across
    batch boundaries.  Columns are pulled into numpy once per batch;
    groups are array slices (pandas objects are only built for the rare
    large/complex group that needs the full prepare/finalize kernel)."""
    fast_ok = (
        _fast_eligible(cfg)
        and not cfg.vardepth_confirm
        and not cfg.global_threshold_retry
    )
    out_cols = _TILE_COLS + (
        ["leaf_ok"] if cfg.vardepth_confirm
        else (["f_gap", "f_ext", "f_seq", "f_attr"] if cfg.global_threshold_retry else [])
    )
    params: dict[int, tuple] = {}  # z → (shift, detail, half, lo, hi)

    def p(z: int):
        got = params.get(z)
        if got is None:
            shift, detail, extent_px, buf_px, half = _scale_params(z, cfg)
            got = params[z] = (shift, detail, half, -buf_px, extent_px + buf_px)
        return got

    cols = _STREAM_COLS + ("zz", "feature_maxzoom")
    extra_zooms = cfg.multiplier_extra_zooms()
    bz = min(cfg.resolved_basezoom(), cfg.maxzoom)
    forced_on = cfg.keep_first_per_tile and not cfg.no_feature_dropping

    def kernel(batches):
        carry: dict | None = None
        out_rows: list[dict] = []

        def flush_group(arr: dict, s: int, e: int) -> None:
            z = int(arr["zz"][s])
            if z < 0:
                # subtree root group (zz = -(R+1)): expand to descendant
                # tiles for zooms R..maxzoom in-memory
                _flush_subtree(arr, s, e, -z - 1)
                return
            shift, detail, half, lo, hi = p(z)
            # groups holding a dateline twin pair (duplicate seq) need the
            # full kernel's twin-folding merge; forced sub-minzoom
            # admissions run the stream-first count machine inline below
            if (
                fast_ok
                and e - s <= _FAST_MAX
                and not (np.diff(arr["seq"][s:e].astype(np.int64)) == 0).any()
            ):
                ga, gs, ge = arr, s, e
                sub = arr["feature_minzoom"][s:e] > z
                if sub.any() and not cfg.no_feature_dropping:
                    # vectorized count machine (the M == 1 branch of the
                    # full kernel): a forced sub-minzoom admission
                    # survives as the first non-explicit row of its
                    # layer (count-entry keep, tile.cpp:1290-1301) OR as
                    # the first row of its (layer, geom_type) — the
                    # fall-through keep (tile.cpp:2003-2008): with no
                    # prior same-layer-same-type feature to accumulate
                    # onto, a rate-dropped feature is kept, not dropped
                    att_s = arr["attrs"][s:e]
                    expl = np.fromiter(
                        (
                            a is not None
                            and a.get("tippecanoe_minzoom") is not None
                            for a in att_s
                        ),
                        dtype=bool,
                        count=e - s,
                    )
                    nonexp = np.flatnonzero(~expl)
                    lay_s = arr["layer"][s:e]
                    _, firsts = np.unique(lay_s[nonexp], return_index=True)
                    firstpos = np.zeros(e - s, dtype=bool)
                    firstpos[nonexp[firsts]] = True
                    gt_s = arr["geom_type"][s:e].astype(np.int64)
                    pair = np.array(
                        [f"{l}\x00{g}" for l, g in zip(lay_s, gt_s)]
                    )
                    _, pfirsts = np.unique(pair, return_index=True)
                    firstpos[pfirsts] = True
                    gkeep = ~sub | firstpos
                    if not gkeep.all():
                        ga = {c: arr[c][s:e][gkeep] for c in cols if c in arr}
                        gs, ge = 0, len(ga["tx"])
                if ge <= gs:
                    return
                ox = int(ga["tx"][gs]) << shift
                oy = int(ga["ty"][gs]) << shift
                px = _to_px(ga["minx"][gs:ge], ox, shift, detail, half)
                py = _to_px(ga["miny"][gs:ge], oy, shift, detail, half)
                row = _encode_small_group(
                    z, gs, ge, ga, px, py, cfg, shift, detail, half, lo, hi,
                    shared,
                )
                if (
                    row is not None
                    and cfg.max_tile_size > 0
                    and row["gz_bytes"] > cfg.max_tile_size
                ):
                    # rare: <=256 detailed polygons can still overflow the
                    # 500KB budget — rerun through the escalating kernel
                    # (on the ORIGINAL slice: it redoes the count machine)
                    gpdf = pd.DataFrame({c: arr[c][s:e] for c in _STREAM_COLS})
                    row = _finalize_tile_dict(
                        prepare_tile_pdf(gpdf, z, cfg, shared), z, cfg
                    )
            else:
                gpdf = pd.DataFrame({c: arr[c][s:e] for c in _STREAM_COLS})
                row = _finalize_tile_dict(
                    prepare_tile_pdf(gpdf, z, cfg, shared), z, cfg
                )
            if row is not None:
                out_rows.append(row)

        def _flush_subtree(arr: dict, s: int, e: int, R: int) -> None:
            """Expand one subtree root group — all candidate features of
            the zoom-R tile (tx, ty), sorted by (index, seq) — into its
            descendant tiles for zooms R..maxzoom, calling flush_group on
            each.  Per-zoom membership reproduces the Catalyst assignment
            exactly: natural admission via eff_min/top, plus the forced
            first-per-tile admissions below basezoom that
            forced_keep_tiles gives the flat relation (``forced_rows``),
            so every tile group — and its ``n_in`` — is the one the flat
            assignment builds.  Cover inside the subtree is the buffered
            bbox span clamped to the root's descendants (≤ 4^depth tiles,
            where bbox and walk cover are measured byte-identical — see
            _WIDE_SPAN)."""
            TX = int(arr["tx"][s])
            TY = int(arr["ty"][s])
            n = e - s
            g = {c: arr[c][s:e] for c in arr}
            fmz = g["feature_minzoom"].astype(np.int64)
            if extra_zooms > 0.0:
                ex = np.where(g["_dl"] != 0, 0.0, extra_zooms)
                effmin = np.ceil(fmz - ex).astype(np.int64)
            else:
                effmin = fmz
            if "feature_maxzoom" in g:
                effmax = np.minimum(
                    g["feature_maxzoom"].astype(np.int64), cfg.maxzoom
                )
            else:
                effmax = None  # maxzoom for everyone
            minx = g["minx"].astype(np.int64)
            maxx = g["maxx"].astype(np.int64)
            miny = g["miny"].astype(np.int64)
            maxy = g["maxy"].astype(np.int64)
            gtypes = g["geom_type"]
            geoms = g["geometry"]
            dls = g["_dl"]
            expl = lay_code = rank = None
            pos = np.arange(n)

            def forced_rows(zq: int, shift: int, buf: int, k: int, live):
                """The flat relation's forced admissions inside this
                subtree (forced_keep_tiles): per (tile, layer,
                geom_type), the (index, seq, minx)-first competitor over
                buffered bbox cover, admitted when it is below its
                minzoom.  Competitors are the non-explicit rows whose
                world-clamped span is <= _WIDE_SPAN, or that are below
                their minzoom themselves.  Returns (tx, ty, row)."""
                nmax = (1 << zq) - 1
                wx0 = np.maximum(0, (minx - buf - 1) >> shift)
                wx1 = np.minimum(nmax, (maxx + buf) >> shift)
                wy0 = np.maximum(0, (miny - buf - 1) >> shift)
                wy1 = np.minimum(nmax, (maxy + buf) >> shift)
                span = (wx1 - wx0 + 1) * (wy1 - wy0 + 1)
                sub = fmz > zq
                c = pos[
                    live & ~expl & (wx1 >= wx0) & (wy1 >= wy0)
                    & ((span <= _WIDE_SPAN) | sub)
                ]
                x0 = np.maximum(TX << k, wx0[c])
                x1 = np.minimum(((TX + 1) << k) - 1, wx1[c])
                y0 = np.maximum(TY << k, wy0[c])
                y1 = np.minimum(((TY + 1) << k) - 1, wy1[c])
                ok = (x1 >= x0) & (y1 >= y0)
                txs, tys, rep = _box_tiles(x0[ok], x1[ok], y0[ok], y1[ok])
                rows = c[ok][rep]
                lay = lay_code[rows]
                gt = gtypes[rows]
                o = np.lexsort((rank[rows], gt, lay, tys, txs))
                txs, tys, rows, lay, gt = txs[o], tys[o], rows[o], lay[o], gt[o]
                first = np.ones(rows.size, dtype=bool)
                first[1:] = (
                    (txs[1:] != txs[:-1]) | (tys[1:] != tys[:-1])
                    | (lay[1:] != lay[:-1]) | (gt[1:] != gt[:-1])
                )
                win = first & sub[rows]
                return txs[win], tys[win], rows[win]

            for zq in range(R, cfg.maxzoom + 1):
                shift = WORLD_BITS - zq
                buf = buffer_world(zq, cfg)
                k = zq - R
                live = np.ones(n, dtype=bool) if effmax is None else zq <= effmax
                idx = pos[(effmin <= zq) & live]
                forced = None
                if forced_on and zq < bz and (live & (fmz > zq)).any():
                    if expl is None:
                        expl = np.fromiter(
                            (
                                a is not None
                                and a.get("tippecanoe_minzoom") is not None
                                for a in g["attrs"]
                            ),
                            dtype=bool,
                            count=n,
                        )
                        lay_code = np.unique(g["layer"], return_inverse=True)[1]
                        rank = np.empty(n, dtype=np.int64)
                        rank[np.lexsort((fmz, minx, g["seq"], g["index"]))] = pos
                    forced = forced_rows(zq, shift, buf, k, live)
                tx0 = np.maximum(TX << k, (minx[idx] - buf - 1) >> shift)
                tx1 = np.minimum(((TX + 1) << k) - 1, (maxx[idx] + buf) >> shift)
                ty0 = np.maximum(TY << k, (miny[idx] - buf - 1) >> shift)
                ty1 = np.minimum(((TY + 1) << k) - 1, (maxy[idx] + buf) >> shift)
                ok = (tx1 >= tx0) & (ty1 >= ty0)
                if not ok.all():
                    idx = idx[ok]
                    tx0, tx1, ty0, ty1 = tx0[ok], tx1[ok], ty0[ok], ty1[ok]
                cnt = (tx1 - tx0 + 1) * (ty1 - ty0 + 1)
                # exact walk membership for wide lines — the same
                # span > _WIDE_SPAN rule as assign_tiles_all, so the
                # fused path reproduces the per-(zoom, tile) assignment
                # exactly.  The clamped-bbox fan of a diagonal inside an
                # 8x8 descendant block is up to ~5x phantom rows, each
                # costing a kernel clip that returns nothing.
                wide_m = (gtypes[idx] == 2) & (cnt > _WIDE_SPAN)
                w_pos = None
                if wide_m.any():
                    wsel = np.flatnonzero(wide_m)
                    bufq = buf + _cover_slack(zq, cfg)
                    nmaxq = (1 << zq) - 1
                    own_l, segs_l = [], []
                    for w in wsel:
                        gi = int(idx[w])
                        seg = _cached_segments(geoms[gi], int(dls[gi]))
                        if len(seg[0]):
                            segs_l.append(seg)
                            own_l.append(
                                np.full(len(seg[0]), w, dtype=np.int64)
                            )
                    if segs_l:
                        own = np.concatenate(own_l)
                        # per-segment clamp window = the owner row's
                        # bbox-cap descendant block, enforced INSIDE the
                        # cover so a world-spanning segment never
                        # generates (then filters) its global cover
                        sid, ctx, cty = _segments_cover_vec(
                            np.concatenate([t[0] for t in segs_l]),
                            np.concatenate([t[1] for t in segs_l]),
                            np.concatenate([t[2] for t in segs_l]),
                            np.concatenate([t[3] for t in segs_l]),
                            shift, bufq, nmaxq,
                            wx0=tx0[own], wx1=tx1[own],
                            wy0=ty0[own], wy1=ty1[own],
                        )
                        ow = own[sid]
                        # dedupe (row, tile): a multi-segment line covers
                        # the same cell once per touching segment
                        o2 = np.lexsort((cty, ctx, ow))
                        ow, ctx, cty = ow[o2], ctx[o2], cty[o2]
                        dup = np.zeros(len(ow), dtype=bool)
                        dup[1:] = (
                            (ow[1:] == ow[:-1])
                            & (ctx[1:] == ctx[:-1])
                            & (cty[1:] == cty[:-1])
                        )
                        keep2 = ~dup
                        w_pos = ow[keep2]
                        w_tx = ctx[keep2]
                        w_ty = cty[keep2]
                    else:
                        w_pos = np.empty(0, dtype=np.int64)
                        w_tx = w_ty = w_pos
                    rsel = np.flatnonzero(~wide_m)
                else:
                    rsel = np.arange(idx.size)
                txp, typ, rep = _box_tiles(
                    tx0[rsel], tx1[rsel], ty0[rsel], ty1[rsel]
                )
                posn = rsel[rep]
                if w_pos is not None and len(w_pos):
                    txp = np.concatenate([txp, w_tx])
                    typ = np.concatenate([typ, w_ty])
                    posn = np.concatenate([posn, w_pos])
                # group positions from here on
                posn = idx[posn]
                if forced is not None:
                    txp = np.concatenate([txp, forced[0]])
                    typ = np.concatenate([typ, forced[1]])
                    posn = np.concatenate([posn, forced[2]])
                total = int(posn.size)
                if total == 0:
                    continue
                key = (txp << zq) | typ
                # (key, group position): group rows are already in
                # (index, seq) order, so position order restores the
                # stream order within each tile
                order = np.lexsort((posn, key))
                rows = posn[order]
                keys = key[order]
                gath = {
                    c: g[c][rows]
                    for c in _STREAM_COLS
                    if c in g
                }
                gath["tx"] = txp[order].astype(np.int32)
                gath["ty"] = typ[order].astype(np.int32)
                gath["zz"] = np.full(total, zq, dtype=np.int32)
                bounds = np.flatnonzero(np.diff(keys) != 0) + 1
                starts = np.concatenate([[0], bounds])
                ends = np.concatenate([bounds, [total]])
                for s2, e2 in zip(starts, ends):
                    flush_group(gath, int(s2), int(e2))

        for pdf in batches:
            if len(pdf) == 0:
                continue
            arr = {c: pdf[c].to_numpy() for c in cols if c in pdf.columns}
            if "_dl" not in arr:
                arr["_dl"] = np.zeros(len(pdf), dtype=np.int64)
            if carry is not None:
                arr = {c: np.concatenate([carry[c], arr[c]]) for c in arr}
                carry = None
            n = len(arr["tx"])
            # per-column diffs, not a packed key: a 24-bit ty lane would
            # silently merge adjacent distinct tiles at z >= 25
            change = (
                np.flatnonzero(
                    (np.diff(arr["zz"].astype(np.int64)) != 0)
                    | (np.diff(arr["tx"].astype(np.int64)) != 0)
                    | (np.diff(arr["ty"].astype(np.int64)) != 0)
                )
                + 1
            )
            starts = np.concatenate([[0], change])
            ends = np.concatenate([change, [n]])
            # hold back the final group — it may continue in the next batch
            for s, e in zip(starts[:-1], ends[:-1]):
                flush_group(arr, int(s), int(e))
            tail = int(starts[-1])
            carry = {c: arr[c][tail:] for c in arr}
            if len(out_rows) >= 512:
                yield pd.DataFrame(out_rows, columns=out_cols)
                out_rows = []
        if carry is not None and len(carry["tx"]):
            flush_group(carry, 0, len(carry["tx"]))
        if out_rows:
            yield pd.DataFrame(out_rows, columns=out_cols)

    return kernel


# ---------------------------------------------------------------------------
# Spark driver: assignment → one shuffle → stream kernel
# ---------------------------------------------------------------------------

def tiles_for_zoom(features: DataFrame, z: int, cfg: TilingConfig,
                   shared=None) -> DataFrame:
    """Build all tiles at zoom z: the fused build over ``[z, z]``."""
    return tiles_fused(features, cfg, shared=shared, z_lo=z, z_hi=z)


def tiles_fused(
    features: DataFrame,
    cfg: TilingConfig,
    shared=None,
    z_lo: int | None = None,
    z_hi: int | None = None,
    est_rows: int | None = None,
) -> DataFrame:
    """The tiles of zooms ``[z_lo, z_hi]`` (default: the whole pyramid)
    in ONE shuffle: the per-zoom tile assignments union into a single
    relation keyed (zz, tx, ty); the streaming kernel handles every
    zoom's groups in the same pass.  Collapses the per-zoom job fan
    (assign/shuffle/kernel × zooms) that otherwise dominates wall-clock
    with fixed scheduling cost — on a real cluster this is the
    difference between 15 barriers and 1.  A single-zoom build is this
    over ``[z, z]``.

    Every tile, however dense, is built whole by one kernel call, as the
    reference builds one tile in one thread: the hash of (zz, tx, ty)
    over the shuffle's tasks is the only skew control.  Under -at the
    ``vardepth.leaf_plan`` is planned here, once per build.
    ``est_rows`` is the caller's survivor-row estimate for the range,
    which sizes the tile shuffle (:func:`_tile_partitions`)."""
    lo = cfg.minzoom if z_lo is None else z_lo
    hi = cfg.maxzoom if z_hi is None else z_hi
    if not cfg.minzoom <= lo <= hi <= cfg.maxzoom:
        raise ValueError(
            f"zoom range [{lo}, {hi}] is outside [{cfg.minzoom}, {cfg.maxzoom}]"
        )
    if shared is None and cfg.preserve_shared_nodes:
        # direct callers get the -pn node set computed here; the pyramid
        # passes the copy it computed
        from .pyramid import _shared_arrays

        shared = _shared_arrays(features, cfg)
    featuresT = with_dateline_twins(features, cfg)
    R = _subtree_root_zoom(cfg, lo, hi)
    sub_rows = None
    if R is None:
        assigned = assign_tiles_all(featuresT, cfg, z_lo=lo, z_hi=hi)
    else:
        # subtree fan-out: zooms < R ride per-(zoom, tile) rows; zooms
        # R..maxzoom ship once per (feature, zoom-R root) and expand in
        # the kernel
        assigned = assign_tiles_all(featuresT, cfg, z_lo=lo, z_hi=R - 1)
        sub_rows = _subtree_root_rows(featuresT, cfg, R)
    leaf_tiles = None
    if cfg.variable_depth_pyramid:
        # -at: confirm full-detail leaves, prune their subtrees from the
        # assignment BEFORE the pyramid shuffle (vardepth.py)
        from . import vardepth

        leaf_tiles, leaf_keys = vardepth.leaf_plan(featuresT, cfg, shared)
        assigned = vardepth.prune_assignment(assigned, leaf_keys, cfg)
        leaf_tiles = leaf_tiles.filter(F.col("z").between(lo, hi))
    # the build's key space is Σ 4^z over its zooms: more partitions
    # than keys are guaranteed-empty tasks (~4 ms of pure scheduling
    # each; a z4 build would schedule ~750 of them per stage)
    key_space = sum(4**z for z in range(lo, hi + 1))
    # mapInPandas cannot column-prune: select exactly the kernel's
    # columns BEFORE the shuffle so url/gap/curve_rank etc. (roughly
    # half the row bytes) never ride it
    kcols = [
        c for c in _STREAM_COLS + ("zz", "feature_maxzoom")
        if c in assigned.columns
    ]
    shuffle_in = assigned.select(*kcols)
    if sub_rows is not None:
        shuffle_in = shuffle_in.unionByName(sub_rows.select(*kcols))
    shuffled = shuffle_in.repartition(
        _tile_partitions(assigned.sparkSession, key_space, est_rows),
        F.col("zz"), F.col("tx"), F.col("ty"),
    ).sortWithinPartitions("zz", "tx", "ty", "index", "seq")
    out = shuffled.mapInPandas(make_stream_kernel(cfg, shared), schema=_tile_schema(cfg))
    if leaf_tiles is not None:
        out = out.unionByName(leaf_tiles)
    return out
