"""Variable-depth pyramid (-at / --generate-variable-depth-tile-pyramid,
options.hpp:28) — the reference's biggest work-avoidance lever at deep
zooms: a tile whose full content fits at FULL input resolution (detail
30-z, i.e. the tile is losslessly overzoomable) becomes a pyramid LEAF,
and its entire descendant subtree is never built (tile.cpp:1701-1713
first-pass-at-full-detail, 3055-3066 skip_children insertion,
3179-3199 child-skip at the next zoom).

Spark-first shape — three relational phases instead of the reference's
in-band stream flags:

1. **Candidates** (pure Catalyst): per (zoom, tile) aggregate over the
   EXACT walked tile assignment clamped to the leaf zooms — wide lines
   carry tile-local sub-geometry there, so a sparse tile crossed by a
   long line is costed at its clipped bytes.  The tile qualifies when
   the linear size estimate (tile.cpp:1707) clears 0.9 * max_tile_size
   AND no feature touching its buffered box first appears deeper than z
   (feature_minzoom > z: the minzoom_feature-pending / dropping_by_rate
   disqualifiers, tile.cpp:1222-1226, 2346-2349) or vanishes before
   maxzoom (feature_maxzoom < maxzoom) — a leaf at z must already
   contain everything its subtree ever would, and keep it.

2. **Confirm** (tile kernel, strict mode): the reference probes
   top-down and never descends below a success (tile.cpp:3059-3066) —
   here the TOPMOST candidate of each chain is encoded once at detail
   30-z with every drop/coalesce stage required to be a no-op
   (can_stop_early semantics, tile.cpp:1955-2092: ANY dropped or merged
   feature vetoes the leaf); direct candidate children of FAILED heads
   get a second round.  A candidate is a confirmed leaf iff the gzipped
   tile fits max_tile_size.  Its bytes are final output — the reference
   likewise ships the successful full-detail first pass.

3. **Prune** (anti-join): assignments whose tile has a confirmed-leaf
   ancestor are dropped before the pyramid shuffle; the leaf tiles union
   into the build output.

The reference re-admits skipped children if the zoom later starts
dropping features globally (tile.cpp:3180-3193).  That cannot happen
here: thresholds escalate per-tile, and phase 1 + phase 2 only leaf
tiles whose whole subtree provably never drops, so the truncation
always holds.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import TilingConfig

# bbox tile-span above which a feature disqualifies its whole bbox range
# instead of enumerating tiles (mirrors tile._WIDE_SPAN for lines)
_SPAN_CAP = 64
# per-feature fixed serialized overhead (metadata + attr references) on
# top of the packed-geometry blob, for the size estimate only
_FEAT_OVERHEAD = 48


def max_leaf_zoom(cfg: TilingConfig) -> int:
    """Deepest zoom that can leaf: needs 30 - z > detail (tile.cpp:1708)
    and at least one zoom below it to skip."""
    return min(cfg.maxzoom - 1, 29 - cfg.full_detail)


def _pack_key(z, x, y):
    """(z, x, y) → one long: z ≤ 29 ⇒ x, y < 2^29 fit two 29-bit lanes."""
    return (
        F.shiftleft(z.cast("long"), 58)
        .bitwiseOR(F.shiftleft(x.cast("long"), 29))
        .bitwiseOR(y.cast("long"))
    )


def candidate_keys(featuresT: DataFrame, cfg: TilingConfig) -> DataFrame:
    """Phase 1: (zz, tx, ty) tiles that pass the relational leaf
    estimate, with ``n``, the tile's assignment rows.  ``featuresT`` is
    the dateline-twinned feature relation the assignment itself uses, so
    buffered twin copies participate exactly like the reference's
    duplicated stream features.

    Size side: aggregate the EXACT walked tile assignment clamped to the
    leaf zooms (one extra shallow assignment pass) — wide lines carry
    tile-local sub-geometry there, so a sparse tile merely crossed by a
    long line is costed at its clipped bytes, not the whole line (the
    earlier bbox-span estimate had to veto every tile under a wide
    feature, which disqualified essentially all of a line-heavy corpus).

    Disqualifier side: a tile cannot leaf while any feature that touches
    its buffered box FIRST APPEARS deeper (feature_minzoom > zz — the
    minzoom_feature-pending veto, tile.cpp:1222-1226, 2346-2349) or
    VANISHES before maxzoom (feature_maxzoom < maxzoom: the subtree
    would lose it, the frozen leaf would not)."""
    from dataclasses import replace as _replace

    from . import tile as tilemod

    zhi = max_leaf_zoom(cfg)
    if zhi < cfg.minzoom or cfg.max_tile_size <= 0:
        return featuresT.sparkSession.createDataFrame(
            [], "zz int, tx int, ty int, n long"
        )
    shallow = tilemod.assign_tiles_all(featuresT, _replace(cfg, maxzoom=zhi))
    # reference-equivalent stream complexity: the reference's
    # estimated_complexity is the byte span of the tile's serialized
    # features (zigzag-varint delta geometry ≈ 5 B/vertex + ~40 B/feature
    # header), while our packed blobs burn a flat 17 B/vertex — feeding
    # raw blob bytes into the reference's regression over-estimates ~4x
    # and starves the candidate set at small -M (the tract golden's
    # -M25000 z12 leaves were all gate-rejected).  Under-admission loses
    # leaves the reference keeps; over-admission only costs confirm work,
    # so the conversion errs loose and the strict gz confirm decides.
    tiles = (
        shallow.groupBy("zz", "tx", "ty")
        .agg(
            (
                F.sum(F.length("geometry")) * (5.0 / 17.0)
                + F.count(F.lit(1)) * 40.0
            ).alias("stream_bytes"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    max_feat = cfg.max_tile_features or 0
    if cfg.limit_tile_feature_count > 0:
        max_feat = min(max_feat or 10**18, cfg.limit_tile_feature_count)
    # linear output-size estimate, reference constants (tile.cpp:1707)
    cond = 0.6693 * F.col("stream_bytes") - 33600.0 < 0.9 * cfg.max_tile_size
    if max_feat:
        cond = cond & (F.col("n") <= max_feat)
    cand = tiles.filter(cond).select("zz", "tx", "ty", "n")

    # ---- disqualifiers ----------------------------------------------
    has_fmax = "feature_maxzoom" in featuresT.columns
    if has_fmax:
        z_disq_hi = F.when(
            F.col("feature_maxzoom") < cfg.maxzoom, F.lit(zhi)
        ).otherwise(F.least(F.lit(zhi), F.col("feature_minzoom") - 1))
    else:
        z_disq_hi = F.least(F.lit(zhi), F.col("feature_minzoom") - 1)
    df = (
        featuresT.select(
            "minx", "miny", "maxx", "maxy", "feature_minzoom",
            *(["feature_maxzoom"] if has_fmax else []),
        )
        .withColumn("zdh", z_disq_hi)
        .filter(F.col("zdh") >= cfg.minzoom)
        .withColumn("zz", F.explode(F.sequence(F.lit(cfg.minzoom), F.col("zdh"))))
    )
    # buffered tile span — identical arithmetic to assign_tiles_all
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
    df = (
        df.withColumn("tx0", tx0)
        .withColumn("tx1", tx1)
        .withColumn("ty0", ty0)
        .withColumn("ty1", ty1)
        .filter((F.col("tx1") >= F.col("tx0")) & (F.col("ty1") >= F.col("ty0")))
    )
    span = (F.col("tx1") - F.col("tx0") + 1) * (F.col("ty1") - F.col("ty0") + 1)
    narrow = df.filter(span <= _SPAN_CAP)
    wide = df.filter(span > _SPAN_CAP).select("zz", "tx0", "tx1", "ty0", "ty1")

    disq = (
        narrow.withColumn("tx", F.explode(F.sequence("tx0", "tx1")))
        .withColumn("ty", F.explode(F.sequence("ty0", "ty1")))
        .select("zz", "tx", "ty")
        .distinct()
    )
    cand = cand.join(disq, ["zz", "tx", "ty"], "left_anti")

    # Wide-span disqualifiers conservatively veto every tile under their
    # bbox.  A range join would be a broadcast nested loop (|cand| ×
    # |wide|) — instead each wide bbox emits its cover at the coarsest
    # granularity 2^s that keeps the cover ≤ _SPAN_CAP cells, and
    # candidates probe all granularities with a plain hash join.
    # Coarsening only ever disqualifies MORE tiles — the safe direction.
    grans = [0, 6, 12, 18]
    pick = None
    for s in reversed(grans):
        sp = (
            F.shiftright("tx1", s) - F.shiftright("tx0", s) + 1
        ) * (F.shiftright("ty1", s) - F.shiftright("ty0", s) + 1)
        pick = F.when(sp <= _SPAN_CAP, F.lit(s)).otherwise(
            pick if pick is not None else F.lit(grans[-1])
        )
    wide = wide.withColumn("s", pick)
    cover = (
        wide.select(
            "zz",
            "s",
            F.explode(
                F.sequence(
                    F.expr("shiftright(tx0, s)"), F.expr("shiftright(tx1, s)")
                )
            ).alias("cx"),
            F.expr("shiftright(ty0, s)").alias("cy0"),
            F.expr("shiftright(ty1, s)").alias("cy1"),
        )
        .select(
            "zz", "s", "cx", F.explode(F.sequence("cy0", "cy1")).alias("cy")
        )
        .distinct()
    )
    probes = cand.withColumn(
        "s", F.explode(F.array(*[F.lit(s) for s in grans]))
    ).select(
        "zz",
        "tx",
        "ty",
        "s",
        F.expr("shiftright(tx, s)").alias("cx"),
        F.expr("shiftright(ty, s)").alias("cy"),
    )
    vetoed = (
        probes.join(cover, ["zz", "s", "cx", "cy"], "left_semi")
        .select("zz", "tx", "ty")
        .distinct()
    )
    return cand.join(vetoed, ["zz", "tx", "ty"], "left_anti")


def _count_rows(probe: DataFrame) -> tuple[int, int]:
    """(tiles, assignment rows) of a candidate-tile relation, in one job:
    the rows size the confirm shuffle."""
    r = probe.agg(F.count(F.lit(1)), F.sum("n")).first()
    return r[0], r[1] or 0


def _parent_key(z, x, y):
    return _pack_key(z - 1, F.shiftright(x, 1), F.shiftright(y, 1))


def _probe_features(
    featuresT: DataFrame, probe: DataFrame, cfg: TilingConfig
) -> DataFrame:
    """Features whose buffered bbox can touch any probe tile — the
    confirm pass re-derives tile assignments only for this subset, so
    the full-pyramid assignment walk is not recomputed just to semi-join
    a handful of candidate tiles.  Conservative superset: the walked
    tile cover of any feature stays inside its buffered bbox span, and
    minzoom/maxzoom gates only ever shrink the assignment."""
    p = probe.select(
        F.col("zz").alias("pzz"),
        F.col("tx").alias("ptx"),
        F.col("ty").alias("pty"),
    )
    shift = F.lit(32) - F.col("pzz")
    pow_shift = F.pow(F.lit(2.0), shift)
    buf = F.when(
        shift >= 8, F.lit(float(cfg.buffer)) * F.pow(F.lit(2.0), shift - 8)
    ).otherwise(F.lit(float(cfg.buffer)))
    cond = (
        (F.col("ptx") >= F.floor((F.col("minx") - buf - 1) / pow_shift))
        & (F.col("ptx") <= F.floor((F.col("maxx") + buf) / pow_shift))
        & (F.col("pty") >= F.floor((F.col("miny") - buf - 1) / pow_shift))
        & (F.col("pty") <= F.floor((F.col("maxy") + buf) / pow_shift))
    )
    return featuresT.join(F.broadcast(p), cond, "left_semi")


def leaf_plan(
    featuresT: DataFrame,
    cfg: TilingConfig,
    shared=None,
) -> tuple[DataFrame, DataFrame]:
    """Phase 2: run the strict full-detail kernel over candidate tiles.

    The reference probes top-down and never descends below a successful
    leaf; confirming EVERY estimate-qualified tile would re-encode whole
    candidate subtrees.  Instead only the TOPMOST candidates of each
    chain plus their direct candidate children go through the strict
    kernel — the one-level fallback keeps most of the pruning when a
    topmost estimate turns out wrong, and failed deeper chains simply
    build normally (less pruning, never wrong output).

    Returns (leaf_tiles, leaf_keys): final TILE_SCHEMA rows for the
    confirmed topmost leaves and their (zz, tx, ty) keys."""
    from . import tile as tilemod

    spark = featuresT.sparkSession

    def _empty():
        empty_tiles = spark.createDataFrame([], tilemod.TILE_SCHEMA).select(
            *tilemod._TILE_COLS
        )
        empty_keys = spark.createDataFrame([], "zz int, tx int, ty int")
        return empty_tiles, empty_keys

    def _confirm(probe, n_probe, probe_rows):
        """Strict full-detail encode of the probe tiles (TILE_SCHEMA_LEAF
        rows, leaf_ok marking the verdict), lineage-truncated: probe keys
        are tiny but sit on the whole candidate DAG, and downstream
        consumers (ancestor dedup, per-zoom prune, final union) would
        each re-embed that DAG in their plans — Catalyst plan strings
        grow multiplicatively and the AQE explain rendering alone OOMs."""
        probe_feats = _probe_features(featuresT, probe, cfg)
        cand_assign = tilemod.assign_tiles_all(probe_feats, cfg).join(
            F.broadcast(probe), ["zz", "tx", "ty"], "left_semi"
        )
        ccfg = replace(cfg, vardepth_confirm=True)
        kcols = [
            c for c in tilemod._STREAM_COLS + ("zz",) if c in cand_assign.columns
        ]
        shuffled = cand_assign.select(*kcols).repartition(
            tilemod._tile_partitions(spark, n_probe, probe_rows), "zz", "tx", "ty"
        ).sortWithinPartitions("zz", "tx", "ty", "index", "seq")
        return shuffled.mapInPandas(
            tilemod.make_stream_kernel(ccfg, shared),
            schema=tilemod.TILE_SCHEMA_LEAF,
        ).localCheckpoint()

    # the candidate relation is tiny but sits on an expensive DAG (a
    # shallow assignment explode-aggregate) consumed by several joins —
    # persist so it runs once
    cand = candidate_keys(featuresT, cfg).persist()
    candk = cand.select(
        _pack_key(F.col("zz"), F.col("tx"), F.col("ty")).alias("k")
    )
    # round 1: the TOPMOST candidate of each chain (no candidate parent).
    # The reference probes top-down and never descends below a success
    # (tile.cpp:3059-3066); a confirmed top prunes its whole subtree, so
    # probing deeper tiers up front would mostly waste full-detail
    # encodes.  localCheckpoint keeps the probe plan small.
    top = cand.join(
        candk,
        _parent_key(F.col("zz"), F.col("tx"), F.col("ty")) == candk["k"],
        "left_anti",
    ).localCheckpoint()
    n_top, rows_top = _count_rows(top)
    if n_top == 0:
        cand.unpersist()
        return _empty()
    conf1 = _confirm(top, n_top, rows_top)
    leaf1 = conf1.filter(F.col("leaf_ok"))
    failedk = top.join(
        conf1.filter(F.col("leaf_ok")).select(
            F.col("z").alias("zz"), F.col("x").alias("tx"), F.col("y").alias("ty")
        ),
        ["zz", "tx", "ty"],
        "left_anti",
    ).select(_pack_key(F.col("zz"), F.col("tx"), F.col("ty")).alias("k"))
    # round 2: only the direct candidate children of FAILED tops — the
    # one-level fallback that keeps most of the pruning when a topmost
    # size estimate turns out wrong.  Usually empty.
    tier2 = cand.join(
        failedk,
        _parent_key(F.col("zz"), F.col("tx"), F.col("ty")) == failedk["k"],
        "left_semi",
    ).localCheckpoint()
    n_tier2, rows_tier2 = _count_rows(tier2)
    cand.unpersist()
    leaves = leaf1
    if n_tier2:
        leaf2 = _confirm(tier2, n_tier2, rows_tier2).filter(F.col("leaf_ok"))
        leaves = leaf1.unionByName(leaf2)
    leaves = leaves.select(*tilemod._TILE_COLS).localCheckpoint()

    # a top at z can sit UNDER another top's subtree through a
    # non-candidate gap zoom (z-1 not a candidate, an ancestor at z-k
    # is): if both confirmed, the deeper leaf must not ship — its tile
    # is pruned territory.  Leaf zooms are few: chain one broadcast
    # anti-join per shallower leaf zoom.
    zs = sorted(
        r["z"] for r in leaves.select("z").distinct().collect()
    )
    for zl in zs:
        lk = leaves.filter(F.col("z") == zl).select(
            _pack_key(F.lit(zl), F.col("x"), F.col("y")).alias("k")
        )
        anc = F.when(
            F.col("z") > zl,
            _pack_key(
                F.lit(zl),
                F.expr(f"shiftright(x, z - {zl})"),
                F.expr(f"shiftright(y, z - {zl})"),
            ),
        )
        leaves = leaves.join(F.broadcast(lk), anc == lk["k"], "left_anti")
    leaves = leaves.localCheckpoint()
    leaf_tiles = leaves.select(*tilemod._TILE_COLS)
    leaf_keys = leaves.select(
        F.col("z").alias("zz"), F.col("x").alias("tx"), F.col("y").alias("ty")
    )
    return leaf_tiles, leaf_keys


# above this many leaves, stop chaining broadcast anti-joins and fall
# back to the relational skip-set (drop_keys) — a planetary-scale -at
# build can leaf MOST of the mid-zoom pyramid
_BCAST_LEAF_CAP = 1_000_000


def prune_assignment(
    assigned: DataFrame, leaf_keys: DataFrame, cfg: TilingConfig
) -> DataFrame:
    """Phase 3: drop assignment rows for confirmed leaves and every tile
    with a confirmed-leaf ancestor (the skip_children set).

    Fast path: the leaf set is small (it is bounded by the candidate
    estimate, and each leaf subsumes its whole subtree), so instead of
    materializing the skip-tile relation — which costs a ``distinct()``
    shuffle over the FULL pyramid assignment plus a second recompute of
    the assignment DAG for the anti-join — chain one broadcast hash
    anti-join per leaf zoom actually present: an assignment row matches
    leaf zoom ``zl`` iff ``zz >= zl`` and its ancestor key at ``zl`` is a
    leaf.  All the joins broadcast, so the assignment is computed once
    and never shuffled for the prune."""
    per_zoom = {
        r["zz"]: r["n"]
        for r in leaf_keys.groupBy("zz").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not per_zoom:
        return assigned
    if sum(per_zoom.values()) > _BCAST_LEAF_CAP:
        drop = drop_keys(assigned, leaf_keys, cfg).persist()
        return assigned.join(drop, ["zz", "tx", "ty"], "left_anti")
    out = assigned
    for zl in sorted(per_zoom):
        lk = leaf_keys.filter(F.col("zz") == zl).select(
            _pack_key(F.lit(zl), F.col("tx"), F.col("ty")).alias("k")
        )
        # equi-key, null when the row is above the leaf zoom (never joins)
        anc = F.when(
            F.col("zz") >= zl,
            _pack_key(
                F.lit(zl),
                F.expr(f"shiftright(tx, zz - {zl})"),
                F.expr(f"shiftright(ty, zz - {zl})"),
            ),
        )
        out = out.join(F.broadcast(lk), anc == lk["k"], "left_anti")
    return out


def drop_keys(
    assigned: DataFrame, leaf_keys: DataFrame, cfg: TilingConfig
) -> DataFrame:
    """(zz, tx, ty) tiles removed by the leaf set: the leaves themselves
    (already encoded by the confirm pass) plus every non-empty descendant
    (tile.cpp:3179-3199 parent-skip, transitively).  All joins run on
    tile-key relations — nothing is collected to the driver, so the leaf
    set can be arbitrarily large."""
    lk = leaf_keys.select(
        _pack_key(F.col("zz"), F.col("tx"), F.col("ty")).alias("k")
    )
    tiles = assigned.select("zz", "tx", "ty").distinct()
    anc = (
        tiles.filter(F.col("zz") > cfg.minzoom)
        .withColumn(
            "zl", F.explode(F.sequence(F.lit(cfg.minzoom), F.col("zz") - 1))
        )
        .select(
            "zz",
            "tx",
            "ty",
            _pack_key(
                F.col("zl"),
                F.expr("shiftright(tx, zz - zl)"),
                F.expr("shiftright(ty, zz - zl)"),
            ).alias("k"),
        )
    )
    skipped = (
        anc.join(lk, "k", "left_semi").select("zz", "tx", "ty").distinct()
    )
    return skipped.unionByName(leaf_keys).distinct()
