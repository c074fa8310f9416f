"""Join operators — SURVEY §2.6.

- :func:`pip_join` — point-in-polygon spatial join (J5): the reference has
  pnpoly only as a per-tile predicate (clip.cpp:1153-1215) plus the packed
  R-tree idea from FlatGeobuf (flatgeobuf.cpp:361-384); here it is a
  first-class broadcast join.  The build side (polygons) becomes a
  grid-bucketed index — cell id at a fixed zoom → candidate polygon ids —
  broadcast to every executor; the probe side streams point batches
  through an Arrow UDF that does a vectorized bucket lookup + even-odd
  ray cast.  No shuffle of the big side at all (the CSV-join strategy of
  tile-join.cpp:223-274 generalized to 2-D).
- :func:`knn_join` — k-nearest-neighbor lookup over the same grid
  (feature-dedup primitive of the north rule).
- :func:`attribute_join` — tile-join's CSV hash join (J2,
  tile-join.cpp:190-303): broadcast the attribute table, left/inner by a
  feature attribute.
- :func:`tile_join` — merge k tile sets per (z,x,y), layers merged by
  name with extent rescale (J1, append_tile tile-join.cpp:103-400).
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import mvt
from .geom.clip import point_in_polygon


class PolygonIndex:
    """Grid-bucketed polygon index (broadcastable).

    Polygons are (id, rings) in world coordinates; the grid is the tile
    grid at ``grid_zoom``.  Lookup of a point: O(candidates-in-cell)."""

    def __init__(self, polygons: list[tuple[int, list[tuple[np.ndarray, np.ndarray]]]],
                 grid_zoom: int = 7):
        self.grid_zoom = grid_zoom
        self.shift = 32 - grid_zoom
        self.polys = {}
        self.buckets: dict[int, list[int]] = defaultdict(list)
        for pid, rings in polygons:
            rings = [
                (np.asarray(rx, dtype=np.int64), np.asarray(ry, dtype=np.int64))
                for rx, ry in rings
            ]
            self.polys[pid] = rings
            minx = min(int(rx.min()) for rx, _ in rings)
            maxx = max(int(rx.max()) for rx, _ in rings)
            miny = min(int(ry.min()) for _, ry in rings)
            maxy = max(int(ry.max()) for _, ry in rings)
            for cx in range(minx >> self.shift, (maxx >> self.shift) + 1):
                for cy in range(miny >> self.shift, (maxy >> self.shift) + 1):
                    self.buckets[(cx << grid_zoom) | cy].append(pid)
        self.buckets = dict(self.buckets)

    def lookup(self, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """For each point return the matching polygon id or -1 (first match
        wins, by ascending polygon id — deterministic)."""
        px = np.asarray(px, dtype=np.int64)
        py = np.asarray(py, dtype=np.int64)
        cells = ((px >> self.shift) << self.grid_zoom) | (py >> self.shift)
        out = np.full(len(px), -1, dtype=np.int64)
        order = np.argsort(cells, kind="mergesort")
        i = 0
        n = len(px)
        while i < n:
            j = i
            c = cells[order[i]]
            while j < n and cells[order[j]] == c:
                j += 1
            cand = self.buckets.get(int(c))
            if cand:
                sel = order[i:j]
                unresolved = np.ones(len(sel), dtype=bool)
                for pid in sorted(cand):
                    if not unresolved.any():
                        break
                    idx = sel[unresolved]
                    inside = point_in_polygon(self.polys[pid], px[idx], py[idx])
                    hit = idx[inside]
                    out[hit] = pid
                    unresolved[np.flatnonzero(unresolved)[inside]] = False
            i = j
        return out


def pip_join(
    points: DataFrame,
    index: "PolygonIndex",
    x_col: str = "minx",
    y_col: str = "miny",
    out_col: str = "polygon_id",
    how: str = "left",
) -> DataFrame:
    """Tag each point row with the id of the polygon containing it
    (-1 / dropped when none, per ``how`` left|inner)."""
    spark = points.sparkSession
    bidx = spark.sparkContext.broadcast(index)
    schema = T.StructType(points.schema.fields + [T.StructField(out_col, T.LongType())])

    def gen(batches):
        ix = bidx.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            pdf[out_col] = ix.lookup(
                pdf[x_col].to_numpy(np.int64), pdf[y_col].to_numpy(np.int64)
            )
            yield pdf

    out = points.mapInPandas(gen, schema=schema)
    if how == "inner":
        out = out.filter(F.col(out_col) >= 0)
    return out


class PointIndex:
    """Grid-bucketed point index for kNN / radius queries (broadcastable)."""

    def __init__(self, ids: np.ndarray, x: np.ndarray, y: np.ndarray, cell_bits: int):
        """cell_bits: world-coordinate bits per cell side (cell = 2**bits)."""
        self.bits = cell_bits
        self.ids = np.asarray(ids, dtype=np.int64)
        self.x = np.asarray(x, dtype=np.int64)
        self.y = np.asarray(y, dtype=np.int64)
        cells = (self.x >> cell_bits) << np.int64(32) | (self.y >> cell_bits)
        order = np.argsort(cells, kind="mergesort")
        self.sorted_cells = cells[order]
        self.order = order

    def _cell_range(self, cell: int) -> tuple[int, int]:
        a = int(np.searchsorted(self.sorted_cells, cell, side="left"))
        b = int(np.searchsorted(self.sorted_cells, cell, side="right"))
        return a, b

    def within_radius(self, qx: int, qy: int, r: float) -> np.ndarray:
        """Indices (into ids) of points within r of (qx,qy)."""
        reach = max(int(r) >> self.bits, 0) + 1
        cx, cy = qx >> self.bits, qy >> self.bits
        cand: list[np.ndarray] = []
        for dx in range(-reach, reach + 1):
            for dy in range(-reach, reach + 1):
                a, b = self._cell_range(((cx + dx) << 32) | (cy + dy))
                if b > a:
                    cand.append(self.order[a:b])
        if not cand:
            return np.empty(0, dtype=np.int64)
        c = np.concatenate(cand)
        d2 = (self.x[c] - qx).astype(np.float64) ** 2 + (
            self.y[c] - qy
        ).astype(np.float64) ** 2
        return c[d2 <= r * r]

    def knn_d2(self, qx: int, qy: int, k: int, exclude_id: int | None = None):
        """(ids, squared distances as exact int64) of the k nearest points,
        expanding the search ring until k are found inside the guaranteed
        radius or the grid is exhausted.  Integer d² keeps oracle
        comparisons exact; ties at the k-boundary yield the same distance
        multiset regardless of which candidate wins."""
        reach = 1
        while True:
            cand = self._ring_candidates(qx, qy, reach)
            if exclude_id is not None:
                cand = cand[self.ids[cand] != exclude_id]
            if len(cand) >= k or reach > 64:
                dx = self.x[cand] - qx
                dy = self.y[cand] - qy
                d2 = dx * dx + dy * dy
                # the region within (reach-1) cells of q is fully searched
                # wherever q sits in its cell; results beyond that radius
                # may be beaten by an unsearched cell — expand
                guaranteed = (reach - 1) << self.bits
                top = np.argsort(d2, kind="mergesort")[:k]
                if (
                    len(cand) < k
                    or reach > 64
                    or (len(top) and d2[top].max() <= guaranteed * guaranteed)
                ):
                    return self.ids[cand[top]], d2[top]
            reach *= 2

    def knn(self, qx: int, qy: int, k: int, exclude_id: int | None = None):
        """(ids, Euclidean distances) of the k nearest points."""
        ids, d2 = self.knn_d2(qx, qy, k, exclude_id)
        return ids, np.sqrt(d2.astype(np.float64))

    def _ring_candidates(self, qx: int, qy: int, reach: int) -> np.ndarray:
        cx, cy = qx >> self.bits, qy >> self.bits
        cand = []
        for dx in range(-reach, reach + 1):
            for dy in range(-reach, reach + 1):
                a, b = self._cell_range(((cx + dx) << 32) | (cy + dy))
                if b > a:
                    cand.append(self.order[a:b])
        return np.concatenate(cand) if cand else np.empty(0, dtype=np.int64)


def knn_join(
    probe: DataFrame,
    index: "PointIndex",
    k: int = 1,
    x_col: str = "minx",
    y_col: str = "miny",
    id_col: str = "feature_id",
    self_join: bool = False,
) -> DataFrame:
    """For each probe row emit up to k rows (neighbor_id, distance).
    ``self_join=True`` excludes the probe's own id (dedup pattern)."""
    spark = probe.sparkSession
    bidx = spark.sparkContext.broadcast(index)
    schema = T.StructType(
        probe.schema.fields
        + [T.StructField("neighbor_id", T.LongType()), T.StructField("distance", T.DoubleType())]
    )

    def gen(batches):
        ix = bidx.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xs = pdf[x_col].to_numpy(np.int64)
            ys = pdf[y_col].to_numpy(np.int64)
            ids_arr = pdf[id_col].to_numpy(np.int64)
            reps: list[int] = []
            nids: list[int] = []
            dists: list[float] = []
            for i in range(len(pdf)):
                ids, dist = ix.knn(
                    int(xs[i]), int(ys[i]), k,
                    exclude_id=int(ids_arr[i]) if self_join else None,
                )
                reps.append(len(ids))
                nids.extend(int(v) for v in ids)
                dists.extend(float(v) for v in dist)
            out = pdf.iloc[np.repeat(np.arange(len(pdf)), reps)].reset_index(drop=True)
            out["neighbor_id"] = np.array(nids, dtype=np.int64)
            out["distance"] = np.array(dists, dtype=np.float64)
            if len(out):
                yield out

    return probe.mapInPandas(gen, schema=schema)


def knn_grid_join(
    points: DataFrame,
    probes: DataFrame,
    k: int,
    cell_bits: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    exclude_self: bool = True,
    max_reach: int = 64,
) -> DataFrame:
    """Exact kNN as a fully distributed grid join — no driver-side index
    build (the 100 TB shape: the corpus never leaves the executors).

    Each probe joins the candidate points in its (2·reach+1)² cell
    neighborhood; a window takes the k nearest by exact integer d².  A
    probe is resolved when it has ≥ k candidates whose kth distance lies
    within the guaranteed-searched radius (reach-1 cells).  Round 1
    searches reach 1 for every probe; from round 2 each unresolved probe
    jumps straight to its EXACT completeness bound — every true neighbor
    lies within the previous round's kth distance, so
    ``reach = (ceil(sqrt(kth_d2)) >> cell_bits) + 2`` is final — making
    the loop two distributed rounds for any probe that found k
    candidates (probes in empty regions quadruple their reach).  Inputs
    and per-round survivors are cached and released as the loop
    advances; per-round results are locally checkpointed so the returned
    union holds no live cache entries.

    Returns (probe_id, neighbor_id, d2)."""
    from pyspark.sql import Window

    spark = points.sparkSession
    cellify = lambda cx, cy: F.shiftleft(cx, 32).bitwiseOR(  # noqa: E731
        cy.bitwiseAND(F.lit((1 << 32) - 1))
    )
    pts = points.select(
        F.col(id_col).alias("c_id"),
        F.col(x_col).alias("cx"),
        F.col(y_col).alias("cy"),
        cellify(
            F.shiftright(F.col(x_col), cell_bits),
            F.shiftright(F.col(y_col), cell_bits),
        ).alias("cell"),
    )
    pts = pts.persist()
    # seed reach from global density (ONE cheap aggregate over the cached
    # corpus, approx distinct cells): at reach 1 the guaranteed radius is
    # 0 cells, so round 1 can never resolve a probe — it only exists to
    # produce the kth-distance bound.  Starting at the reach where a
    # uniform corpus puts k candidates inside the guaranteed radius makes
    # round 1 terminal for most probes and the exact-bound round 2 the
    # tail, instead of 3-4 chatty rounds (r: 1 -> 4 -> 16 ...).  Skewed
    # density only costs extra candidates scanned; correctness still
    # rests on the per-probe completeness bound below.
    dens = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("cell").alias("cells"),
    ).first()
    avg_per_cell = dens["n"] / max(int(dens["cells"]), 1)
    import math

    r0 = 1 + math.ceil(1.25 * math.sqrt((k + 1) / (math.pi * max(avg_per_cell, 1e-9))))
    r0 = max(1, min(int(r0), max_reach))
    rem = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(x_col).alias("px"),
        F.col(y_col).alias("py"),
        F.lit(r0).alias("r"),
    ).persist()
    n_rem = rem.count()
    resolved: DataFrame | None = None
    round_no = 0
    while n_rem:
        round_no += 1
        exploded = (
            rem.withColumn("dxx", F.explode(F.sequence(-F.col("r"), F.col("r"))))
            .withColumn("dyy", F.explode(F.sequence(-F.col("r"), F.col("r"))))
            .withColumn(
                "cell",
                cellify(
                    F.shiftright(F.col("px"), cell_bits) + F.col("dxx"),
                    F.shiftright(F.col("py"), cell_bits) + F.col("dyy"),
                ),
            )
            .drop("dxx", "dyy")
        )
        pairs = exploded.join(pts, "cell")
        if exclude_self:
            pairs = pairs.filter(F.col("c_id") != F.col("probe_id"))
        d2 = (F.col("cx") - F.col("px")) * (F.col("cx") - F.col("px")) + (
            F.col("cy") - F.col("py")
        ) * (F.col("cy") - F.col("py"))
        ranked = pairs.withColumn("d2", d2).withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy("d2", "c_id")
            ),
        )
        # carry (px, py, r) through the agg so the next round's rem needs
        # no re-join against the probe table
        topk = ranked.filter(F.col("rn") <= k).persist()
        guaranteed = (F.col("r") - 1).cast("long") * F.lit(1 << cell_bits)
        stats = topk.groupBy("probe_id", "px", "py", "r").agg(
            F.count(F.lit(1)).alias("n_cand"), F.max("d2").alias("kth_d2")
        )
        done_cond = (
            (F.col("n_cand") >= k) & (F.col("kth_d2") <= guaranteed * guaranteed)
        ) | (F.col("r") >= max_reach)
        done_probes = stats.filter(done_cond).select("probe_id")
        # localCheckpoint materializes the round's result and truncates
        # its lineage, so unpersisting topk afterwards cannot trigger a
        # recompute and the returned union holds no live cache entries
        batch = (
            topk.join(done_probes, "probe_id")
            .select("probe_id", F.col("c_id").alias("neighbor_id"), "d2")
            .localCheckpoint(eager=True)
        )
        resolved = batch if resolved is None else resolved.unionByName(batch)
        # next reach per unresolved probe: the exact completeness bound
        # when k candidates exist, else an aggressive 4x jump through the
        # sparse region; probes that just ran at max_reach were resolved
        # unconditionally by done_cond
        next_r = F.when(
            F.col("n_cand") >= k,
            F.least(
                F.lit(max_reach),
                (
                    F.shiftright(
                        F.ceil(F.sqrt(F.col("kth_d2").cast("double"))).cast("long"),
                        cell_bits,
                    )
                    + 2
                ).cast("int"),
            ),
        ).otherwise(F.least(F.lit(max_reach), F.col("r") * 4))
        new_rem = stats.filter(~done_cond).select(
            "probe_id", "px", "py", next_r.cast("int").alias("r")
        )
        # probes with NO candidate at all never enter stats: re-admit
        # them wider (a probe already at max_reach found nothing within
        # the cap and is legitimately neighborless — do not re-admit)
        missing = (
            rem.filter(F.col("r") < max_reach)
            .join(stats.select("probe_id"), "probe_id", "left_anti")
            .select(
                "probe_id", "px", "py",
                F.least(F.lit(max_reach), F.col("r") * 4).alias("r"),
            )
        )
        new_rem = new_rem.unionByName(missing).persist()
        n_rem = new_rem.count()  # one driver action per round: loop control
        topk.unpersist()
        rem.unpersist()
        rem = new_rem
    rem.unpersist()
    pts.unpersist()
    if resolved is None:  # empty probe set: typed empty result
        return spark.createDataFrame(
            [], "probe_id long, neighbor_id long, d2 long"
        )
    return resolved


def greedy_radius_dedup(
    xs: np.ndarray, ys: np.ndarray, radius: float
) -> np.ndarray:
    """Keep-mask for the greedy radius dedup scan in presentation order:
    drop a point iff it lies within ``radius`` of an already-KEPT point.

    Sub-grid of side ``radius``: each candidate probes only its 3×3
    sub-cell neighborhood.  Kept points are pairwise > radius apart, so a
    sub-cell holds at most ~4 of them — the scan is O(n) per cell however
    dense the cell is (the round-2 verdict's hot-cell O(n·kept) fix)."""
    n = len(xs)
    keep = np.ones(n, dtype=bool)
    if n == 0 or radius <= 0:
        return keep
    r2 = radius * radius
    inv = 1.0 / radius
    # integer sub-cell keys (floor; world coords are non-negative)
    cxs = np.floor(xs * inv).astype(np.int64)
    cys = np.floor(ys * inv).astype(np.int64)
    kx = np.empty(n, dtype=np.float64)
    ky = np.empty(n, dtype=np.float64)
    m = 0
    buckets: dict[tuple[int, int], list[int]] = {}
    for i in range(n):
        x, y = xs[i], ys[i]
        cx, cy = int(cxs[i]), int(cys[i])
        dup = False
        for sx in (cx - 1, cx, cx + 1):
            for sy in (cy - 1, cy, cy + 1):
                for j in buckets.get((sx, sy), ()):
                    dx = kx[j] - x
                    dy = ky[j] - y
                    if dx * dx + dy * dy <= r2:
                        dup = True
                        break
                if dup:
                    break
            if dup:
                break
        if dup:
            keep[i] = False
        else:
            kx[m] = x
            ky[m] = y
            buckets.setdefault((cx, cy), []).append(m)
            m += 1
    return keep


def spatial_dedup(
    features: DataFrame, radius: float, x_col: str = "minx", y_col: str = "miny"
) -> DataFrame:
    """Drop features within ``radius`` world units of an already-kept
    feature — deterministic greedy in (index, seq) order, the kNN-dedup of
    the north rule.  Distributed shape: *blocked* dedup — shuffle on grid
    cell (cell side >= 4*radius), greedy scan inside each cell in curve
    order.  Cross-cell near-duplicates are not collapsed (the standard
    blocking tradeoff; at cell >= 4r the miss band is the cell boundary
    only).  Deterministic for a fixed radius regardless of parallelism."""
    bits = max(int(np.ceil(np.log2(max(radius, 1)))) + 2, 8)
    cell = (
        F.shiftleft(F.shiftright(F.col(x_col), bits), 32)
        .bitwiseOR(F.shiftright(F.col(y_col), bits))
    )
    tagged = features.withColumn("_cell", cell)

    def per_cell(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["index", "seq"], kind="mergesort")
        keep = greedy_radius_dedup(
            pdf[x_col].to_numpy(np.float64),
            pdf[y_col].to_numpy(np.float64),
            radius,
        )
        return pdf.loc[keep]

    out_schema = tagged.schema
    return (
        tagged.groupBy("_cell")
        .applyInPandas(per_cell, schema=out_schema)
        .drop("_cell")
    )


def attribute_join(
    features: DataFrame,
    attr_table: DataFrame,
    feature_key: str,
    table_key: str,
    how: str = "left",
) -> DataFrame:
    """tile-join's CSV hash join (J2): match ``attrs[feature_key]`` against
    the attribute table's key column and append its columns.  The table is
    broadcast — the reference always builds an in-memory map of the whole
    CSV (tile-join.cpp:190-221)."""
    key = F.col("attrs").getItem(feature_key)
    joined = features.withColumn("_jk", key).join(
        F.broadcast(attr_table),
        F.col("_jk") == attr_table[table_key].cast("string"),
        how,
    )
    new_cols = [c for c in attr_table.columns if c != table_key]
    merged = F.map_concat(
        F.col("attrs"),
        F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in new_cols]),
                F.array(*[F.col(c).cast("string") for c in new_cols]),
            ),
            lambda k, v: v.isNotNull(),
        ),
    )
    return joined.withColumn("attrs", merged).drop("_jk", *new_cols, table_key)


def _sv_str(v) -> str:
    """mvt value → serial_val string rendering (mvt_value_to_serial_val)
    for the CSV key match: bools print true/false, integral doubles drop
    the fraction, strings pass through."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v == int(v) and abs(v) < 2**53:
        return str(int(v))
    return str(v)


def csv_join_tile_features(
    attrs_list: list[dict],
    header: list[str],
    mapping: dict[str, list[str]],
    exclude: frozenset[str] = frozenset(),
    if_matched: bool = False,
    empty_null: bool = False,
) -> list[dict | None]:
    """tile-join's per-feature CSV join (tile-join.cpp:196-280): walk the
    feature's attrs in key order; when a key equals the CSV's first
    header its STRING rendering looks up the row; joined fields type as
    quoted→string (dequoted), JSON-number→double, empty→""(or null with
    --empty-csv-columns-are-null, which drops the attr); a joined column
    REPLACES a same-named tile attr; unmatched features survive unless
    ``if_matched`` (-i).  Returns one (possibly new) attrs dict per
    input, or None for features -i drops."""
    from .csvutil import csv_dequote, csv_is_number

    key_col = header[0] if header else None
    out: list[dict | None] = []
    for attrs in attrs_list:
        matched = False
        new_attrs: dict = {}
        for k, v in attrs.items():
            if v is None:
                continue
            if k not in exclude:
                new_attrs[k] = v
            if key_col is not None and k == key_col and not matched:
                row = mapping.get(_sv_str(v))
                if row is not None:
                    matched = True
                    for i in range(1, min(len(row), len(header))):
                        joinkey = header[i]
                        joinval = row[i]
                        if joinkey in exclude:
                            continue
                        if joinval.startswith('"'):
                            new_attrs[joinkey] = csv_dequote(joinval)
                        elif csv_is_number(joinval):
                            new_attrs[joinkey] = float(joinval)
                        elif joinval == "":
                            if empty_null:
                                new_attrs.pop(joinkey, None)
                                continue
                            new_attrs[joinkey] = ""
                        else:
                            new_attrs[joinkey] = joinval
        out.append(None if (if_matched and not matched) else new_attrs)
    return out


def csv_join_tiles(
    tiles: DataFrame,
    csv_path: str,
    exclude: tuple[str, ...] = (),
    if_matched: bool = False,
    empty_null: bool = False,
    extent: int = 4096,
) -> DataFrame:
    """tile-join -c: join a CSV onto every tile's features by the CSV's
    first column (tile-join.cpp:190-280 + readcsv).  The CSV map is read
    once and broadcast with the task closure — the reference holds the
    whole file in memory too (csv.cpp:67-111).  Geometry moves through
    the numpy command-stream codec untouched."""
    from . import mvt as mvtmod
    from .csvutil import read_join_csv

    header, mapping = read_join_csv(csv_path)
    excl = frozenset(exclude)
    schema = T.StructType(
        [
            T.StructField("z", T.IntegerType()),
            T.StructField("x", T.IntegerType()),
            T.StructField("y", T.IntegerType()),
            T.StructField("tile", T.BinaryType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for z, x, y, blob in zip(
                pdf["z"].to_numpy(), pdf["x"].to_numpy(),
                pdf["y"].to_numpy(), pdf["tile"].to_numpy(),
            ):
                builders = []
                for layer in mvtmod.decode_tile(bytes(blob), arrays=True):
                    lb = mvtmod.LayerBuilder(
                        layer["name"], extent=layer["extent"] or extent
                    )
                    joined = csv_join_tile_features(
                        [f["attrs"] for f in layer["features"]],
                        header, mapping, excl, if_matched, empty_null,
                    )
                    for f, attrs in zip(layer["features"], joined):
                        if attrs is None:
                            continue
                        lb.add_feature_arrays(
                            f["type"], f["ops"], f["xs"], f["ys"], attrs, f["id"]
                        )
                    if lb.features:
                        builders.append(lb)
                if builders:
                    rows.append(
                        {
                            "z": int(z), "x": int(x), "y": int(y),
                            "tile": mvtmod.gzip_tile(mvtmod.encode_tile(builders)),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    return tiles.select("z", "x", "y", "tile").mapInPandas(gen, schema=schema)


# ---------------------------------------------------------------------------
# tile-join (J1): merge tile sets
# ---------------------------------------------------------------------------

def merge_tile_blobs(blobs: list[bytes], extent: int = 4096) -> bytes:
    """Decode k tiles, merge layers by name (geometry rescaled between
    extents, tile-join.cpp:334-339), re-encode + gzip.  Geometry stays in
    (ops, xs, ys) numpy columns end to end — no per-vertex Python."""
    builders: dict[str, mvt.LayerBuilder] = {}
    for blob in blobs:
        for layer in mvt.decode_tile(bytes(blob), arrays=True):
            lb = builders.get(layer["name"])
            if lb is None:
                lb = builders[layer["name"]] = mvt.LayerBuilder(layer["name"], extent=extent)
            src_extent = layer["extent"] or 4096
            for f in layer["features"]:
                xs, ys = f["xs"], f["ys"]
                if src_extent != extent:
                    xs = np.round(xs * (extent / src_extent)).astype(np.int64)
                    ys = np.round(ys * (extent / src_extent)).astype(np.int64)
                lb.add_feature_arrays(f["type"], f["ops"], xs, ys, f["attrs"], f["id"])
    return mvt.gzip_tile(mvt.encode_tile(builders.values()))


def filter_rename_tile_layers(
    blob: bytes,
    keep_layers: tuple[str, ...] = (),
    remove_layers: tuple[str, ...] = (),
    rename_layers: dict[str, str] | None = None,
    extent: int = 4096,
) -> bytes | None:
    """Layer keep (-l) / remove (-L) / rename (-R) on one tile's bytes
    (tile-join.cpp:1287+ option surface).  Returns None when no layer
    survives.  Same-named layers after rename are merged."""
    from . import mvt as mvtmod

    builders: dict[str, "mvtmod.LayerBuilder"] = {}
    for layer in mvtmod.decode_tile(blob, arrays=True):
        name = layer["name"]
        if keep_layers and name not in keep_layers:
            continue
        if name in remove_layers:
            continue
        name = (rename_layers or {}).get(name, name)
        lb = builders.get(name)
        if lb is None:
            lb = builders[name] = mvtmod.LayerBuilder(name, extent=extent)
        scale = extent / (layer["extent"] or 4096)
        for f in layer["features"]:
            xs, ys = f["xs"], f["ys"]
            if scale != 1.0:
                xs = np.round(xs * scale).astype(np.int64)
                ys = np.round(ys * scale).astype(np.int64)
            lb.add_feature_arrays(f["type"], f["ops"], xs, ys, f["attrs"], f["id"])
    if not builders:
        return None
    return mvtmod.gzip_tile(mvtmod.encode_tile(builders.values()))


def tile_join(
    tilesets: list[DataFrame],
    extent: int = 4096,
    keep_layers: tuple[str, ...] = (),
    remove_layers: tuple[str, ...] = (),
    rename_layers: dict[str, str] | None = None,
    minzoom: int | None = None,
    maxzoom: int | None = None,
    overzoom_to: int | None = None,
) -> DataFrame:
    """Union per (z,x,y); single-source tiles pass through untouched,
    multi-source tiles are re-encoded (matches append_tile's merge).

    J3 option surface (tile-join.cpp:1287+): ``keep_layers`` (-l),
    ``remove_layers`` (-L), ``rename_layers`` (-R old→new),
    ``minzoom``/``maxzoom`` zoom clamp (-Z/-z), and ``overzoom_to`` —
    tile-join's --overzoom: after the merge, parents at the deepest
    present zoom derive children down to the requested zoom
    (tile-cache.hpp role, via the overzoom operator)."""
    srcs = [t.select("z", "x", "y", "tile") for t in tilesets]
    if minzoom is not None:
        srcs = [t.filter(F.col("z") >= minzoom) for t in srcs]
    if maxzoom is not None:
        srcs = [t.filter(F.col("z") <= maxzoom) for t in srcs]
    if overzoom_to is not None:
        # tile-join --overzoom is PER SOURCE: a tileset whose own maxzoom
        # stops short of the join's output maxzoom contributes overzoomed
        # children of its deepest tiles at every deeper zoom (the
        # reference's ocean z2 + countries z4 join fills the full z3/z4
        # pyramid from the ocean tiles, merged with countries tiles where
        # both exist).  Overzooming the merged union instead would be a
        # no-op whenever the deepest source already reaches the target.
        from .overzoom import overzoom as overzoom_op

        # ONE driver probe for every source's maxzoom (a z-column-pruned
        # aggregate over the tagged union) — no per-source collect, no
        # persist to leak across the session.
        probe = None
        for i, t in enumerate(srcs):
            p = t.select(F.lit(i).alias("sid"), "z")
            probe = p if probe is None else probe.unionByName(p)
        maxz = {
            r["sid"]: r["m"]
            for r in probe.groupBy("sid").agg(F.max("z").alias("m")).collect()
        }
        filled = []
        for i, t in enumerate(srcs):
            mz = maxz.get(i)
            if mz is not None and overzoom_to > mz:
                # every intermediate zoom in one overzoom stage, each
                # level derived directly from the deepest AVAILABLE
                # ancestor (tile-join reads the best ancestor tile, not
                # a chain of re-encodes)
                deepest = t.filter(F.col("z") == mz)
                t = t.unionByName(
                    overzoom_op(
                        deepest, target_z=list(range(mz + 1, overzoom_to + 1))
                    )
                )
            filled.append(t)
        srcs = filled
    unioned = srcs[0]
    for t in srcs[1:]:
        unioned = unioned.unionByName(t)
    layer_ops = bool(keep_layers or remove_layers or rename_layers)

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        z, x, y = key
        if len(pdf) == 1 and not layer_ops:
            return pdf
        blob = merge_tile_blobs([bytes(b) for b in pdf["tile"]], extent)
        if layer_ops:
            blob = filter_rename_tile_layers(
                blob, keep_layers, remove_layers, rename_layers, extent
            )
            if blob is None:
                return pd.DataFrame(
                    {"z": [], "x": [], "y": [], "tile": []}
                ).astype({"z": "int32", "x": "int32", "y": "int32"})
        return pd.DataFrame([{"z": z, "x": x, "y": y, "tile": blob}])

    schema = T.StructType(
        [
            T.StructField("z", T.IntegerType()),
            T.StructField("x", T.IntegerType()),
            T.StructField("y", T.IntegerType()),
            T.StructField("tile", T.BinaryType()),
        ]
    )
    out = unioned.groupBy("z", "x", "y").applyInPandas(merge, schema=schema)
    return out
