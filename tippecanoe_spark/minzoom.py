"""Global curve-order + ``feature_minzoom`` stamping (rate dropping, T8).

Exact reference semantics (main.cpp:299-350 ``calc_feature_minzoom`` +
``prep_drop_states`` main.cpp:1074-1087): features stream in global
space-filling-curve order; every zoom ``i < basezoom`` keeps a cascaded
fractional accumulator ``seq_i`` that is incremented by every feature and
decremented by ``interval_i = droprate**(basezoom-i)`` for every feature
*accepted* at level i; a feature is evaluated at level i only if it was
accepted at all levels above, and its minzoom is ``i+1`` at the first
rejection.  Keep-sets are therefore nested across zooms.

Vectorized closed form (validated against a direct simulation of the
reference algorithm over droprates {1.2,1.5,2,2.5,3,4} × basezoom/maxzoom
combinations in tests/test_pipeline.py): for candidates with global point
ranks r_1 < r_2 < ... at level i, the accepted count after candidate k is

    A_k = k + min(0, min_{j<=k}(floor(r_j/interval_i) + 1 - j))

and candidate k is accepted iff A_k > A_{k-1}.  The inner running-min is a
prefix computation, which makes the whole cascade distributable: the state
crossing a partition boundary at each level is just ``(k_offset,
runmin_before)`` — and ``min(cap_j + 1 - j_local) - k_offset`` composes, so
partition summaries combine associatively.

Spark shape: ``repartitionByRange(index)`` + ``sortWithinPartitions`` gives
the global order without a single-partition window (the reference's radix
sort, main.cpp:745-1145, is replaced by Catalyst's external range sort).
Global ranks come from per-partition counts + a tiny driver-side prefix sum
— no ``Window.orderBy`` over the whole table.

Boundary states per level are computed on the driver from the global point
count alone (the cascade is a pure function of contiguous ranks 1..N) with
O(N) transient numpy memory.  Beyond driver memory (N >> 1e9) the same
math runs as a per-level streaming pass using the associative
``(count, runmin)`` monoid described above; see ``_boundary_states``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import TilingConfig
from .features import FEATURE_SCHEMA

VT_POINT = 1

STAMPED_SCHEMA = T.StructType(
    FEATURE_SCHEMA.fields
    + [
        T.StructField("curve_rank", T.LongType()),
        T.StructField("feature_minzoom", T.IntegerType()),
        T.StructField("feature_maxzoom", T.IntegerType()),
        T.StructField("gap", T.LongType()),
    ]
)


def _intervals(cfg: TilingConfig) -> list[tuple[int, float]]:
    """(level, interval) pairs from min(maxzoom, basezoom-1) down to 0,
    mirroring prep_drop_states (main.cpp:1074-1087)."""
    bz = cfg.resolved_basezoom()
    out = []
    for i in range(min(cfg.maxzoom, bz - 1), -1, -1):
        out.append((i, float(np.exp(np.log(cfg.droprate) * (bz - i)))))
    return out


def _accept_mask(
    ranks: np.ndarray, interval: float, k_offset: int, runmin_before: float
) -> np.ndarray:
    """Accepted mask for candidates with global point ranks ``ranks`` whose
    candidate ordinals start at ``k_offset + 1``; ``runmin_before`` is the
    running min of (cap_j + 1 - j) over all earlier candidates (+inf if
    none)."""
    m = len(ranks)
    if m == 0:
        return np.zeros(0, dtype=bool)
    k = np.arange(k_offset + 1, k_offset + m + 1, dtype=np.float64)
    cap = np.floor(np.asarray(ranks, dtype=np.float64) / interval) + 1.0
    runmin = np.minimum.accumulate(cap - k)
    runmin = np.minimum(runmin, runmin_before)
    A = k + np.minimum(0.0, runmin)
    A_prev = np.concatenate(
        [[k[0] - 1 + min(0.0, runmin_before if m else 0.0)], A[:-1]]
    )
    return A > A_prev


def minzoom_for_ranks(rn: np.ndarray, cfg: TilingConfig) -> np.ndarray:
    """Exact minzoom for global 1-based point ranks (single-machine path;
    semantics identical to the reference cascade)."""
    rn = np.asarray(rn, dtype=np.int64)
    n = len(rn)
    if cfg.no_feature_dropping or n == 0:
        return np.zeros(n, dtype=np.int32)
    order = np.argsort(rn, kind="stable")
    ranks_sorted = rn[order]
    mz_sorted = np.zeros(n, dtype=np.int32)
    cand = np.ones(n, dtype=bool)
    for level, interval in _intervals(cfg):
        idx = np.flatnonzero(cand)
        if len(idx) == 0:
            break
        acc = _accept_mask(ranks_sorted[idx], interval, 0, np.inf)
        mz_sorted[idx[~acc]] = level + 1
        cand[idx[~acc]] = False
    out = np.empty(n, dtype=np.int32)
    out[order] = mz_sorted
    return out


def _boundary_states(
    n_points: int,
    pt_offsets: dict[int, int],
    cfg: TilingConfig,
    chunk_size: int = 1 << 22,
) -> dict[int, dict[int, tuple[int, float]]]:
    """Per-partition cascade entry state {pid: {level: (k_offset,
    runmin_before)}}.

    Streaming exact computation: ranks 1..N are processed in O(chunk)
    windows, each level carrying the associative ``(k_offset, runmin)``
    monoid across chunks (combine: runmin' = min(runmin_left,
    min_chunk(cap_j - j_global))) — never an O(N) resident array, and
    total work ≈ N·Σ droprate^-i ≈ 1.7N regardless of level count
    because candidate sets shrink geometrically.  (Beyond driver CPU —
    N >> 1e10 — the identical summaries can come from one Spark
    aggregation per level; the combine rule is unchanged.)
    """
    pids = sorted(pt_offsets)
    starts = np.array([pt_offsets[p] for p in pids], dtype=np.int64)
    states: dict[int, dict[int, tuple[int, float]]] = {p: {} for p in pids}
    levels = _intervals(cfg)
    if n_points == 0 or cfg.no_feature_dropping:
        for p in pids:
            for level, _ in levels:
                states[p][level] = (0, np.inf)
        return states

    carry: dict[int, tuple[int, float]] = {lv: (0, np.inf) for lv, _ in levels}
    for lo in range(0, n_points, chunk_size):
        hi = min(lo + chunk_size, n_points)
        cand = np.arange(lo + 1, hi + 1, dtype=np.int64)
        sel = np.flatnonzero((starts >= lo) & (starts < hi))
        for level, interval in levels:
            k_off, runmin_b = carry[level]
            m = len(cand)
            if m == 0:
                for pi in sel:
                    states[pids[pi]][level] = (k_off, runmin_b)
                continue
            k = np.arange(k_off + 1, k_off + m + 1, dtype=np.float64)
            cap = np.floor(cand.astype(np.float64) / interval) + 1.0
            runmin_acc = np.minimum.accumulate(cap - k)
            # boundary capture: state after all candidates with rank <= s
            for pi in sel:
                pos = int(np.searchsorted(cand, starts[pi] + 1))
                rb = (
                    runmin_b
                    if pos == 0
                    else min(runmin_b, float(runmin_acc[pos - 1]))
                )
                states[pids[pi]][level] = (k_off + pos, rb)
            # accept mask (same algebra as _accept_mask, reusing runmin)
            runmin = np.minimum(runmin_acc, runmin_b)
            A = k + np.minimum(0.0, runmin)
            A_prev = np.concatenate([[k[0] - 1 + min(0.0, runmin_b)], A[:-1]])
            acc = A > A_prev
            carry[level] = (k_off + m, float(min(runmin_b, runmin_acc[-1])))
            cand = cand[acc]
    # partitions whose start is past the last point (empty tails)
    for pi, p in enumerate(pids):
        for level, _ in levels:
            if level not in states[p]:
                states[p][level] = carry[level]
    return states


# exact-C-float emulation cutoff: below this many points the stamp path
# replays the reference's per-feature double state machine bit for bit
# (calc_feature_minzoom, main.cpp:299-350); beyond it the closed form's
# monotone-equivalent selection is used (the machine's boundary states
# need an O(N) driver replay — the replay is inherently sequential in C
# doubles, so it is BOUNDED rather than vectorized: at 250k points the
# driver stall is <0.5 s; parity corpora are far smaller, and at corpus
# scale the closed form is the documented behavior).
MACHINE_EXACT_MAX = 250_000


def _machine_intervals(cfg: TilingConfig) -> list[float]:
    """ds[i].interval per level (prep_drop_states, main.cpp:1074-1087):
    exp(log(droprate)·(basezoom-i)) in C doubles — the same libm calls,
    so the inexactness matches the reference's."""
    import math

    bz = cfg.resolved_basezoom()
    out = [0.0] * (cfg.maxzoom + 1)
    for i in range(cfg.maxzoom + 1):
        if i < bz:
            out[i] = math.exp(math.log(cfg.droprate) * (bz - i))
    return out


def _machine_step(seq: list[float], intervals: list[float], maxzoom: int) -> int:
    """One feature through the reference cascade (main.cpp:305-325):
    ++ every level, then from maxzoom down subtract the interval until
    the first negative accumulator, whose level+1 is the minzoom."""
    for i in range(maxzoom, -1, -1):
        seq[i] += 1.0
    for i in range(maxzoom, -1, -1):
        if seq[i] < 0:
            return i + 1
        seq[i] -= intervals[i]
    return 0


def _machine_boundary_states(
    n_points: int, pt_offsets: dict[int, int], cfg: TilingConfig
) -> dict[int, list[float]]:
    """Per-partition machine entry state {pid: [seq doubles]}.  The
    machine state after k points is a pure function of k, so one driver
    replay over ordinals 0..N captures every partition boundary."""
    intervals = _machine_intervals(cfg)
    mz = cfg.maxzoom
    bz = cfg.resolved_basezoom()
    # levels >= basezoom have interval 0: their state after k points is
    # exactly float(k) and their check always passes, so only the
    # low levels are replayed (same bits, ~2x fewer Python ops)
    nlow = min(bz, mz + 1)
    low = [0.0] * nlow
    ivals = intervals[:nlow]
    rng = range(nlow)
    rrng = range(nlow - 1, -1, -1)
    by_start: dict[int, list[int]] = {}
    for pid, s in pt_offsets.items():
        by_start.setdefault(s, []).append(pid)
    states: dict[int, list[float]] = {}
    done = 0
    for s in sorted(by_start):
        while done < s:
            for i in rng:
                low[i] += 1.0
            for i in rrng:
                if low[i] < 0:
                    break
                low[i] -= ivals[i]
            done += 1
        tail = [float(done)] * (mz + 1 - nlow)
        for pid in by_start[s]:
            states[pid] = list(low) + tail
    return states


def minzoom_machine_exact(rn: np.ndarray, cfg: TilingConfig) -> np.ndarray:
    """Exact reference minzoom for 1-based point ranks (single-machine
    replay of the C cascade — float-identical to tippecanoe)."""
    rn = np.asarray(rn, dtype=np.int64)
    n = len(rn)
    if cfg.no_feature_dropping or n == 0:
        return np.zeros(n, dtype=np.int32)
    intervals = _machine_intervals(cfg)
    seq = [0.0] * (cfg.maxzoom + 1)
    top = int(rn.max()) if n else 0
    by_rank = np.zeros(top + 1, dtype=np.int32)
    for k in range(1, top + 1):
        by_rank[k] = _machine_step(seq, intervals, cfg.maxzoom)
    return by_rank[rn]


def stamp_minzoom(
    features: DataFrame, cfg: TilingConfig | None = None, partitions: int | None = None
) -> DataFrame:
    """Order globally by (index, seq); add curve_rank, feature_minzoom, gap.

    ``gap`` = index distance to the previous feature in curve order — the
    density signal behind gamma thinning and feature-density attributes
    (tile.cpp:1180-1199).  Exact across partition seams via the same
    offsets collect.
    """
    cfg = cfg or TilingConfig()
    spark = features.sparkSession
    partitions = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    # repartitionByRange SAMPLES its input (one extra evaluation of the
    # whole geocode/serialize lineage) before the shuffle evaluates it
    # again — cache the input so the python pipeline runs once (a caller's
    # cache is used as is, and stays the caller's to release)
    owned = not features.is_cached
    if owned:
        features = features.persist()
    ordered = features.repartitionByRange(
        partitions, F.col("index"), F.col("seq")
    ).sortWithinPartitions("index", "seq")
    # tippecanoe:{minzoom,maxzoom} overrides as Catalyst columns (narrow
    # projection — preserves the partition sort): the kernel consumes
    # numpy arrays instead of looping the attr maps per row
    ordered = ordered.withColumns(
        {
            "_tc_minzoom": F.col("attrs").getItem("tippecanoe_minzoom").cast("double"),
            "_tc_maxzoom": F.col("attrs").getItem("tippecanoe_maxzoom").cast("double"),
        }
    )
    ordered = ordered.persist()

    # tiny driver-side pass: per-partition row/point counts + boundary index
    stats = (
        ordered.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("index").alias("max_index"),
            F.sum(F.when(F.col("geom_type") == VT_POINT, 1).otherwise(0)).alias(
                "pt_cnt"
            ),
            F.min(F.struct(F.col("index"), F.col("seq"))).alias("first"),
        )
        .collect()
    )
    by_pid = {r["pid"]: r for r in stats}
    max_pid = max(by_pid) if by_pid else -1
    offsets: dict[int, int] = {}
    pt_offsets: dict[int, int] = {}
    prev_index: dict[int, int | None] = {}
    run, pt_run = 0, 0
    last_idx: int | None = None
    for pid in range(max_pid + 1):
        offsets[pid] = run
        pt_offsets[pid] = pt_run
        prev_index[pid] = last_idx
        if pid in by_pid:
            run += by_pid[pid]["cnt"]
            pt_run += by_pid[pid]["pt_cnt"]
            last_idx = by_pid[pid]["max_index"]
    n_points = pt_run

    no_drop = cfg.no_feature_dropping
    # exact C-float machine for bounded corpora (reference parity);
    # closed form beyond — see MACHINE_EXACT_MAX
    use_machine = not no_drop and 0 < n_points <= MACHINE_EXACT_MAX
    machine_states = (
        _machine_boundary_states(n_points, pt_offsets, cfg)
        if use_machine
        else None
    )
    states = (
        _boundary_states(n_points, pt_offsets, cfg)
        if not use_machine
        else {p: {} for p in pt_offsets}
    )
    # Key every per-partition state by the partition's FIRST (index, seq)
    # row, NOT by TaskContext.partitionId(): in a union plan (the fused
    # pyramid embeds this lineage in several branches) the stage-level
    # partition id is OFFSET by the preceding branches' partitions, so a
    # pid-keyed lookup silently missed and restarted the rate-drop
    # machine from zero (nullisland golden caught it: corner points got
    # fmz 0 instead of 3/4).  The cached `ordered` partitions have fixed
    # contents, so the first-row key is stable across consumers; a miss
    # now fails loudly instead of mis-stamping.
    ckey: dict[int, tuple[int, int]] = {
        pid: (r["first"]["index"], r["first"]["seq"])
        for pid, r in by_pid.items()
        if r["cnt"] > 0
    }
    offsets_c = {ckey[p]: offsets[p] for p in ckey}
    pt_offsets_c = {ckey[p]: pt_offsets[p] for p in ckey}
    prev_index_c = {ckey[p]: prev_index[p] for p in ckey}
    states_c = {ckey[p]: states[p] for p in ckey if p in states}
    machine_states_c = (
        {ckey[p]: machine_states[p] for p in ckey if p in machine_states}
        if machine_states is not None
        else None
    )
    sc = spark.sparkContext
    b = sc.broadcast(
        (offsets_c, pt_offsets_c, prev_index_c, states_c, machine_states_c)
    )
    levels = _intervals(cfg)

    def gen(batches):
        offs, pt_offs, prev_idx, st, mstates = b.value

        # buffer the partition (sorted run) — the cascade needs the whole
        # partition's point ranks at once.  Partitions are range-sized by
        # the repartitionByRange above, so this is bounded by partition
        # sizing, not by data volume.
        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        n = len(pdf)
        idx = pdf["index"].to_numpy()
        pid = (int(idx[0]), int(pdf["seq"].iloc[0]))
        if pid not in offs:
            raise RuntimeError(
                "stamp_minzoom: partition state miss (input re-evaluated "
                "with different partitioning) — persist the input"
            )
        rank = offs[pid]
        pt_rank = pt_offs[pid]
        last = prev_idx.get(pid)
        my_state = st.get(pid, {})
        ranks = np.arange(rank + 1, rank + n + 1, dtype=np.int64)
        is_pt = pdf["geom_type"].to_numpy() == VT_POINT
        npts = int(is_pt.sum())
        pt_ranks = pt_rank + 1 + np.arange(npts, dtype=np.int64)

        mz_pts = np.zeros(npts, dtype=np.int32)
        if not no_drop and npts:
            if mstates is not None:
                # exact C-float cascade from this partition's entry state
                seqs = list(mstates[pid])
                intervals_c = _machine_intervals(cfg)
                for j in range(npts):
                    mz_pts[j] = _machine_step(seqs, intervals_c, cfg.maxzoom)
            else:
                cand = np.ones(npts, dtype=bool)
                for level, interval in levels:
                    k_off, runmin_b = my_state.get(level, (0, np.inf))
                    cidx = np.flatnonzero(cand)
                    if len(cidx) == 0:
                        break
                    acc = _accept_mask(pt_ranks[cidx], interval, k_off, runmin_b)
                    mz_pts[cidx[~acc]] = level + 1
                    cand[cidx[~acc]] = False
        mz = np.zeros(n, dtype=np.int32)
        mz[is_pt] = mz_pts

        # per-feature tippecanoe:{minzoom,maxzoom} extension OVERRIDES the
        # computed rate-drop minzoom (geojson.cpp:85-100 / serial.hpp:116)
        # — pre-extracted Catalyst columns, vectorized override
        tmz = pdf["_tc_minzoom"].to_numpy(dtype=np.float64)
        tMz = pdf["_tc_maxzoom"].to_numpy(dtype=np.float64)
        has_mz = ~np.isnan(tmz)
        mz[has_mz] = tmz[has_mz].astype(np.int32)
        fmaxz = np.full(n, 127, dtype=np.int32)
        has_Mz = ~np.isnan(tMz)
        fmaxz[has_Mz] = tMz[has_Mz].astype(np.int32)

        prev = np.concatenate([[idx[0] if last is None else last], idx[:-1]])
        out = pdf.drop(columns=["_tc_minzoom", "_tc_maxzoom"])
        out["curve_rank"] = ranks
        out["feature_minzoom"] = mz
        out["feature_maxzoom"] = fmaxz
        out["gap"] = (idx - prev).astype(np.int64)
        yield out

    # `ordered` is materialized (the stats collect above was an action),
    # so the pre-shuffle input cache can be released now
    if owned:
        features.unpersist()
    # NOTE: feature_minzoom is the RAW cascade value; the forced
    # first-per-tile keeps (tile.cpp:1290-1301) are per-(tile, feature)
    # and are admitted at assignment time (tile.forced_keep_tiles) and
    # enforced by the tile kernel's stream-first check.
    return ordered.mapInPandas(gen, schema=STAMPED_SCHEMA)
