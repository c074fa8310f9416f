"""Tracing for the traced run: spans around public calls, timers around
functions the tile kernel looks up at call time, the Spark event-log
summary and the in-process replay of the tile kernel.

Nothing here changes the program; timers are installed by replacing
module attributes for the duration of a ``with`` block and restored on
exit.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import re
import time
from contextlib import contextmanager

import numpy as np


class Spans:
    """Spans (name, start, end, parent) with row counts, kept in memory."""

    def __init__(self):
        self.items: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "rows": None}
        self.items.append(rec)
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def seconds(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.items if r["name"] == name)

    def rows(self, name: str) -> int:
        return sum(r["rows"] or 0 for r in self.items if r["name"] == name)


@contextmanager
def patched(module, name: str, spans: Spans, span_name: str, rows_of=None):
    """Record a span around every call of ``module.name``."""
    orig = getattr(module, name)

    @functools.wraps(orig)
    def wrapper(*a, **kw):
        with spans.span(span_name) as rec:
            out = orig(*a, **kw)
            if rows_of is not None:
                rec["rows"] = rows_of(out)
            return out

    setattr(module, name, wrapper)
    try:
        yield
    finally:
        setattr(module, name, orig)


# ---------------------------------------------------------------------------
# kernel layer timers
# ---------------------------------------------------------------------------

def _layer_for(modname: str, fname: str) -> str | None:
    if modname.endswith(".geom.clip"):
        return "geom.clip"
    if modname.endswith(".geom.borders"):
        return "geom.clip" if ("clip" in fname or "impose" in fname) else "geom.simplify"
    if modname.endswith(".geom.simplify"):
        return "geom.simplify"
    if modname.endswith(".geom.clean"):
        return "geom.clean"
    if modname.endswith(".drop"):
        return "drop"
    if modname.endswith(".mvt"):
        return "mvt.gzip" if fname == "gzip_tile" else "mvt.encode"
    return None


KERNEL_LAYERS = ("geom.clip", "geom.simplify", "geom.clean", "drop",
                 "mvt.encode", "mvt.gzip")


class KernelTimers:
    """Self-time timers around the module-level functions (and the
    methods of module-level classes) that the tile module calls through a
    module alias (``clipmod.clip_ring``, ``mvt.encode_tile``, ...).  The
    set is read from the tile module's source, so it follows the code.

    A wrapped call's self time is its duration minus the time of wrapped
    calls nested in it; the self times of all wrapped calls therefore sum
    to the time spent inside wrapped calls at all, and the kernel's own
    residual is its wall time minus that sum.  ``calls`` counts calls
    that enter a layer from outside it."""

    def __init__(self, tile_module):
        self.self_s = {k: 0.0 for k in KERNEL_LAYERS}
        self.calls = {k: 0 for k in KERNEL_LAYERS}
        self._stack: list[list] = []  # [layer, child seconds]
        self._undo: list[tuple] = []
        src = inspect.getsource(tile_module)
        seen = set()
        for alias, name in re.findall(r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*\(", src):
            mod = getattr(tile_module, alias, None)
            if not inspect.ismodule(mod) or (mod.__name__, name) in seen:
                continue
            layer = _layer_for(mod.__name__, name)
            obj = getattr(mod, name, None)
            if layer is None or obj is None:
                continue
            seen.add((mod.__name__, name))
            if inspect.isclass(obj):
                for mname, meth in list(vars(obj).items()):
                    if inspect.isfunction(meth):
                        self._install(obj, mname, meth, layer)
            elif inspect.isfunction(obj):
                self._install(mod, name, obj, layer)

    def _install(self, owner, name, fn, layer):
        stack = self._stack
        self_s = self.self_s
        calls = self.calls
        clock = time.perf_counter

        @functools.wraps(fn)
        def timed(*a, **kw):
            if not stack or stack[-1][0] != layer:
                calls[layer] += 1
            frame = [layer, 0.0]
            stack.append(frame)
            t0 = clock()
            try:
                return fn(*a, **kw)
            finally:
                dt = clock() - t0
                stack.pop()
                self_s[layer] += dt - frame[1]
                if stack:
                    stack[-1][1] += dt

        self._undo.append((owner, name, fn))
        setattr(owner, name, timed)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        for owner, name, fn in reversed(self._undo):
            setattr(owner, name, fn)
        self._undo.clear()


def replay_kernel(spark, assigned, cfg, seed: int, spark_tiles: dict,
                  per_zoom: int, max_rows: int) -> dict:
    """Replay ``tile.make_stream_kernel(cfg)`` in this process on a
    seed-chosen subset of whole tile groups of ``assigned`` (the output of
    ``tile.assign_tiles_all(tile.with_dateline_twins(stamped))``) and
    compare its tiles byte for byte with ``spark_tiles`` ((z, x, y) →
    (bytes, n_out)) from the Spark build of the same input."""
    from pyspark.sql import functions as F

    from tippecanoe_spark import tile

    groups = assigned.groupBy("zz", "tx", "ty").count().collect()
    by_zoom: dict[int, list] = {}
    for r in groups:
        by_zoom.setdefault(r["zz"], []).append((r["tx"], r["ty"], r["count"]))
    rng = np.random.default_rng([seed, 0x4E1])
    chosen = []
    budget = max_rows
    for z in sorted(by_zoom):
        cand = sorted(by_zoom[z])
        for i in rng.permutation(len(cand))[:per_zoom]:
            tx, ty, n = cand[i]
            if n <= budget:
                chosen.append((z, tx, ty))
                budget -= n
    keys = spark.createDataFrame(chosen, "zz int, tx int, ty int")
    pdf = (
        assigned.join(F.broadcast(keys), ["zz", "tx", "ty"])
        .orderBy("zz", "tx", "ty", "index", "seq")
        .toPandas()
    )
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    batches = [pdf.iloc[i:i + batch].reset_index(drop=True)
               for i in range(0, len(pdf), batch)]
    kernel = tile.make_stream_kernel(cfg)
    with KernelTimers(tile) as timers:
        t0 = time.perf_counter()
        out = [frame for frame in kernel(iter(batches))]
        kernel_s = time.perf_counter() - t0
    rows = [r for frame in out for r in frame.to_dict("records")]
    got = {(int(r["z"]), int(r["x"]), int(r["y"])): bytes(r["tile"]) for r in rows}
    for key in chosen:
        want = spark_tiles.get(key)
        have = got.get(key)
        if (want is None) != (have is None) or (want is not None and want[0] != have):
            raise ReplayMismatch(f"replayed tile {key} differs from the Spark build")
    children = sum(timers.self_s.values())
    n_tiles = len(rows)
    m = {
        "tile.kernel.s": kernel_s,
        "tile.kernel.tiles": n_tiles,
        "tile.kernel.features_in": len(pdf),
        "tile.kernel.features_out": int(sum(r["n_out"] for r in rows)),
        "tile.kernel.us_per_tile": kernel_s / max(n_tiles, 1) * 1e6,
        "tile.self.s": kernel_s - children,
    }
    for layer in KERNEL_LAYERS:
        m[f"{layer}.s"] = timers.self_s[layer]
    for layer in ("geom.clip", "geom.simplify", "geom.clean", "mvt.gzip"):
        m[f"{layer}.calls"] = timers.calls[layer]
    return m


class ReplayMismatch(Exception):
    pass


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _pct(vals: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(vals, dtype=float), q)) if vals else 0.0


def summarize_event_log(log_dir: str, job_group: str) -> dict:
    """Jobs, tasks, task-time percentiles, shuffle bytes, spill and the
    tile stage's partition skew for the jobs of ``job_group``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f) and not os.path.basename(f).startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    stages: set[int] = set()
    jobs = 0
    task_s: list[float] = []
    shuffle_w = spill = 0
    read_by_stage: dict[int, list[int]] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get("spark.jobGroup.id") == job_group:
                    jobs += 1
                    stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                info = ev["Task Info"]
                task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
                tm = ev.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                shuffle_w += sw.get("Shuffle Bytes Written", 0)
                spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                got = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                read_by_stage.setdefault(ev["Stage ID"], []).append(got)
    # the tile stage: the one that reads the most shuffle bytes
    skew = 0.0
    if read_by_stage:
        tile_stage = max(read_by_stage, key=lambda s: sum(read_by_stage[s]))
        reads = [b for b in read_by_stage[tile_stage] if b > 0]
        if reads:
            skew = max(reads) / float(np.median(reads))
    return {
        "spark.jobs": jobs,
        "spark.tasks": len(task_s),
        "spark.task_p50_s": _pct(task_s, 50),
        "spark.task_p99_s": _pct(task_s, 99),
        "spark.shuffle_write_mb": shuffle_w / 1e6,
        "spark.spill_mb": spill / 1e6,
        "spark.partition_skew": skew,
    }
