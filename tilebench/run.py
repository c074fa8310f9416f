#!/usr/bin/env python3
"""Tiling benchmark: three workloads, end-to-end metrics from untraced
builds, per-layer metrics from a separate traced build.

    python3 tilebench/run.py --workload webtext-z8 --seed 0 --seconds 10 --trace 0
    python3 tilebench/run.py --all      # every workload, one table
    python3 tilebench/run.py --smoke    # every workload once at a tiny size,
                                        # untraced and traced

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Run it from any
directory: the repository root is the parent of this file's directory.
Inputs and digests are cached under ``.tilebench/`` in the repository
root.  Exits non-zero without a result when the program is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".tilebench")
RUN_LIMIT_S = 170.0  # a run must end within 180 s



def _units(kind: str) -> dict:
    """Metric name → unit for ``end_to_end`` or ``per_layer``, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


_T0 = time.monotonic()


def _log(msg: str) -> None:
    print(f"[tilebench {time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _result(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


class Run:
    """Counts operations and failures; a watchdog ends a hung run with a
    failed result inside the time limit."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.t0 = time.monotonic()
        self.done = threading.Event()
        self.lock = threading.Lock()
        self.printed = False

    def left(self) -> float:
        return RUN_LIMIT_S - (time.monotonic() - self.t0)

    def op(self, fn, *a):
        """Run one operation; an exception or a failed check counts it as
        failed and returns None."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:
            self.failed += 1
            _log("operation failed:\n" + traceback.format_exc())
            return None

    def emit(self, line: str) -> None:
        with self.lock:
            if not self.printed:
                self.printed = True
                print(line, flush=True)

    def watchdog(self) -> None:
        if self.done.wait(max(self.left(), 1.0)):
            return
        _log("run exceeded its time limit")
        self.emit(_result(False, max(self.attempted, 1), max(self.failed, 1), {}))
        os._exit(0)


def untraced(ctx, run: Run, seconds: float) -> dict:
    """End-to-end metrics: builds until ``seconds`` of build time have
    passed (at least one); set-up sampled at least three times."""
    from tilebench import workloads

    wl = workloads.make(ctx)
    geo = ctx.w.kind == "geojson"
    while len(ctx.setup_s) < (2 if geo else 3):
        ctx.new_session()
    _log(f"set-up samples {ctx.setup_s}")
    wl.prepare()
    _log("prepared")
    builds = []
    spent = 0.0
    while run.left() > 40:
        if geo:
            ctx.new_session()  # a CLI user pays the cold path on every build
        b = run.op(workloads.timed_build, ctx, wl, f"b{len(builds)}",
                   min(120.0, run.left() - 20))
        if b is None:
            break
        builds.append(b)
        spent += b["build_s"]
        walls = [m["wall_sec"] for m in b["manifests"]]
        _log(f"build {len(builds)}: {b['build_s']:.3f}s {b['tiles']} tiles, "
             f"manifest walls {walls}")
        if spent >= seconds:
            break
    digests = {b["digest"] for b in builds}
    if len(digests) > 1:
        run.failed += 1
        _log(f"digests differ between builds of one run: {sorted(digests)}")
    if not builds:
        return {}
    return {
        "setup_s": statistics.median(ctx.setup_s),
        "build_s": statistics.median([b["build_s"] for b in builds]),
        "tileset_mb": statistics.median([b["gz_bytes"] / 1e6 for b in builds]),
    }


def traced(ctx, run: Run) -> dict:
    """Per-layer metrics: an untraced build as the overhead base, then the
    traced build, assignment, kernel replay and event-log summary.  The
    CLI workload first runs a warm-up build, so that base and traced
    builds both run in a JVM that has built once (webtext's ``prepare``
    already warms its session)."""
    from tilebench import checks, trace, workloads

    wl = workloads.make(ctx)
    geo = ctx.w.kind == "geojson"
    log_dir = ctx.new_session(event_log=True)
    wl.prepare()
    base = None
    for name in ("warm", "base") if geo else ("base",):
        if geo:
            ctx.new_session()
        b = run.op(workloads.timed_build, ctx, wl, name, min(120.0, run.left() - 40))
        if b is None:
            return {}
        if base is not None and b["digest"] != base["digest"]:
            raise checks.CheckFailed("digests differ between builds of one run")
        base = b
        _log(f"{name} build: {b['build_s']:.3f}s {b['tiles']} tiles")
    if geo:
        log_dir = ctx.new_session(event_log=True)
    spans = trace.Spans()
    out = ctx.tmpdir("traced")

    def traced_op():
        from tilebench import env

        with env.deadline(ctx.spark, min(120.0, run.left() - 25)):
            with spans.span("build"):
                manifests, stamped = wl.traced_build(out, spans)
        res = workloads.checked(ctx, wl, out, manifests)
        if res["digest"] != base["digest"]:
            raise checks.CheckFailed("traced build digest differs from the untraced build")
        return manifests, stamped, res

    got = run.op(traced_op)
    if got is None:
        return {}
    manifests, stamped, res = got

    def layers():
        from tippecanoe_spark import tile

        ctx.spark.sparkContext.setJobGroup("assign", "assignment and replay")
        with spans.span("tile.assign") as r:
            assigned = tile.assign_tiles_all(
                tile.with_dateline_twins(stamped, wl.cfg), wl.cfg
            ).persist()
            r["rows"] = assigned.count()
        m = trace.replay_kernel(ctx.spark, assigned, wl.cfg, ctx.seed,
                                res["tiles_map"], ctx.size.replay_per_zoom,
                                ctx.size.replay_max_rows)
        ctx.spark.stop()
        ctx.spark = None
        m.update(trace.summarize_event_log(log_dir, "traced"))
        return m

    m = run.op(layers)
    if m is None:
        return {}
    n_feat = spans.rows("minzoom.stamp")
    sink = [s for s in spans.items if s["name"] == "sinks.export"]
    mb = 0.0
    if sink:
        mb = os.path.getsize(os.path.join(out, "out.mbtiles")) / 1e6
    m.update({
        "geocode.s": spans.seconds("geocode"),
        "geocode.rows_out": spans.rows("geocode"),
        "sources.geojson.s": spans.seconds("sources.geojson"),
        "sources.geojson.rows_out": spans.rows("sources.geojson"),
        "features.serialize.s": spans.seconds("features.serialize"),
        "minzoom.stamp.s": spans.seconds("minzoom.stamp"),
        "pyramid.hot_tiles.s": spans.seconds("pyramid.hot_tiles"),
        "pyramid.hot_tiles_split": sum(x["hot_tiles_split"] for x in manifests),
        "pyramid.max_passes": max(x["max_passes"] for x in manifests),
        "pyramid.zoom_s.max": max(x["wall_sec"] for x in manifests),
        "tile.assign.s": spans.seconds("tile.assign"),
        "tile.assign.rows": spans.rows("tile.assign"),
        "tile.assign.fanout": spans.rows("tile.assign") / max(n_feat, 1),
        "sinks.export.s": spans.seconds("sinks.export"),
        "sinks.tiles": spans.rows("sinks.export"),
        "sinks.mb_written": mb,
        "trace.overhead": spans.seconds("build") / base["build_s"],
        "peak_rss_mb": base["peak_rss"] / 1e6,
        "tiles_per_core_s": base["tiles"] / base["build_s"] / ctx.nproc,
    })
    return m


def run_one(args) -> int:
    try:
        import pyspark  # noqa: F401
        import tippecanoe_spark  # noqa: F401
    except ImportError as exc:
        _log(f"cannot import the program: {exc}")
        return 2
    from tilebench import env, workloads

    units = _units("per_layer" if args.trace else "end_to_end")
    w = workloads.WORKLOADS[args.workload]
    size = w.smoke if args.smoke else w.full
    box = env.configure(ROOT, os.path.join(CACHE, "tmp"))
    run = Run()
    threading.Thread(target=run.watchdog, daemon=True).start()
    ctx = workloads.Ctx(CACHE, w, size, args.seed, box["nproc"], args.pin)
    _log(f"{w.name} seed={args.seed} size={size.key()} trace={args.trace} "
         f"nproc={box['nproc']} mem_gb={box['mem_gb']} jvm_heap={box['jvm_heap']}")
    metrics = {}
    try:
        metrics = (traced(ctx, run) if args.trace else untraced(ctx, run, args.seconds))
    except Exception:
        run.attempted = max(run.attempted, 1)
        run.failed += 1
        _log("run failed:\n" + traceback.format_exc())
    finally:
        ctx.close()
        _shutdown_jvm()
        run.done.set()
        _log("session closed")
    ok = run.failed == 0 and set(units) <= set(metrics)
    print(json.dumps({"workload": w.name, "seed": args.seed, "size": size.key(),
                      "trace": args.trace, **box}), flush=True)
    run.emit(_result(ok, max(run.attempted, 1), run.failed,
                     {k: (metrics[k], u) for k, u in units.items() if k in metrics}))
    return 0


def _shutdown_jvm() -> None:
    """Stop the Spark JVM this process launched and wait until it and the
    Python workers it started have ended."""
    from pyspark import SparkContext

    from tilebench import env

    gw = SparkContext._gateway
    if gw is None:
        return
    started = env.descendants(os.getpid())
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on end of input
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline and any(env.alive(p) for p in started):
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# --all and --smoke: one process per run
# ---------------------------------------------------------------------------

def _child(workload: str, seed: int, seconds: int, trace_on: int, smoke: bool) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace_on)]
    if smoke:
        cmd.append("--size-smoke")
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    return json.loads(lines[-1])


def run_many(args) -> int:
    from tilebench import workloads

    bad = 0
    for name in workloads.WORKLOADS:
        for trace_on in ((0, 1) if args.smoke else (args.trace,)):
            res = _child(name, args.seed, args.seconds, trace_on, args.smoke)
            fine = res["correct"] and res["failed"] == 0
            bad += not fine
            print(f"{name} trace={trace_on}: attempted={res['attempted']} "
                  f"failed={res['failed']} correct={res['correct']}")
            for k, v in res["metrics"].items():
                print(f"  {k:28s} {v['value']:14.4f} {v['unit']}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--smoke", action="store_true",
                    help="every workload once at a tiny size, untraced and traced")
    ap.add_argument("--size-smoke", dest="smoke_size", action="store_true",
                    help="run --workload at its tiny smoke size")
    ap.add_argument("--pin", action="store_true",
                    help="record this run's digest as the pinned digest (seed 0 only)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "tippecanoe_spark")):
        _log(f"no tippecanoe_spark package under {ROOT}")
        return 2
    if args.all or args.smoke:
        return run_many(args)
    if not args.workload:
        ap.error("--workload, --all or --smoke is required")
    args.smoke = args.smoke_size
    return run_one(args)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
