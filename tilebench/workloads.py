"""The workloads: what one timed build is, how its output is read back
for the checks, and what its traced build records.

webtext-z8    synthetic webtext → geocode → serialize → build_pyramid
              (fused, written to parquet) for z0-z8.  The task budget is
              set so the z0-z2 tiles denser than any deeper tile take the
              split-and-merge path; z5-z8 ride the subtree fan-out.
geojson-cli   ``cli.main`` on a line-delimited GeoJSON file: per-zoom
              checkpoints and the streaming MBTiles sink, in a fresh
              session for every build.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from dataclasses import dataclass, replace

from . import checks, inputs, trace


@dataclass(frozen=True)
class Size:
    pages: int = 0
    maxzoom: int = 0
    n_poly: int = 0
    n_line: int = 0
    n_pt: int = 0
    replay_per_zoom: int = 0
    replay_max_rows: int = 0

    def key(self) -> str:
        return "-".join(f"{k}{v}" for k, v in vars(self).items()
                        if v and not k.startswith("replay"))


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "webtext" or "geojson"
    full: Size
    smoke: Size


WORKLOADS = {
    w.name: w
    for w in (
        Workload("webtext-z8", "webtext",
                 Size(pages=1000, maxzoom=8, replay_per_zoom=100, replay_max_rows=20000),
                 Size(pages=60, maxzoom=6, replay_per_zoom=3, replay_max_rows=1000)),
        Workload("geojson-cli", "geojson",
                 Size(n_poly=40, n_line=40, n_pt=3000, maxzoom=2,
                      replay_per_zoom=100, replay_max_rows=20000),
                 Size(n_poly=6, n_line=6, n_pt=200, maxzoom=2,
                      replay_per_zoom=3, replay_max_rows=1000)),
    )
}


class Ctx:
    """Per-run state: the session, paths, machine and recorded samples."""

    def __init__(self, cache: str, workload: Workload, size: Size, seed: int,
                 nproc: int, pin: bool):
        self.cache = cache
        self.w = workload
        self.size = size
        self.seed = seed
        self.nproc = nproc
        self.pin = pin
        self.spark = None
        self.setup_s: list[float] = []
        self.scratch = tempfile.mkdtemp(prefix="run-", dir=os.path.join(cache, "tmp"))
        self._logs = 0

    def new_session(self, event_log: bool = False) -> str | None:
        """(Re)start the session, recording its set-up time.  With
        ``event_log`` the session writes an uncompressed, non-rolling
        Spark event log to a fresh directory, which is returned."""
        from . import env

        if self.spark is not None:
            self.spark.stop()
        log_dir = None
        extra = None
        if event_log:
            self._logs += 1
            log_dir = os.path.join(self.scratch, f"eventlog{self._logs}")
            extra = trace.event_log_conf(log_dir)
        self.spark, s = env.start_session(self.nproc, extra)
        self.setup_s.append(s)
        return log_dir

    def tmpdir(self, name: str) -> str:
        d = os.path.join(self.scratch, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        shutil.rmtree(self.scratch, ignore_errors=True)


# ---------------------------------------------------------------------------
# webtext
# ---------------------------------------------------------------------------

def _webtext_cfg(size: Size):
    from tippecanoe_spark.config import TilingConfig

    return TilingConfig(maxzoom=size.maxzoom, drop_densest_as_needed=True)


def _read_pages(ctx: Ctx, corpus: str):
    # spread the corpus over the cores for the Python geocode stage;
    # each partition keeps >= 20 pages (see CHANGES.md: geocode fails on
    # an Arrow batch that yields no features)
    parts = max(1, min(3 * ctx.nproc, ctx.size.pages // 20))
    return ctx.spark.read.parquet(corpus).repartition(parts)


class Webtext:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.corpus = inputs.webtext_corpus(ctx.cache, ctx.seed, ctx.size.pages)
        self.cfg = _webtext_cfg(ctx.size)

    def prepare(self) -> None:
        """Plan the task budget and warm the session with a z0-z2 build of
        the same input: the timed build runs warm, as in a long-lived
        session.  Not timed."""
        from tippecanoe_spark import features, geocode, minzoom, pyramid

        ctx = self.ctx
        stamped = minzoom.stamp_minzoom(
            features.serialize(geocode.geocode(_read_pages(ctx, self.corpus)), self.cfg),
            self.cfg,
        ).persist()
        # budget 0: every occupied tile comes back with its count.  The
        # task budget sits just below the z0-z2 tiles that are denser than
        # every deeper tile, so exactly those take the hot path.
        counts = pyramid.coarse_hot_tiles(
            stamped, replace(self.cfg, max_features_per_task=0)
        )
        deep = max(max(c.values()) for z, c in counts.items() if z > 2)
        self.cfg = replace(self.cfg, max_features_per_task=deep)
        pyramid.build_pyramid(ctx.spark, stamped, replace(self.cfg, maxzoom=2),
                              out_dir=ctx.tmpdir("warm"), stamp=False, fused=True)
        stamped.unpersist()
        ctx.spark.catalog.clearCache()

    def build(self, out: str) -> list[dict]:
        """The timed operation: input read → tiles and manifests written."""
        from tippecanoe_spark import features, geocode, pyramid

        ctx = self.ctx
        feats = features.serialize(geocode.geocode(_read_pages(ctx, self.corpus)), self.cfg)
        return pyramid.build_pyramid(ctx.spark, feats, self.cfg, out_dir=out, fused=True)

    def traced_build(self, out: str, spans: trace.Spans):
        """The same build with every ingest stage persisted and counted at
        its public-call boundary.  Returns (manifests, stamped)."""
        from tippecanoe_spark import features, geocode, minzoom, pyramid

        ctx = self.ctx
        sc = ctx.spark.sparkContext
        sc.setJobGroup("ingest", "traced ingest")
        with spans.span("read") as r:
            pages = _read_pages(ctx, self.corpus).persist()
            r["rows"] = pages.count()
        with spans.span("geocode") as r:
            raw = geocode.geocode(pages).persist()
            r["rows"] = raw.count()
        with spans.span("features.serialize") as r:
            feats = features.serialize(raw, self.cfg).persist()
            r["rows"] = feats.count()
        with spans.span("minzoom.stamp") as r:
            stamped = minzoom.stamp_minzoom(feats, self.cfg).persist()
            r["rows"] = stamped.count()
        sc.setJobGroup("traced", "traced build")
        with trace.patched(pyramid, "coarse_hot_tiles", spans, "pyramid.hot_tiles"):
            with spans.span("pyramid.build"):
                manifests = pyramid.build_pyramid(
                    ctx.spark, stamped, self.cfg, out_dir=out, stamp=False, fused=True
                )
        return manifests, stamped

    def tiles(self, out: str) -> dict:
        return checks.read_tiles_parquet(out)


# ---------------------------------------------------------------------------
# geojson through the CLI
# ---------------------------------------------------------------------------

class GeojsonCli:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        s = ctx.size
        self.path = inputs.geojson_file(ctx.cache, ctx.seed, s.n_poly, s.n_line, s.n_pt)
        self.layer = "features"
        self.cfg = None

    def argv(self, out: str) -> list[str]:
        return [self.path, "-z", str(self.ctx.size.maxzoom), "-l", self.layer,
                "--checkpoint-dir", out, "-o", os.path.join(out, "out.mbtiles")]

    def prepare(self) -> None:
        from tippecanoe_spark import cli

        self.cfg = cli.config_from_args(cli.build_parser().parse_args(self.argv("x")))

    def build(self, out: str) -> list[dict]:
        from tippecanoe_spark import cli

        if cli.main(self.argv(out)) != 0:
            raise RuntimeError("cli.main returned non-zero")
        return self._manifests(out)

    def _manifests(self, out: str) -> list[dict]:
        import json

        from tippecanoe_spark import pyramid

        got = []
        for z in range(0, self.ctx.size.maxzoom + 1):
            with open(pyramid.zoom_manifest_path(out, z)) as fh:
                got.append(json.load(fh))
        return got

    def traced_build(self, out: str, spans: trace.Spans):
        from tippecanoe_spark import cli, minzoom, pyramid, sinks
        from tippecanoe_spark.sources import geojson

        ctx = self.ctx
        sc = ctx.spark.sparkContext
        sc.setJobGroup("ingest", "traced ingest")
        with spans.span("sources.geojson") as r:
            feats = geojson.read_geojson(ctx.spark, self.path, layer=self.layer,
                                         cfg=self.cfg).persist()
            r["rows"] = feats.count()
        with spans.span("minzoom.stamp") as r:
            stamped = minzoom.stamp_minzoom(feats, self.cfg).persist()
            r["rows"] = stamped.count()
        sc.setJobGroup("traced", "traced build")
        with trace.patched(sinks, "export_mbtiles_streaming", spans, "sinks.export",
                           rows_of=int), \
                trace.patched(pyramid, "build_zoom", spans, "pyramid.zoom"):
            with spans.span("cli.main"):
                manifests = self.build(out)
        return manifests, stamped

    def tiles(self, out: str) -> dict:
        """Tiles as the sink wrote them, with ``n_out`` from the per-zoom
        checkpoint; both must hold the same tiles byte for byte."""
        from tippecanoe_spark import sinks

        ckpt = {}
        for z in range(0, self.ctx.size.maxzoom + 1):
            zdir = os.path.join(out, f"z={z}")
            if os.path.isdir(zdir):
                ckpt.update(checks.read_tiles_parquet(zdir, z))
        sunk = {(r["z"], r["x"], r["y"]): bytes(r["tile"])
                for r in sinks.read_mbtiles(os.path.join(out, "out.mbtiles"))}
        if sunk.keys() != ckpt.keys() or any(sunk[k] != ckpt[k][0] for k in sunk):
            raise checks.CheckFailed("mbtiles tiles differ from the checkpoint tiles")
        return ckpt


def make(ctx: Ctx):
    return Webtext(ctx) if ctx.w.kind == "webtext" else GeojsonCli(ctx)


# ---------------------------------------------------------------------------
# one checked build
# ---------------------------------------------------------------------------

def checked(ctx: Ctx, wl, out: str, manifests: list[dict]) -> dict:
    """Checks for one finished build; returns tile count, gz bytes and
    the digest."""
    tiles = wl.tiles(out)
    res = checks.check_tiles(tiles)
    n_manifest = sum(m["n_tiles"] for m in manifests)
    gz_manifest = sum(m["gz_bytes"] for m in manifests)
    if n_manifest != res["tiles"] or gz_manifest != res["gz_bytes"]:
        raise checks.CheckFailed(
            f"manifests say {n_manifest} tiles / {gz_manifest} B, "
            f"output holds {res['tiles']} / {res['gz_bytes']} B"
        )
    checks.check_digest(ctx.w.name, ctx.seed, f"{ctx.size.key()}-v{inputs.GEN_VERSION}",
                        res["digest"],
                        os.path.join(ctx.cache, "digests"), pin=ctx.pin)
    res["tiles_map"] = tiles
    return res


def timed_build(ctx: Ctx, wl, name: str, timeout: float) -> dict:
    """One untraced build: wall time, peak RSS, then the checks."""
    from . import env

    out = ctx.tmpdir(name)
    with env.RssSampler() as rss, env.deadline(ctx.spark, timeout):
        t0 = time.perf_counter()
        manifests = wl.build(out)
        build_s = time.perf_counter() - t0
    res = checked(ctx, wl, out, manifests)
    res.update(build_s=build_s, peak_rss=rss.peak, manifests=manifests)
    shutil.rmtree(out, ignore_errors=True)
    ctx.spark.catalog.clearCache()
    return res
