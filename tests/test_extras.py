"""Label anchors, PMTiles sink, streaming rollups, density/cluster/
accumulate through the real tile kernel."""

from __future__ import annotations

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from tippecanoe_spark import mvt, sinks
from tippecanoe_spark.config import TilingConfig
from tippecanoe_spark.geom import anchors


def _square(cx, cy, r):
    return [
        (
            np.array([cx - r, cx + r, cx + r, cx - r], dtype=np.int64),
            np.array([cy - r, cy - r, cy + r, cy + r], dtype=np.int64),
        )
    ]


class TestAnchors:
    def test_center_of_mass_square(self):
        cx, cy = anchors.center_of_mass(_square(100, 200, 50))
        assert cx == pytest.approx(100) and cy == pytest.approx(200)

    def test_goodness_outside_zero(self):
        rings = _square(0, 0, 10)
        assert anchors.label_goodness(rings, 100, 100) == 0.0
        assert anchors.label_goodness(rings, 0, 0) == pytest.approx(10.0)

    def test_anchor_inside_convex(self):
        rings = _square(500, 500, 100)
        ax, ay = anchors.polygon_to_anchor(rings)
        assert 400 <= ax <= 600 and 400 <= ay <= 600

    def test_anchor_c_shape_falls_back(self):
        # C-shape whose centroid is outside the fill
        x = np.array([0, 100, 100, 20, 20, 100, 100, 0], dtype=np.int64)
        y = np.array([0, 0, 20, 20, 80, 80, 100, 100], dtype=np.int64)
        rings = [(x, y)]
        ax, ay = anchors.polygon_to_anchor(rings)
        from tippecanoe_spark.geom.clip import point_in_polygon

        assert point_in_polygon(rings, np.array([ax]), np.array([ay]))[0]

    def test_checkerboard_repeats(self):
        pts = anchors.checkerboard_anchors(
            0, 0, 1 << 30, 1 << 30, z=6, anchor_x=1000, anchor_y=1000
        )
        assert len(pts) > 4  # large bbox at z6 gets repeated anchors
        assert all(0 <= x <= 1 << 30 and 0 <= y <= 1 << 30 for x, y in pts)

    def test_checkerboard_small_bbox_single(self):
        pts = anchors.checkerboard_anchors(0, 0, 10, 10, z=6, anchor_x=5, anchor_y=5)
        assert pts == [(5, 5)]


class TestPmtiles:
    def test_tile_id_layout(self):
        assert sinks.pmtiles_tile_id(0, 0, 0) == 0
        assert sinks.pmtiles_tile_id(1, 0, 0) == 1
        ids = {sinks.pmtiles_tile_id(1, x, y) for x in (0, 1) for y in (0, 1)}
        assert ids == {1, 2, 3, 4}
        assert sinks.pmtiles_tile_id(2, 0, 0) == 5

    def test_roundtrip(self, tmp_path):
        lb = mvt.LayerBuilder("l")
        lb.add_feature(1, [(1, 5, 5)], {"a": 1}, 1)
        blob = mvt.gzip_tile(mvt.encode_tile([lb]))
        rows = [
            {"z": 1, "x": 0, "y": 0, "tile": blob},
            {"z": 1, "x": 1, "y": 1, "tile": blob},  # dup content
            {"z": 2, "x": 3, "y": 2, "tile": mvt.gzip_tile(mvt.encode_tile([]))},
        ]
        p = str(tmp_path / "t.pmtiles")
        n = sinks.write_pmtiles(p, rows, {"name": "t"}, minzoom=1, maxzoom=2)
        assert n == 3
        meta, tiles = sinks.read_pmtiles(p)
        assert meta["name"] == "t"
        got_ids = {t["tile_id"] for t in tiles}
        want_ids = {sinks.pmtiles_tile_id(r["z"], r["x"], r["y"]) for r in rows}
        assert got_ids == want_ids
        by_id = {t["tile_id"]: t["tile"] for t in tiles}
        assert by_id[sinks.pmtiles_tile_id(1, 0, 0)] == blob
        # dedup: archive smaller than 3x blob + overhead
        import os

        assert os.path.getsize(p) < 2 * len(blob) + 1000


class TestKernelFlags:
    def _tiles(self, spark, cfg, n=300):
        from tippecanoe_spark import tile as tilemod
        from tippecanoe_spark.minzoom import stamp_minzoom
        from tippecanoe_spark import features, geocode, synth

        pages = synth.webpages(spark, n, partitions=2)
        feats = features.serialize(geocode.geocode(pages), cfg)
        stamped = stamp_minzoom(feats, cfg)
        return tilemod.tiles_for_zoom(stamped, 2, cfg).collect()

    def test_density_attribute(self, spark):
        cfg = TilingConfig(maxzoom=2, no_feature_dropping=True,
                           calculate_feature_density=True)
        rows = self._tiles(spark, cfg)
        seen = []
        for r in rows:
            for layer in mvt.decode_tile(bytes(r["tile"])):
                for f in layer["features"]:
                    if "tippecanoe_feature_density" in f["attrs"]:
                        seen.append(f["attrs"]["tippecanoe_feature_density"])
        assert seen and all(0 <= int(v) <= 255 for v in seen)

    def test_cluster_through_kernel(self, spark):
        cfg = TilingConfig(maxzoom=2, no_feature_dropping=True,
                           cluster_distance=200)
        rows = self._tiles(spark, cfg)
        clustered = 0
        for r in rows:
            assert r["n_out"] <= r["n_in"]
            for layer in mvt.decode_tile(bytes(r["tile"])):
                for f in layer["features"]:
                    if f["attrs"].get("clustered"):
                        clustered += 1
                        assert int(f["attrs"]["point_count"]) > 1
        assert clustered > 0

    def test_accumulate_through_kernel(self, spark):
        # rate-dropped features (z2 << basezoom) are the accumulation
        # victims — they fold onto the surviving feature; the hard
        # feature-budget truncation must NOT accumulate (the reference
        # SKIPS over-limit features without preserve_attributes,
        # tile.cpp:2217-2224) and must NOT resurrect via fall-through
        cfg = TilingConfig(maxzoom=6,
                           limit_tile_feature_count=5,
                           accumulate_attrs={"kind": "count"})
        rows = self._tiles(spark, cfg)
        accumulated = []
        for r in rows:
            for layer in mvt.decode_tile(bytes(r["tile"])):
                # -O resizes each LAYER to its first 5 features
                # (layer_features.resize, tile.cpp:2595-2611)
                assert len(layer["features"]) <= 5
                for f in layer["features"]:
                    if "kind" in f["attrs"] and str(f["attrs"]["kind"]).isdigit():
                        accumulated.append(int(f["attrs"]["kind"]))
        assert accumulated and max(accumulated) > 1


class TestSharedNodes:
    def _features(self, spark):
        # two polygons sharing the border x=1000 with a zigzag midpoint
        # at (1000, 600) that plain simplification would remove
        from tippecanoe_spark.features import FEATURE_SCHEMA, pack_cmds

        shared_edge = [(1000, 0), (990, 600), (1000, 1200)]
        left = [(0, 0)] + shared_edge[:1] + shared_edge[1:] + [(0, 1200)]
        rows = []
        import json as _json

        def poly(fid, ring):
            cmds = pack_cmds(
                [(1, ring[0][0] << 18, ring[0][1] << 18)]
                + [(2, x << 18, y << 18) for x, y in ring[1:]]
                + [(7, 0, 0)]
            )
            xs = [x << 18 for x, _ in ring]
            ys = [y << 18 for _, y in ring]
            return (
                fid, f"u{fid}", "l", 3, cmds, {}, fid, 10**6, fid,
                min(xs), min(ys), max(xs), max(ys),
            )

        # B carries an extra border vertex so (990,600)'s neighbor pairs
        # differ between the polygons (the reference's >=2-distinct-pairs
        # criterion; identical pairs simplify consistently and need no pin)
        a = poly(1, [(0, 0), (1000, 0), (990, 600), (1000, 1200), (0, 1200)])
        b = poly(2, [(1000, 0), (2000, 0), (2000, 1200), (1000, 1200),
                     (995, 900), (990, 600)])
        return spark.createDataFrame([a, b], schema=FEATURE_SCHEMA)

    def test_shared_nodes_detected(self, spark):
        from tippecanoe_spark import nodes

        feats = self._features(spark)
        shared = nodes.shared_nodes(feats)
        assert (990 << 18, 600 << 18) in shared

    def test_shared_vertex_survives_simplification(self, spark):
        from tippecanoe_spark import mvt
        from tippecanoe_spark import tile as tilemod
        from tippecanoe_spark.config import TilingConfig
        from tippecanoe_spark.minzoom import stamp_minzoom
        from tippecanoe_spark import pyramid

        feats = self._features(spark)

        def vertex_counts(cfg, shared):
            stamped = stamp_minzoom(feats, cfg)
            rows = tilemod.tiles_for_zoom(stamped, 2, cfg, shared=shared).collect()
            n = 0
            for r in rows:
                for layer in mvt.decode_tile(bytes(r["tile"])):
                    for f in layer["features"]:
                        n += len(f["cmds"])
            return n

        cfg = TilingConfig(maxzoom=6, simplification=16.0, tiny_polygon_size=0.0,
                           preserve_shared_nodes=True)
        shared = pyramid._shared_arrays(
            stamp_minzoom(feats, cfg), cfg
        )
        with_pn = vertex_counts(cfg, shared)
        # shared=None would compute the node set: pass an empty one
        no_nodes = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64))
        without = vertex_counts(cfg, no_nodes)
        # the pinned midpoint survives only with -pn
        assert with_pn > without


class TestStreaming:
    def test_streaming_tile_counts(self, spark, tmp_path):
        from tippecanoe_spark import streaming, synth

        indir = tmp_path / "in"
        ck = tmp_path / "ck"
        indir.mkdir()
        # first micro-batch file
        synth.webpages(spark, 200, partitions=1).write.mode("overwrite").parquet(
            str(indir / "b1.parquet")
        )
        q = streaming.run_file_stream(
            spark, str(indir) + "/*", str(ck), z=3, queryName="tc_test"
        )
        try:
            q.processAllAvailable()
            # append mode emits only closed windows; force closure with a
            # second batch far in the future
            synth.webpages(spark, 50, partitions=1).write.mode("overwrite").parquet(
                str(indir / "b2.parquet")
            )
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM tc_test").collect()
            # watermark may keep windows open; progress is the real assert
            assert q.lastProgress is not None
            total_in = sum(
                p["numInputRows"] for p in [q.lastProgress] if p
            )
            assert q.lastProgress["sources"][0]["description"].startswith("FileStreamSource")
        finally:
            q.stop()

    def test_stream_geocode_schema(self, spark):
        from tippecanoe_spark import streaming
        from tippecanoe_spark import synth

        # batch equivalence of the streaming transform chain
        pages = synth.webpages(spark, 50, partitions=1)
        feats = streaming.stream_geocode(pages)
        rows = feats.limit(5).collect()
        assert "warc_ts" in feats.columns
        assert all(r["warc_ts"] is not None for r in rows)


class TestTileHooks:
    """Per-tile user hooks — the prefilter/postfilter plugin stage
    (plugin.cpp:376-520) as in-process callables in TilingConfig."""

    def _tiles(self, spark, cfg, n=200):
        from tippecanoe_spark import tile as tilemod
        from tippecanoe_spark.minzoom import stamp_minzoom
        from tippecanoe_spark import features, geocode, synth

        pages = synth.webpages(spark, n, partitions=2)
        feats = features.serialize(geocode.geocode(pages), cfg)
        stamped = stamp_minzoom(feats, cfg)
        return tilemod.tiles_for_zoom(stamped, 2, cfg).collect()

    def test_prefilter_drops_and_postfilter_augments(self, spark):
        def pre(pdf):
            # drop every line/polygon before tiling decisions
            return pdf[pdf["geom_type"] == 1]

        def post(pdf):
            # stamp a per-tile attribute onto every prepared feature
            pdf = pdf.copy()
            pdf["attrs"] = [
                {**(a or {}), "hooked": "yes"} for a in pdf["attrs"]
            ]
            return pdf

        cfg = TilingConfig(maxzoom=2, no_feature_dropping=True,
                           prefilter=pre, postfilter=post)
        rows = self._tiles(spark, cfg)
        assert rows
        seen = 0
        for r in rows:
            for layer in mvt.decode_tile(bytes(r["tile"])):
                for f in layer["features"]:
                    assert f["type"] == 1  # prefilter removed non-points
                    assert f["attrs"].get("hooked") == "yes"
                    seen += 1
        assert seen > 0

    def test_hooks_none_is_default_path(self, spark):
        cfg = TilingConfig(maxzoom=2, no_feature_dropping=True)
        base = {(r["z"], r["x"], r["y"]): bytes(r["tile"]) for r in self._tiles(spark, cfg)}
        cfg2 = TilingConfig(maxzoom=2, no_feature_dropping=True,
                            prefilter=lambda p: p, postfilter=lambda p: p)
        hooked = {(r["z"], r["x"], r["y"]): bytes(r["tile"]) for r in self._tiles(spark, cfg2)}
        assert base == hooked  # identity hooks are byte-identical
