"""Variable-depth pyramid (-at) — leafing, pruning exactness, and
sub-range/full-build equivalence (reference: tile.cpp:1701-1713, 3055-3066,
3179-3199)."""

import pytest

from tippecanoe_spark.config import TilingConfig


@pytest.fixture(scope="module")
def vd_features(spark):
    from tippecanoe_spark import features, geocode, synth

    pages = synth.webpages(spark, 80, partitions=4)
    return features.serialize(geocode.geocode(pages))


class TestVariableDepth:
    def test_leaf_collapses_pyramid(self, spark, vd_features):
        # no dropping => everything is visible from its first zoom, every
        # tile passes the size estimate => the four z1 tiles leaf (z0 is
        # vetoed by the structural dateline-twin minzoom) and z2..z6 are
        # never built
        from tippecanoe_spark import mvt as mvtmod
        from tippecanoe_spark import tile as tilemod
        from tippecanoe_spark.minzoom import stamp_minzoom

        cfg = TilingConfig(
            maxzoom=6, no_feature_dropping=True, variable_depth_pyramid=True
        )
        stamped = stamp_minzoom(vd_features, cfg).persist()
        try:
            rows = tilemod.tiles_fused(stamped, cfg).collect()
            assert max(r["z"] for r in rows) <= 1
            leaf_rows = [r for r in rows if r["z"] == 1]
            assert len(leaf_rows) == 4
            for r in leaf_rows:
                lays = mvtmod.decode_tile(bytes(r["tile"]))
                # first_detail = 30 - z (tile.cpp:1710)
                assert lays[0]["extent"] == 1 << 29
            # a leaf carries exactly the features the normal build's tile
            # at the same (z, x, y) would
            cfg0 = TilingConfig(maxzoom=6, no_feature_dropping=True)
            rows0 = {
                (r["z"], r["x"], r["y"]): r
                for r in tilemod.tiles_fused(stamped, cfg0).collect()
            }
            for r in leaf_rows:
                assert r["n_out"] == rows0[(1, r["x"], r["y"])]["n_out"]
        finally:
            stamped.unpersist()

    def test_prune_is_exactly_leaf_descendants(self, spark, vd_features):
        # default rate dropping spreads feature_minzoom over the range:
        # a tile is missing from the -at build IFF it has a leaf ancestor
        from tippecanoe_spark import tile as tilemod
        from tippecanoe_spark import vardepth
        from tippecanoe_spark.minzoom import stamp_minzoom

        cfg = TilingConfig(maxzoom=6, variable_depth_pyramid=True)
        stamped = stamp_minzoom(vd_features, cfg).persist()
        try:
            on = {
                (r["z"], r["x"], r["y"])
                for r in tilemod.tiles_fused(stamped, cfg).collect()
            }
            cfg0 = TilingConfig(maxzoom=6)
            off = {
                (r["z"], r["x"], r["y"])
                for r in tilemod.tiles_fused(stamped, cfg0).collect()
            }
            assert on <= off
            featuresT = tilemod.with_dateline_twins(stamped, cfg)
            assigned = tilemod.assign_tiles_all(featuresT, cfg)
            _, leaf_keys = vardepth.leaf_plan(featuresT, cfg)
            leaves = {
                (r["zz"], r["tx"], r["ty"]) for r in leaf_keys.collect()
            }
            assert leaves, "expected at least one leaf on this corpus"

            def leaf_anc(t):
                z, x, y = t
                return any(
                    (zl, x >> (z - zl), y >> (z - zl)) in leaves
                    for zl in range(0, z)
                )

            missing = off - on
            assert missing, "expected pruned subtrees"
            for t in missing:
                assert leaf_anc(t), f"{t} pruned without a leaf ancestor"
            for t in off:
                if leaf_anc(t):
                    assert t not in on, f"{t} built under a leaf"
            for t in leaves:
                assert t in on
        finally:
            stamped.unpersist()

    def test_per_zoom_mode_matches_fused(self, spark, vd_features, tmp_path, monkeypatch):
        # a sub-range build filters the leaf plan to its range: a resumed
        # build over [3, 5] (this corpus leafs at z3/z4 and prunes z4/z5)
        # equals the one-build pyramid
        import os

        from tippecanoe_spark import pyramid
        from tippecanoe_spark import tile as tilemod
        from tippecanoe_spark.minzoom import stamp_minzoom

        def collect(rows):
            return {
                (r["z"], r["x"], r["y"]): (r["n_in"], r["n_out"], bytes(r["tile"]))
                for r in rows
            }

        cfg = TilingConfig(maxzoom=5, variable_depth_pyramid=True)
        stamped = stamp_minzoom(vd_features, cfg).persist()
        try:
            out = str(tmp_path / "vd_tiles")
            pyramid.build_pyramid(spark, stamped, cfg, out_dir=out, stamp=False)
            clean = collect(spark.read.parquet(out).collect())

            for z in (3, 4, 5):
                os.remove(pyramid.zoom_manifest_path(out, z))
            ranges = []
            fused = tilemod.tiles_fused

            def spy(*a, **kw):
                ranges.append((kw["z_lo"], kw["z_hi"]))
                return fused(*a, **kw)

            monkeypatch.setattr(tilemod, "tiles_fused", spy)
            pyramid.build_pyramid(spark, stamped, cfg, out_dir=out, stamp=False)
            assert ranges == [(3, 5)]
            assert collect(spark.read.parquet(out).collect()) == clean
        finally:
            stamped.unpersist()


class TestCandidateDisqualifiers:
    """candidate_keys: a tile cannot leaf while content is still pending
    (feature_minzoom > z) or will vanish (feature_maxzoom < maxzoom)."""

    @staticmethod
    def _one_point_features(spark, minzoom_attr=None, maxzoom_attr=None):
        from tippecanoe_spark import features as featmod

        attrs = {}
        if minzoom_attr is not None:
            attrs["tippecanoe_minzoom"] = str(minzoom_attr)
        if maxzoom_attr is not None:
            attrs["tippecanoe_maxzoom"] = str(maxzoom_attr)
        raw = spark.createDataFrame(
            [("u", 0, "pts", 1, [(10.0, 20.0)], attrs)],
            "url string, mention_seq int, layer string, geom_type int, "
            "coords array<struct<lon double, lat double>>, "
            "attrs map<string,string>",
        )
        return featmod.serialize(raw)

    def _leaf_zooms(self, spark, feats, cfg):
        from tippecanoe_spark import tile as tilemod
        from tippecanoe_spark import vardepth
        from tippecanoe_spark.minzoom import stamp_minzoom

        stamped = stamp_minzoom(feats, cfg)
        featuresT = tilemod.with_dateline_twins(stamped, cfg)
        cand = vardepth.candidate_keys(featuresT, cfg)
        return {r["zz"] for r in cand.select("zz").distinct().collect()}

    def test_late_feature_blocks_shallow_leaves(self, spark):
        # explicit tippecanoe:minzoom 3 => z0-z2 tiles covering the point
        # cannot leaf; z3+ can
        cfg = TilingConfig(maxzoom=6, no_feature_dropping=True,
                           variable_depth_pyramid=True)
        feats = self._one_point_features(spark, minzoom_attr=3)
        zs = self._leaf_zooms(spark, feats, cfg)
        assert zs and min(zs) >= 3

    def test_vanishing_feature_blocks_all_leaves(self, spark):
        # explicit tippecanoe:maxzoom < maxzoom => the subtree loses the
        # feature before maxzoom; nothing may leaf anywhere above it
        cfg = TilingConfig(maxzoom=6, no_feature_dropping=True,
                           variable_depth_pyramid=True)
        feats = self._one_point_features(spark, maxzoom_attr=4)
        assert self._leaf_zooms(spark, feats, cfg) == set()

    def test_unconstrained_point_leafs_at_minzoom(self, spark):
        cfg = TilingConfig(maxzoom=6, no_feature_dropping=True,
                           variable_depth_pyramid=True)
        feats = self._one_point_features(spark)
        zs = self._leaf_zooms(spark, feats, cfg)
        assert 0 in zs


VD_FIXTURE_IN = "/root/reference/tests/minzoom-variable-depth/in.json"
VD_FIXTURE_GOLD = (
    "/root/reference/tests/minzoom-variable-depth/out/"
    "-Z10_-z11_--generate-variable-depth-tile-pyramid.json"
)


def test_reference_variable_depth_golden(spark):
    """The reference's own -at golden (-Z10 -z11
    --generate-variable-depth-tile-pyramid): feature 2's explicit
    tippecanoe:minzoom 11 disqualifies the z10 tile from leafing, so
    z11 IS built and carries both features; exact tile set, ids and
    attrs vs the committed golden."""
    import json as _json
    import os as _os

    import pytest as _pytest

    if not (_os.path.exists(VD_FIXTURE_IN) and _os.path.exists(VD_FIXTURE_GOLD)):
        _pytest.skip("reference fixtures unavailable")
    from tippecanoe_spark import mvt
    from tippecanoe_spark import tile as tilemod
    from tippecanoe_spark.minzoom import stamp_minzoom
    from tippecanoe_spark.sources.geojson import read_geojson

    cfg = TilingConfig(minzoom=10, maxzoom=11, variable_depth_pyramid=True)
    feats = stamp_minzoom(
        read_geojson(spark, VD_FIXTURE_IN, layer="in", cfg=cfg), cfg
    )
    ours = {}
    for r in tilemod.tiles_fused(feats, cfg).collect():
        ours[(r["z"], r["x"], r["y"])] = sorted(
            (f["id"], str(f["attrs"].get("depth")))
            for layer in mvt.decode_tile(bytes(r["tile"]))
            for f in layer["features"]
        )
    with open(VD_FIXTURE_GOLD) as fh:
        g = _json.load(fh)
    gold = {}
    for t in g["features"]:
        p = t["properties"]
        gold[(p["zoom"], p["x"], p["y"])] = sorted(
            (f.get("id"), str(f["properties"]["depth"]))
            for layerfc in t["features"]
            for f in layerfc["features"]
        )
    assert ours == gold
