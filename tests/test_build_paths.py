"""One tile-build path: pinned per-zoom digests, fused == per-zoom, and
zoom-granular resume.

The flat per-zoom build (``tiles_for_zoom`` over each zoom: per-(zoom,
tile) assignment rows only) and the checkpointed pyramid
(``build_pyramid(out_dir=...)``: one ``tiles_fused`` job over every zoom,
with the subtree fan-out at the deep zooms) must emit the same tiles,
``n_in`` and ``n_out`` included.  The digests were generated when the
per-zoom path was a job per zoom; change one only together with a
CHANGES.md entry naming the semantic change."""

from __future__ import annotations

import hashlib

import pytest

from tippecanoe_spark.config import TilingConfig

MAXZOOM = 5

# name → TilingConfig overrides (all at maxzoom 5, where the subtree
# fan-out roots at z2)
MATRIX = {
    "default": {},
    "pn": {"preserve_shared_nodes": True},
    "ab": {"detect_shared_borders": True},
    "dda": {"drop_densest_as_needed": True},
    "ac": {"coalesce_features": True},
    "r1": {"no_feature_dropping": True},
    "m3": {"retain_points_multiplier": 3},
}

# sha256 over the sorted (z, x, y, n_in, n_out, tile bytes) of the
# per-zoom build of `small_features`
PINNED = {
    "ab": "3e82ccc6880b03f957087d4e3b1fc7212690f840e15568d1850c9350a909b9f5",
    "ac": "faa8abafb2684189362b4a65a8826567dd9963f92caf21f1733f23ce89079f59",
    "dda": "44d1a3b199bfa506e4adf37165a6b6abbd6dfa34319e39ee2f66e9a153aa08d4",
    "default": "44d1a3b199bfa506e4adf37165a6b6abbd6dfa34319e39ee2f66e9a153aa08d4",
    "m3": "c3584a8611d81f35a19c2aaf1cab7627f824c47da67a1696704aa1363c41c5f1",
    "pn": "5c15b6b77216344f0f2a5e2ee9e874f3007edf3c19512f430a15d2a9cb502288",
    "r1": "78308124fdb33050cfe9e21b2921a0532c55404ffbb63c4ab148f7e8f8acaa80",
}


def _cfg(name: str) -> TilingConfig:
    return TilingConfig(maxzoom=MAXZOOM, **MATRIX[name])


def _digest(tiles: dict) -> str:
    h = hashlib.sha256()
    for key in sorted(tiles):
        n_in, n_out, blob = tiles[key]
        h.update(f"{key[0]}/{key[1]}/{key[2]}:{n_in}:{n_out}:{len(blob)}:".encode())
        h.update(blob)
    return h.hexdigest()


def _collect(rows) -> dict:
    return {
        (r["z"], r["x"], r["y"]): (r["n_in"], r["n_out"], bytes(r["tile"]))
        for r in rows
    }


@pytest.fixture(scope="module")
def small_features(spark):
    from tippecanoe_spark import features, geocode, synth

    pages = synth.webpages(spark, 400, partitions=4)
    feats = features.serialize(geocode.geocode(pages)).persist()
    yield feats
    feats.unpersist()


@pytest.fixture(scope="module")
def per_zoom(spark, small_features):
    """name → tiles of the flat per-zoom build: ``tiles_for_zoom`` over
    each zoom; built once per name."""
    from tippecanoe_spark import pyramid
    from tippecanoe_spark import tile as tilemod
    from tippecanoe_spark.minzoom import stamp_minzoom

    built: dict[str, dict] = {}

    def get(name: str) -> dict:
        if name not in built:
            cfg = _cfg(name)
            stamped = stamp_minzoom(small_features, cfg).persist()
            try:
                shared = pyramid._shared_arrays(stamped, cfg)
                tiles: dict = {}
                for z in range(MAXZOOM + 1):
                    tiles.update(_collect(
                        tilemod.tiles_for_zoom(stamped, z, cfg, shared=shared).collect()
                    ))
            finally:
                stamped.unpersist()
            built[name] = tiles
        return built[name]

    return get


@pytest.fixture(scope="module")
def checkpointed(spark, small_features, tmp_path_factory):
    """name → (checkpoint dir, tiles read back from it) of the
    checkpointed pyramid; built once per name."""
    from tippecanoe_spark import pyramid

    built: dict[str, tuple] = {}

    def get(name: str) -> tuple:
        if name not in built:
            out = str(tmp_path_factory.mktemp(f"ckpt_{name}"))
            manifests = pyramid.build_pyramid(spark, small_features, _cfg(name), out_dir=out)
            tiles = _collect(spark.read.parquet(out).collect())
            assert [m["z"] for m in manifests] == list(range(MAXZOOM + 1))
            for m in manifests:
                mine = [v for k, v in tiles.items() if k[0] == m["z"]]
                assert m["n_tiles"] == len(mine)
                assert m["n_features_in"] == sum(v[0] for v in mine)
                assert m["n_features_out"] == sum(v[1] for v in mine)
            built[name] = (out, tiles)
        return built[name]

    return get


@pytest.mark.parametrize("name", sorted(MATRIX))
def test_per_zoom_digest_pinned(per_zoom, name):
    assert _digest(per_zoom(name)) == PINNED[name]


@pytest.mark.parametrize("name", sorted(MATRIX))
def test_fused_equals_per_zoom(per_zoom, checkpointed, name):
    """The checkpointed build equals the flat per-zoom build in tile
    bytes, ``n_in`` and ``n_out`` (so it holds the pinned digest too).
    At maxzoom 5 its one build roots the subtree fan-out at z2, so z2-z5
    come from the in-kernel expansion (except under ``M=3``)."""
    from tippecanoe_spark import tile as tilemod

    assert tilemod._subtree_root_zoom(TilingConfig(maxzoom=MAXZOOM), 0, MAXZOOM) == 2
    _, fused = checkpointed(name)
    want = per_zoom(name)
    assert set(fused) == set(want)
    diff = [k for k in want if fused[k] != want[k]]
    assert not diff, f"{len(diff)} of {len(want)} tiles differ, e.g. {sorted(diff)[:3]}"
    assert _digest(fused) == PINNED[name]


def test_resume_after_kill(spark, small_features, checkpointed, tmp_path, monkeypatch):
    """A build killed after committing z0-z2: z3-z5 have no manifest,
    ``z=5/`` is gone and ``z=3/``, ``z=4/`` are stale leftovers (``z=4/``
    holds a foreign file).  The re-run rebuilds exactly z3-z5 in one
    build — over the flat path, since the subtree root z2 is outside its
    range — leaves the z0-z2 partitions untouched and equals the clean
    build."""
    import os
    import shutil

    from tippecanoe_spark import pyramid
    from tippecanoe_spark import tile as tilemod

    clean_dir, clean = checkpointed("default")
    out = str(tmp_path / "ckpt")
    shutil.copytree(clean_dir, out)
    for z in (3, 4, 5):
        os.remove(pyramid.zoom_manifest_path(out, z))
    z5 = pyramid.zoom_dir(out, 5)
    part = next(f for f in sorted(os.listdir(z5)) if f.endswith(".parquet"))
    shutil.copy(os.path.join(z5, part), os.path.join(pyramid.zoom_dir(out, 4), "part-stale.parquet"))
    shutil.rmtree(z5)

    def mtimes(z: int) -> dict:
        d = pyramid.zoom_dir(out, z)
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

    kept = {z: mtimes(z) for z in (0, 1, 2)}
    ranges = []
    fused = tilemod.tiles_fused

    def spy(*a, **kw):
        ranges.append((kw["z_lo"], kw["z_hi"]))
        return fused(*a, **kw)

    monkeypatch.setattr(tilemod, "tiles_fused", spy)
    manifests = pyramid.build_pyramid(spark, small_features, _cfg("default"), out_dir=out)
    assert ranges == [(3, 5)]
    assert {z: mtimes(z) for z in (0, 1, 2)} == kept
    assert _collect(spark.read.parquet(out).collect()) == clean
    assert sum(m["n_tiles"] for m in manifests) == len(clean)


def test_tiles_for_zoom_computes_shared_nodes(spark):
    """-pn on a direct ``tiles_for_zoom`` call without ``shared``: the
    shared-node set is computed as the pyramid computes it, not skipped.
    Two lines cross at a near-collinear vertex that only the node set
    keeps at z5."""
    import numpy as np

    from tippecanoe_spark import features, geocode, pyramid
    from tippecanoe_spark import tile as tilemod
    from tippecanoe_spark.minzoom import stamp_minzoom

    def line(i, pts):
        coords = [{"lon": lon, "lat": lat} for lon, lat in pts]
        return (f"u{i}", 0, "lines", 2, coords, {})

    raw = spark.createDataFrame(
        [
            line(0, [(-40.0, 10.0), (0.0, 10.003), (40.0, 10.0)]),
            line(1, [(0.0, -30.0), (0.0, 10.003), (0.003, 50.0)]),
        ],
        geocode.FEATURES_RAW_SCHEMA,
    )
    cfg = TilingConfig(maxzoom=5, preserve_shared_nodes=True)
    stamped = stamp_minzoom(features.serialize(raw, cfg), cfg)

    def tiles(**kw) -> dict:
        return _collect(tilemod.tiles_for_zoom(stamped, 5, cfg, **kw).collect())

    with_nodes = tiles(shared=pyramid._shared_arrays(stamped, cfg))
    no_nodes = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64))
    assert with_nodes != tiles(shared=no_nodes)  # the nodes matter here
    assert tiles() == with_nodes


def test_zoom_outside_range_raises(small_features):
    from tippecanoe_spark import tile as tilemod

    cfg = TilingConfig(minzoom=1, maxzoom=MAXZOOM)
    for z in (0, MAXZOOM + 1):
        with pytest.raises(ValueError):
            tilemod.tiles_for_zoom(small_features, z, cfg)


@pytest.mark.parametrize("name", ["default", "ab", "at"])
def test_tiles_independent_of_partition_count(spark, small_features, monkeypatch, name):
    """The tile-kernel shuffles give the same tiles (bytes, ``n_in`` and
    ``n_out``) at the partition helper's floor (``cores``) and at its cap
    (24 x cores or the key space): the pyramid shuffle of ``tiles_fused``
    under the default config and -ab, and the leaf-confirm probe of an -at
    build."""
    from tippecanoe_spark import tile as tilemod
    from tippecanoe_spark.minzoom import stamp_minzoom

    # z0-z3 caps the pyramid shuffle at its key space (85 tiles), ~10x the
    # floor.  -at needs z5 for more leaf probes than cores (69 on this
    # corpus); its pyramid shuffle gets no estimate and stays at the
    # floor, since at z5 the cap alone would cost ~20 s of 192 tasks.
    overrides, maxzoom, est_rows = {
        "default": ({}, 3, 10**6),
        "ab": (MATRIX["ab"], 3, 10**6),
        "at": ({"variable_depth_pyramid": True}, MAXZOOM, None),
    }[name]
    cfg = TilingConfig(maxzoom=maxzoom, **overrides)
    cores = spark.sparkContext.defaultParallelism
    helper = tilemod._tile_partitions
    stamped = stamp_minzoom(small_features, cfg).persist()

    def build(rows_per_task: int):
        counts: list[int] = []

        def spy(*a, **kw):
            counts.append(helper(*a, **kw))
            return counts[-1]

        monkeypatch.setattr(tilemod, "ROWS_PER_TASK", rows_per_task)
        monkeypatch.setattr(tilemod, "_tile_partitions", spy)
        rows = tilemod.tiles_fused(stamped, cfg, est_rows=est_rows).collect()
        return _collect(rows), counts

    try:
        few, n_few = build(10**18)
        many, n_many = build(1)
    finally:
        stamped.unpersist()
    # one helper call per shuffle: under -at the confirm probe (one round
    # on this corpus), then the pyramid shuffle
    if name == "at":
        assert n_few == [cores, cores]
        assert n_many[0] > cores and n_many[1] == cores
    else:
        assert n_few == [cores] and n_many == [min(24 * cores, 85)]
    assert few and few == many
