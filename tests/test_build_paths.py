"""One tile-build path: pinned per-zoom digests and the fused == per-zoom
invariant.

``build_pyramid(fused=False)`` (the ``--checkpoint-dir`` path: one job and
one checkpoint per zoom) and ``tiles_fused`` (the whole range in one
shuffle, with the subtree fan-out at the deep zooms) must emit the same
tiles.  The per-zoom digests were generated before the per-zoom build was
rewritten as the fused build over ``[z, z]``; change one only together
with a CHANGES.md entry naming the semantic change."""

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
def per_zoom(spark, small_features, tmp_path_factory):
    """name → tiles of the per-zoom build, read back from its per-zoom
    parquet checkpoints; built once per name."""
    from tippecanoe_spark import pyramid

    built: dict[str, dict] = {}

    def get(name: str) -> dict:
        if name not in built:
            out = str(tmp_path_factory.mktemp(f"perzoom_{name}"))
            manifests = pyramid.build_pyramid(
                spark, small_features, _cfg(name), out_dir=out, fused=False
            )
            tiles: dict = {}
            for m in manifests:
                if m["n_tiles"]:
                    tiles.update(_collect(
                        spark.read.parquet(f"{out}/z={m['z']}").collect()
                    ))
            assert sum(m["n_tiles"] for m in manifests) == len(tiles)
            built[name] = tiles
        return built[name]

    return get


@pytest.mark.parametrize("name", sorted(MATRIX))
def test_per_zoom_digest_pinned(per_zoom, name):
    assert _digest(per_zoom(name)) == PINNED[name]


@pytest.mark.parametrize("name", sorted(MATRIX))
def test_fused_equals_per_zoom(spark, small_features, per_zoom, name):
    """Tile bytes and ``n_out`` agree.  ``n_in`` is left out: the fused
    subtree groups count the forced-candidate superset they carry at zooms
    R..basezoom-1, the per-zoom groups only the rows the flat assignment
    admits."""
    from tippecanoe_spark import tile as tilemod
    from tippecanoe_spark.minzoom import stamp_minzoom

    cfg = _cfg(name)
    assert tilemod._subtree_root_zoom(TilingConfig(maxzoom=MAXZOOM), 0, MAXZOOM) == 2
    fused = _collect(tilemod.tiles_fused(stamp_minzoom(small_features, cfg), cfg).collect())
    want = per_zoom(name)
    assert set(fused) == set(want)
    diff = [k for k in want if fused[k][1:] != want[k][1:]]
    assert not diff, f"{len(diff)} of {len(want)} tiles differ, e.g. {sorted(diff)[:3]}"


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
