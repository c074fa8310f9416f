"""End-to-end webtext pipeline tests: synth → geocode → serialize → minzoom.

Covers the input_hint invariants: byte-identical extracted text per url,
determinism across parallelism levels (the parallel-parse equivalence test
family, reference Makefile:220-245)."""

import numpy as np
import pandas as pd

from tippecanoe_spark import features, geocode, minzoom, synth
from tippecanoe_spark.config import TilingConfig


def test_synth_deterministic_rows():
    a = synth.synth_pdf(np.arange(100))
    b = synth.synth_pdf(np.arange(50, 150))
    pd.testing.assert_frame_equal(
        a.iloc[50:].reset_index(drop=True), b.iloc[:50].reset_index(drop=True)
    )


def test_geocode_extracts_grammar():
    rows = geocode._extract_one(
        "u",
        "x near 12.3456, -45.0000 y visit "
        + synth.GAZ_NAMES[0]
        + " z area bbox[1.0000,2.0000,3.0000,4.0000] w route "
        + synth.GAZ_NAMES[1]
        + " to "
        + synth.GAZ_NAMES[2],
    )
    kinds = [r[3] for r in rows]
    assert kinds == [1, 1, 3, 2]
    assert rows[0][4] == [(-45.0, 12.3456)]
    ring = rows[2][4]
    assert ring[0] == ring[-1] == (1.0, 2.0)
    assert len(rows[3][4]) == 2


def test_geocode_batch_without_mentions(spark):
    """An Arrow batch whose pages mention no place yields no rows instead
    of failing the list<struct> conversion of an empty coords column."""
    pages = spark.createDataFrame(
        [("u0", "nothing here"), ("u1", "x near 12.3456, -45.0000 y")],
        "url string, text string",
    ).repartition(2, "url")
    assert geocode.geocode(pages.filter("url = 'u0'")).count() == 0
    assert [r["url"] for r in geocode.geocode(pages).collect()] == ["u1"]


def test_pipeline_counts_and_schema(spark):
    pages = synth.webpages(spark, 500, partitions=4)
    feats = features.serialize(geocode.geocode(pages))
    stamped = minzoom.stamp_minzoom(feats).cache()
    n = stamped.count()
    assert n > 300
    gts = {r["geom_type"] for r in stamped.select("geom_type").distinct().collect()}
    assert gts == {1, 2, 3}
    row = stamped.filter("geom_type = 3").first()
    from tippecanoe_spark.features import unpack_cmds_tuples
    ops = [o for o, _, _ in unpack_cmds_tuples(row["geometry"])]
    assert ops[0] == 1 and ops[-1] == 7 and set(ops[1:-1]) == {2}
    assert row["extent"] > 0
    assert row["minx"] <= row["maxx"] and row["miny"] <= row["maxy"]
    # polygons/lines are not rate-dropped (reference default)
    assert (
        stamped.filter("geom_type != 1 AND feature_minzoom != 0").count() == 0
    )


def test_parallelism_equivalence(spark):
    """local[8]-vs-local[32] analog: same result regardless of partitioning."""
    a = (
        features.serialize(geocode.geocode(synth.webpages(spark, 400, partitions=2)))
        .select("feature_id", "index", "extent", "minx")
        .orderBy("feature_id", "index")
        .collect()
    )
    b = (
        features.serialize(geocode.geocode(synth.webpages(spark, 400, partitions=16)))
        .select("feature_id", "index", "extent", "minx")
        .orderBy("feature_id", "index")
        .collect()
    )
    assert a == b


def test_byte_identical_text_per_url(spark):
    """input_hint invariant: extracted text is byte-identical per url."""
    p1 = synth.webpages(spark, 200, partitions=3).select("url", "text").collect()
    p2 = synth.webpages(spark, 200, partitions=7).select("url", "text").collect()
    m1 = {r["url"]: r["text"] for r in p1}
    m2 = {r["url"]: r["text"] for r in p2}
    assert m1 == m2


def _reference_minzoom(n, maxzoom=14, basezoom=14, droprate=2.5):
    """Direct simulation of the reference cascade (main.cpp:299-350)."""
    interval = np.zeros(maxzoom + 1)
    for i in range(maxzoom + 1):
        if i < basezoom:
            interval[i] = np.exp(np.log(droprate) * (basezoom - i))
    seq = np.zeros(maxzoom + 1)
    out = np.zeros(n, dtype=int)
    for f in range(n):
        seq += 1
        mz = 0
        for i in range(maxzoom, -1, -1):
            if seq[i] < 0:
                mz = i + 1
                break
            seq[i] -= interval[i]
        out[f] = mz
    return out


def test_minzoom_matches_reference_simulation():
    """Our vectorized cascade == tippecanoe's sequential accumulator,
    feature for feature, across droprate/basezoom/maxzoom combos."""
    rn = np.arange(1, 3001)
    for dr in (1.2, 1.5, 2.0, 2.5, 3.0, 4.0):
        for bz, mx in ((14, 14), (10, 14), (12, 14), (10, 10)):
            cfg = TilingConfig(droprate=dr, maxzoom=mx, basezoom=bz)
            mz = minzoom.minzoom_for_ranks(rn, cfg)
            ref = _reference_minzoom(3000, mx, bz, dr)
            assert (mz == ref).all(), (dr, bz, mx)


def test_minzoom_rank_semantics():
    cfg = TilingConfig(droprate=2.5, maxzoom=14, minzoom=0)
    rn = np.arange(1, 10001)
    mz = minzoom.minzoom_for_ranks(rn, cfg)
    # the very first feature survives at every zoom (seq=1 >= 0 cascades)
    assert mz[0] == 0
    # counts kept at zoom z must be ~ n / droprate**(14-z)
    for z in [10, 12, 13]:
        kept = int((mz <= z).sum())
        expect = 10000 / 2.5 ** (14 - z)
        assert abs(kept - expect) <= 3, (z, kept, expect)
    # shuffled ranks give the same per-rank answer (order independence)
    perm = np.random.default_rng(1).permutation(10000)
    mz_p = minzoom.minzoom_for_ranks(rn[perm], cfg)
    assert (mz_p == mz[perm]).all()


def test_minzoom_distributed_matches_local(spark):
    """stamp_minzoom (partition-boundary-state path) == single-machine
    cascade on the same global ranks."""
    from tippecanoe_spark import features as FT
    from tippecanoe_spark import geocode as GC

    pages = synth.webpages(spark, 600, partitions=8)
    feats = FT.serialize(GC.geocode(pages))
    # keep_first_per_tile off: this test pins the pure cascade against
    # the partition-boundary-state path (the forced-keep refinement
    # lowers some minzooms by design, tile.cpp:1290-1301)
    cfg = TilingConfig(keep_first_per_tile=False)
    stamped = minzoom.stamp_minzoom(feats, cfg, partitions=7)
    rows = (
        stamped.filter("geom_type = 1")
        .select("curve_rank", "feature_minzoom")
        .collect()
    )
    got = {r["curve_rank"]: r["feature_minzoom"] for r in rows}
    # recompute point ranks from curve ranks: points in curve order.
    # Small corpora take the exact C-float machine path
    # (MACHINE_EXACT_MAX); the distributed boundary-state replay must
    # equal the single-machine replay bit for bit.
    pt_ranks = sorted(got)
    local = minzoom.minzoom_machine_exact(
        np.arange(1, len(pt_ranks) + 1), cfg
    )
    expect = {cr: int(m) for cr, m in zip(pt_ranks, local)}
    assert got == expect
    # and the closed form stays monotone-equivalent: same per-zoom
    # survivor counts within a tiny drift band
    closed = minzoom.minzoom_for_ranks(np.arange(1, len(pt_ranks) + 1), cfg)
    for z in range(0, 15):
        a = int((local <= z).sum())
        b = int((closed <= z).sum())
        assert abs(a - b) <= max(2, int(0.02 * max(a, b))), z


def test_stamp_minzoom_keeps_caller_cache(spark):
    """stamp_minzoom releases only the cache it made: a caller's
    persisted input stays cached after the stamped frame is evaluated."""
    pages = synth.webpages(spark, 40, partitions=2)
    feats = features.serialize(geocode.geocode(pages)).persist()
    try:
        n = feats.count()
        assert minzoom.stamp_minzoom(feats, TilingConfig()).count() == n
        assert feats.is_cached
    finally:
        feats.unpersist()
