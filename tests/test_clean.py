"""Polygon clean/union (T5/T6) — clean_or_clip_poly semantics
(reference: clip.cpp:260-388, wagyu positive fill; unit test at
unit.cpp:140 for the orphan-hole case)."""

import numpy as np
import pytest

from tippecanoe_spark.features import signed_area
from tippecanoe_spark.geom.clean import (
    clean_rings,
    clip_lines_to_rings,
    intersect_rings,
    point_winding,
    ring_self_intersects,
    rings_need_cleaning,
    subtract_rings,
    union_rings,
)


def ring(*pts):
    xs = np.array([p[0] for p in pts], dtype=np.int64)
    ys = np.array([p[1] for p in pts], dtype=np.int64)
    return xs, ys


def total_area(rings):
    return sum(signed_area(x, y) for x, y in rings)


SQ = ring((0, 0), (10, 0), (10, 10), (0, 10))  # +100


class TestCleanBasics:
    def test_valid_square_identity(self):
        out = clean_rings([SQ])
        assert len(out) == 1
        assert total_area(out) == 100.0
        assert sorted(zip(out[0][0].tolist(), out[0][1].tolist())) == sorted(
            zip(SQ[0].tolist(), SQ[1].tolist())
        )

    def test_valid_square_skips_sweep(self):
        assert not rings_need_cleaning([SQ])

    def test_bowtie_keeps_positive_lobe(self):
        # (0,0)->(10,10)->(10,0)->(0,10): crossing at (5,5); the left
        # lobe has winding +1, the right -1 — positive fill keeps left
        bow = ring((0, 0), (10, 10), (10, 0), (0, 10))
        assert ring_self_intersects(*bow)
        assert rings_need_cleaning([bow])
        out = clean_rings([bow])
        assert len(out) == 1
        assert total_area(out) == 25.0

    def test_donut_identity(self):
        outer = ring((0, 0), (20, 0), (20, 20), (0, 20))
        hole = ring((5, 5), (5, 15), (15, 15), (15, 5))  # -100
        assert not rings_need_cleaning([outer, hole])
        out = clean_rings([outer, hole])
        assert total_area(out) == 300.0
        assert len(out) == 2
        assert signed_area(*out[0]) > 0 > signed_area(*out[1])

    def test_orphan_hole_dropped(self):
        # wagyu unit.cpp:140 regression class: a hole no ring can parent
        hole = ring((5, 5), (5, 15), (15, 15), (15, 5))
        assert rings_need_cleaning([hole])
        assert clean_rings([hole]) == []

    def test_overlapping_outers_union(self):
        a = ring((0, 0), (10, 0), (10, 10), (0, 10))
        b = ring((5, 5), (15, 5), (15, 15), (5, 15))
        assert rings_need_cleaning([a, b])
        out = clean_rings([a, b])
        assert total_area(out) == 175.0
        assert len(out) == 1

    def test_touching_squares_stay_separate(self):
        a = ring((0, 0), (5, 0), (5, 5), (0, 5))
        b = ring((5, 5), (10, 5), (10, 10), (5, 10))
        out = clean_rings([a, b])
        assert len(out) == 2
        assert total_area(out) == 50.0

    def test_hole_crossing_outer_is_cleaned(self):
        outer = ring((0, 0), (10, 0), (10, 10), (0, 10))
        # "hole" sticking out of the outer on the right
        hole = ring((5, 3), (5, 7), (15, 7), (15, 3))  # -area, overlaps edge
        assert rings_need_cleaning([outer, hole])
        out = clean_rings([outer, hole])
        # outer minus the overlapping part of the hole: 100 - 5*4 = 80
        assert total_area(out) == 80.0


class TestBooleans:
    def test_union_intersection_difference(self):
        a = [ring((0, 0), (10, 0), (10, 10), (0, 10))]
        b = [ring((5, 5), (15, 5), (15, 15), (5, 15))]
        assert total_area(union_rings(a, b)) == 175.0
        assert total_area(intersect_rings(a, b)) == 25.0
        assert total_area(subtract_rings(a, b)) == 75.0

    def test_disjoint_intersection_empty(self):
        a = [ring((0, 0), (10, 0), (10, 10), (0, 10))]
        b = [ring((20, 20), (30, 20), (30, 30), (20, 30))]
        assert intersect_rings(a, b) == []
        assert total_area(union_rings(a, b)) == 200.0

    def test_intersection_with_donut(self):
        outer = ring((0, 0), (20, 0), (20, 20), (0, 20))
        hole = ring((5, 5), (5, 15), (15, 15), (15, 5))
        probe = [ring((0, 0), (10, 0), (10, 10), (0, 10))]
        out = intersect_rings([outer, hole], probe)
        # 10x10 square minus the hole quadrant [5,10)x[5,10): 100-25
        assert total_area(out) == 75.0


def _far_from_edges(px, py, rings, dist):
    """Mask of sample points at least ``dist`` from every ring edge —
    snap-rounding (ours and wagyu's) legitimately moves boundaries by
    up to ~a grid unit, so only clearly-interior/exterior points are
    predicate-stable."""
    ok = np.ones(len(px), dtype=bool)
    for x, y in rings:
        x = np.asarray(x, np.float64)
        y = np.asarray(y, np.float64)
        x1 = np.roll(x, -1)
        y1 = np.roll(y, -1)
        for ax, ay, bx, by in zip(x, y, x1, y1):
            dx, dy = bx - ax, by - ay
            ln2 = dx * dx + dy * dy
            if ln2 == 0:
                continue
            t = np.clip(((px - ax) * dx + (py - ay) * dy) / ln2, 0, 1)
            d2 = (px - (ax + t * dx)) ** 2 + (py - (ay + t * dy)) ** 2
            ok &= d2 > dist * dist
    return ok


class TestPointwiseEquivalence:
    """The defining property: the cleaned polygon covers exactly the
    winding>0 region of the input (sampled pointwise, away from the
    snap-rounded boundary band)."""

    @pytest.mark.parametrize("seed", [1, 2, 3, 4])
    def test_random_self_intersecting(self, seed):
        rng = np.random.default_rng(seed)
        n = int(rng.integers(5, 10))
        x = rng.integers(0, 100, n)
        y = rng.integers(0, 100, n)
        rings_in = [(x, y)]
        out = clean_rings(rings_in)
        px = rng.integers(-10, 110, 500).astype(np.float64) + 0.5
        py = rng.integers(-10, 110, 500).astype(np.float64) + 0.5
        m = _far_from_edges(px, py, rings_in, 1.5)
        w_in = point_winding(px[m], py[m], rings_in) > 0
        w_out = point_winding(px[m], py[m], out) > 0
        assert (w_in == w_out).all()

    @pytest.mark.parametrize("seed", [10, 11, 12])
    def test_random_multi_ring(self, seed):
        rng = np.random.default_rng(seed)
        rings_in = []
        for _ in range(3):
            n = int(rng.integers(4, 8))
            rings_in.append(
                (rng.integers(0, 80, n), rng.integers(0, 80, n))
            )
        out = clean_rings(rings_in)
        px = rng.integers(-5, 90, 500).astype(np.float64) + 0.5
        py = rng.integers(-5, 90, 500).astype(np.float64) + 0.5
        m = _far_from_edges(px, py, rings_in, 1.5)
        w_in = point_winding(px[m], py[m], rings_in) > 0
        w_out = point_winding(px[m], py[m], out) > 0
        assert (w_in == w_out).all()

    def test_output_rings_are_simple(self):
        rng = np.random.default_rng(99)
        for _ in range(10):
            n = int(rng.integers(5, 9))
            out = clean_rings(
                [(rng.integers(0, 60, n), rng.integers(0, 60, n))]
            )
            for x, y in out:
                assert not ring_self_intersects(x, y)


class TestLineClip:
    def test_line_through_square(self):
        sq = [ring((0, 0), (10, 0), (10, 10), (0, 10))]
        lines = [(np.array([-5, 15]), np.array([5, 5]))]
        out = clip_lines_to_rings(lines, sq)
        assert len(out) == 1
        (x, y) = out[0]
        assert x.tolist() == [0, 10] and y.tolist() == [5, 5]

    def test_line_through_donut(self):
        outer = ring((0, 0), (20, 0), (20, 20), (0, 20))
        hole = ring((5, 5), (5, 15), (15, 15), (15, 5))
        lines = [(np.array([-5, 25]), np.array([10, 10]))]
        out = clip_lines_to_rings(lines, [outer, hole])
        assert len(out) == 2
        spans = sorted((x.min(), x.max()) for x, y in out)
        assert spans == [(0, 5), (15, 20)]


class TestTileIntegration:
    def test_bowtie_cleaned_in_kernel(self, spark):
        import pandas as pd

        from tippecanoe_spark.config import TilingConfig
        from tippecanoe_spark import mvt
        from tippecanoe_spark.tile import _finalize_tile_dict, prepare_tile_pdf

        # -pt: with tiny reduction on, the reference's reduce_tiny_poly
        # deletes zero-NET-area rings outright (clip.cpp:1122-1126) before
        # the clean ever sees them — a bowtie's net area is zero, so the
        # positive-lobe repair is only observable with reduction off
        cfg = TilingConfig(buffer=0, maxzoom=0, simplification=0.0,
                           compress_tiles=False, tiny_polygon_size=0.0)
        # bowtie across tile 0/0/0 in world coords
        w = 1 << 28
        from tippecanoe_spark.features import pack_cmds

        cmds = pack_cmds([
            (1, 1 * w, 1 * w),
            (2, 9 * w, 9 * w),
            (2, 9 * w, 1 * w),
            (2, 1 * w, 9 * w),
            (7, 0, 0),
        ])
        pdf = pd.DataFrame(
            [{
                "tx": 0, "ty": 0, "feature_id": 1, "layer": "l",
                "geom_type": 3, "geometry": cmds, "attrs": {},
                "index": 0, "extent": 100, "seq": 0, "feature_minzoom": 0,
                "minx": w, "miny": w, "maxx": 9 * w, "maxy": 9 * w,
            }]
        )
        prepared = prepare_tile_pdf(pdf, 0, cfg)
        assert len(prepared) == 1
        out = _finalize_tile_dict(prepared, 0, cfg)
        layers = mvt.decode_tile(bytes(out["tile"]))
        geom = layers[0]["features"][0]["cmds"]
        # decoded polygon must be the single positive lobe (3 distinct
        # vertices), not the 4-vertex bowtie
        ring_pts = {(gx, gy) for op, gx, gy in geom if op in (1, 2)}
        assert len(ring_pts) == 3
