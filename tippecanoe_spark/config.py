"""Tiling configuration — the DataFrame-pipeline analog of tippecanoe's
~120 CLI options (reference: options.hpp:4-52, defaults main.cpp:72-86,
3192-3200).  Only the options that change query semantics are modeled;
execution knobs (thread counts, temp files) are Spark's concern.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class TilingConfig:
    # zoom range (reference defaults: maxzoom 14, main.cpp:3192-3200)
    minzoom: int = 0
    maxzoom: int = 14
    # tile grid resolution: full_detail bits => 2**detail grid (main.cpp:72)
    full_detail: int = 12
    # --extra-detail: extent override at maxzoom only (tile.cpp:2276-2283
    # clamps to 30-z); forces geometry_scale 0 (main.cpp:3764)
    extra_detail: int = -1
    low_detail: int = 12
    min_detail: int = 7
    # buffer around tiles, in 1/256ths of the tile width (main.cpp:74)
    buffer: int = 5
    # point drop rate between zooms (main.cpp:73 "droprate 2.5")
    droprate: float = 2.5
    # zoom at which all points are kept; -1 = maxzoom (main.cpp:3718)
    basezoom: int = -1
    # gamma: micro-duplicate thinning exponent (tile.cpp:720-750); 0 = off
    gamma: float = 0.0
    # budgets that drive the as-needed drop loops (main.cpp:85-86)
    max_tile_size: int = 500_000
    max_tile_features: int = 200_000
    # simplification tolerance multiplier (1.0 = within one tile pixel)
    simplification: float = 1.0
    # -ps / --no-line-simplification (P_SIMPLIFY): never simplify
    no_line_simplification: bool = False
    # -pS / --simplify-only-low-zooms (P_SIMPLIFY_LOW): keep maxzoom
    # geometry unsimplified; the reference DEFAULT simplifies at every
    # zoom including maxzoom (tile.cpp:612)
    simplify_only_low_zooms: bool = False
    # Visvalingam instead of Douglas-Peucker (-av)
    visvalingam: bool = False
    # cluster distance in tile-pixels-at-z (tile.cpp:1993-2050); 0 = off
    cluster_distance: int = 0
    # drop/coalesce strategies ("additional" flags, options.hpp)
    drop_densest_as_needed: bool = False
    drop_smallest_as_needed: bool = False
    drop_fraction_as_needed: bool = False
    coalesce_densest_as_needed: bool = False
    coalesce_smallest_as_needed: bool = False
    cluster_densest_as_needed: bool = False
    # feature limit truncation (tile.cpp:2595-2611); 0 = off
    limit_tile_feature_count: int = 0
    # attribute handling (serial.cpp:785-876)
    include_attrs: tuple[str, ...] = ()
    exclude_attrs: tuple[str, ...] = ()
    exclude_all_attrs: bool = False
    # accumulate-attribute ops: name -> one of sum/product/mean/max/min/count/concat/comma
    accumulate_attrs: dict[str, str] = field(default_factory=dict)
    # -T name:type coercion (string|float|int|bool), coerce_value
    # serial.cpp:924-958
    attribute_types: dict[str, str] = field(default_factory=dict)
    # --set-attribute name:value — added/overwritten on every feature
    set_attributes: dict[str, str] = field(default_factory=dict)
    # --smallest-maximum-zoom-guess N: floor for the -zg guess
    # (main.cpp:3275-3280, applied at main.cpp:2461-2466)
    min_maxzoom: int = 0
    # --maximum-string-attribute-length: string-typed attribute values
    # longer than this many bytes are truncated at a UTF-8 boundary at
    # serialization (serial.cpp:871-875, text.cpp truncate_string); 0 = off
    max_string_attribute_length: int = 0
    # per-tile user hooks — the prefilter/postfilter plugin stage
    # (plugin.cpp:376-520, tile.cpp:1806-1862) as in-process callables
    # instead of GeoJSON-pipe executables (no shell escape; the hook is
    # cloudpickled to the executors).  Each takes and returns a pandas
    # DataFrame of the tile's feature rows:
    #   prefilter  — raw group rows (world packed geometry) before
    #                clip/scale/simplify; may drop/mutate/add rows
    #   postfilter — prepared rows (tile-local geometry) after
    #                clip/scale/simplify, before the drop machinery and
    #                MVT encode (the reference pipes the tile's features
    #                at the same pre-encode point)
    prefilter: object | None = None
    postfilter: object | None = None
    # zoom-global threshold parity mode (tile.cpp:3506-3571): when True
    # the kernel seeds its drop thresholds from ``seed_thresholds`` =
    # (mingap, minextent, mindrop_sequence, minattribute), reports each
    # tile's FINAL thresholds, and pyramid.build_zoom_global_retry
    # re-runs the whole zoom with the max-reduced values until no tile
    # escalates — the reference's erase-and-rerun semantics, where ALL
    # tiles of a zoom share the raised threshold.  Default off: the
    # scale-motivated per-tile escalation (see module docstring).
    global_threshold_retry: bool = False
    seed_thresholds: tuple = ()
    # --use-attribute-for-id: feature id from this (numeric) attribute,
    # which is then removed (serial.cpp:813-848)
    use_attribute_for_id: str | None = None
    # --clip-bounding-box w,s,e,n (lon/lat): clip every feature at ingest
    # (P6, serial.cpp:467-500); None = off
    clip_bounding_box: tuple[float, float, float, float] | None = None
    # -pi: order features within tiles by input sequence (tile.cpp:2583-2587)
    preserve_input_order: bool = False
    # -ao: reorder features by geometry start + attrs so identical ones
    # are adjacent (reorder_lines geometry.cpp:315-359, coalcmp)
    reorder_features: bool = False
    # -ac: coalesce adjacent features with identical attrs into one
    # multi-geometry (tile.cpp:2520-2546); implies -ao
    coalesce_features: bool = False
    # -aL: rasterize lines/rings to axis-aligned pixel steps at z <
    # maxzoom instead of simplifying (stairstep, geometry.cpp:438-522)
    grid_low_zooms: bool = False
    # --drop-by-attribute-as-needed=NAME (T14, tile.cpp:2110-2144):
    # escalate a numeric-attribute threshold instead of gap/extent;
    # descending inverts the comparison (--drop-by-attribute-order=desc)
    drop_by_attribute: str | None = None
    drop_by_attribute_descending: bool = False
    # --retain-points-multiplier N (T16): keep up to N-1 rate-dropped
    # followers per kept lead feature, tagging leads with
    # tippecanoe:retain_points_multiplier_first (tile.cpp:1123,
    # 1304-1311, 2237-2241); 1 = off
    retain_points_multiplier: int = 1
    # -ab / --detect-shared-borders (options.hpp:15): polygons skip
    # per-feature simplification (tile.cpp:627-630 already_marked) and
    # the tile's surviving polygons are decomposed into shared arcs
    # simplified once (shared_borders.cpp:86-575) so adjacent polygons
    # keep identical borders
    detect_shared_borders: bool = False
    # -pw / --use-source-polygon-winding: trust the source winding
    # (every ring reversed — GeoJSON winding is opposite vector winding);
    # -pW / --reverse-source-polygon-winding: keep rings exactly as read
    # (fix_polygon use_winding/reverse_winding, clip.cpp:1802-1810)
    use_source_polygon_winding: bool = False
    reverse_source_polygon_winding: bool = False
    # -s / --projection: input SRS (projection.cpp:74-94 EPSG:3857
    # linear meters; default EPSG:4326 lon/lat)
    projection: str = "EPSG:4326"
    # -aw / --detect-longitude-wraparound: unwrap lines whose consecutive
    # vertices jump more than 180 deg (scale_geometry, serial.cpp:314-336)
    detect_longitude_wraparound: bool = False
    # -at / --generate-variable-depth-tile-pyramid (options.hpp:28):
    # tiles that fit losslessly at detail 30-z become pyramid leaves and
    # their descendant subtrees are pruned (tile.cpp:1701-1713,
    # 3055-3066); see vardepth.py
    variable_depth_pyramid: bool = False
    # internal flag for the vardepth confirm pass: encode candidate
    # leaves at detail 30-z with every drop stage required to be a no-op;
    # never set by users
    vardepth_confirm: bool = False

    def full_stream_admission(self) -> bool:
        """Whether EVERY feature must stream through every tile of every
        zoom (sub-minzoom rows included; the kernel's count machine then
        drops them in-stream).  Needed when per-tile stream state depends
        on the dropped rows: -E attribute accumulation, and the
        point-extent spacing chain that drop/coalesce-smallest consults
        (extent_previndex, tile.cpp:1897-1909)."""
        return (
            bool(self.accumulate_attrs)
            or self.drop_smallest_as_needed
            or self.coalesce_smallest_as_needed
        )

    def multiplier_extra_zooms(self) -> float:
        """log(multiplier)/log(droprate) — how many zooms early a
        follower becomes a multiplier candidate (tile.cpp:1123)."""
        import math

        if self.retain_points_multiplier <= 1 or self.droprate <= 1:
            return 0.0
        return math.log(self.retain_points_multiplier) / math.log(self.droprate)
    # space-filling curve for the global order ("quadkey" default; "hilbert" = -ah,
    # main.cpp:3682-3688)
    curve: str = "quadkey"
    # order within tiles: None | "seq" (-pi) | attribute name; descending flag
    order_by: str | None = None
    order_descending: bool = False
    # keep every feature regardless of rate dropping (-r1 analog)
    no_feature_dropping: bool = False
    # tiny-polygon reduction threshold in tile pixels (-pt sets 0 = off;
    # reduce_tiny_poly, clip.cpp:1048-1140)
    tiny_polygon_size: float = 2.0
    # -pT / --no-tiny-polygon-reduction-at-maximum-zoom: reduction runs
    # below maxzoom but full detail is preserved at maxzoom
    # (prevent[P_TINY_POLYGON_REDUCTION_AT_MAXZOOM], tile.cpp:2163-2166)
    tiny_polygon_reduction_at_maxzoom: bool = True
    # -ag: add tippecanoe_feature_density attr from curve-gap spacing
    # (tile.cpp:2147-2157,2656-2675)
    calculate_feature_density: bool = False
    # -pn: preserve shared nodes — vertices used by 2+ distinct neighbor
    # pairs become unsimplifiable (serial.cpp:507-599, main.cpp:2015-2169)
    preserve_shared_nodes: bool = False
    # the first feature (index order) in each tile is always kept even
    # below its rate-drop minzoom (tile.cpp:1290-1301) — reference default
    keep_first_per_tile: bool = True
    # gzip the encoded tiles (-pC disables; compression.cpp)
    compress_tiles: bool = True
    # polygon clean/union under the positive fill rule, applied per tile
    # like coalesce_polygon → clean_or_clip_poly (tile.cpp:691,
    # clip.cpp:260-388).  The reference has no off switch; the flag
    # exists for tests and A/B benches.
    clean_polygons: bool = True
    # dense-tile report threshold (ours): a build counts, per zoom, the
    # tiles whose coarse histogram count exceeds this (the manifest's
    # ``hot_tiles_split``).  Reported only: every tile is built whole by
    # one kernel call, as the reference builds one tile in one thread.
    max_features_per_task: int = 200_000
    # subtree fan-out depth for the fused pyramid (ours, SURVEY §7.6):
    # the deepest `subtree_depth` zooms ship ONE shuffle row per
    # (feature, root tile at zoom maxzoom - subtree_depth) instead of one
    # per (feature, zoom, tile); the tile kernel expands each root group
    # to its descendant tiles in-memory.  Deep-zoom tile fan-out grows 4×
    # per zoom, so this cuts shuffle/Arrow/sort volume ~4^depth on the
    # deep zooms that dominate row count — the same recursive split the
    # reference gets from rewriting parent tiles into child shards
    # (tile.cpp:443-534), expressed as a two-level Spark partitioning.
    # 0 disables (per-(zoom,tile) rows everywhere).
    subtree_depth: int = 3

    def __post_init__(self):
        # zoom/detail normalization (main.cpp:3723-3756): maxzoom caps at
        # MAX_ZOOM (24, main.hpp:77); when zoom + detail would exceed the
        # 32-bit world grid the DETAIL drops, not the zoom ("This
        # previously dropped the maxzoom ... which proved to be annoying")
        if self.maxzoom > 24:
            self.maxzoom = 24
        if self.maxzoom > 32 - self.full_detail:
            self.full_detail = 32 - self.maxzoom
        if self.maxzoom > 33 - self.low_detail:
            self.low_detail = 33 - self.maxzoom
        self.min_detail = min(self.min_detail, self.full_detail, self.low_detail)
        # the reference exits on -Z > -z (main.cpp:3743-3746); clamp instead
        if self.minzoom > self.maxzoom:
            self.minzoom = self.maxzoom

    def detail_at(self, z: int) -> int:
        """Grid bits for zoom z (full detail at maxzoom, low_detail below —
        reference: main.cpp:72-74 semantics; --extra-detail overrides at
        maxzoom, clamped to 30-z, tile.cpp:2276-2283)."""
        if z == self.maxzoom and self.extra_detail >= 0:
            return min(self.extra_detail, 30 - z)
        return self.full_detail if z == self.maxzoom else self.low_detail

    def tiny_reduction_on(self, z: int) -> bool:
        """prevent_tiny gate (tile.cpp:2163-2166): -pt (size 0) kills
        tiny-polygon reduction everywhere, -pT only at maxzoom, and -aL
        replaces it with stairstepping."""
        return (
            self.tiny_polygon_size > 0
            and not self.grid_low_zooms
            and (self.tiny_polygon_reduction_at_maxzoom or z != self.maxzoom)
        )

    def simplify_at(self, z: int) -> bool:
        """Per-zoom simplification gate (tile.cpp:612): DP/Visvalingam
        runs at EVERY zoom, maxzoom included, unless -ps, -pS at
        maxzoom, or -aL below maxzoom (where stairstep replaces it)."""
        return (
            self.simplification > 0
            and not self.no_line_simplification
            and not (z == self.maxzoom and self.simplify_only_low_zooms)
            and not (z < self.maxzoom and self.grid_low_zooms)
        )

    def extent_at(self, z: int) -> int:
        return 1 << self.detail_at(z)

    @property
    def gscale(self) -> int:
        """geometry_scale (main.cpp:3762-3776): serialized coordinates
        live on a 2^gscale world grid (the pixel grid at maxzoom); 0
        under -pn (shared-node equality needs raw coordinates) and under
        --extra-detail (main.cpp:3764 zeroes geometry_scale)."""
        if self.preserve_shared_nodes or self.extra_detail >= 0:
            return 0
        if self.maxzoom < 0:
            # -zg: the reference reads at maxzoom = MAX_ZOOM, which
            # clamps geometry_scale to 0 (main.cpp:3276,3767-3769)
            return 0
        return max(32 - (self.full_detail + self.maxzoom), 0)

    def resolved_basezoom(self) -> int:
        return self.maxzoom if self.basezoom < 0 else self.basezoom
