"""tippecanoe-compatible CLI over the Spark engine.

The subset of the reference's ~120 options that changes output semantics
(options.hpp:4-52; defaults main.cpp:72-86,3192-3200), mapped onto
:class:`TilingConfig`.  Run locally or via spark-submit:

    python -m tippecanoe_spark.cli -o out.mbtiles -z 6 -l mylayer in.geojson
    spark-submit --py-files tippecanoe_spark.zip -m tippecanoe_spark.cli ...

Inputs: .geojson/.json/.ndjson/.geojsonl (S1) and .csv (S6).  Outputs:
.mbtiles (SQLite), or a directory of z/x/y.pbf (dirtiles) when ``-o``
ends with ``/`` or ``--output-to-directory`` is given.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="tippecanoe-spark",
        description="Build a vector tileset from GeoJSON/CSV on Spark",
    )
    p.add_argument("files", nargs="+", help="input .geojson/.ndjson/.csv files")
    p.add_argument("-o", "--output", required=True, help="output .mbtiles or tile dir")
    p.add_argument("-e", "--output-to-directory", action="store_true")
    p.add_argument("-f", "--force", action="store_true", help="overwrite output")
    p.add_argument("-n", "--name", default=None, help="tileset name")
    p.add_argument("-l", "--layer", default=None, help="layer name (default: file stem)")
    p.add_argument(
        "-z", "--maximum-zoom", default="14",
        help="maximum zoom, or 'g' to guess from data statistics (-zg)",
    )
    p.add_argument("-Z", "--minimum-zoom", type=int, default=0)
    p.add_argument("-d", "--full-detail", type=int, default=12)
    p.add_argument("-b", "--buffer", type=int, default=5)
    p.add_argument("-r", "--drop-rate", type=float, default=2.5)
    p.add_argument("-B", "--base-zoom", type=int, default=-1)
    p.add_argument("-g", "--gamma", type=float, default=0.0)
    p.add_argument("-K", "--cluster-distance", type=int, default=0)
    p.add_argument("-M", "--maximum-tile-bytes", type=int, default=500_000)
    p.add_argument("-O", "--maximum-tile-features", type=int, default=200_000)
    p.add_argument("-S", "--simplification", type=float, default=1.0)
    p.add_argument("--drop-densest-as-needed", action="store_true")
    p.add_argument("--drop-smallest-as-needed", action="store_true")
    p.add_argument("--drop-fraction-as-needed", action="store_true")
    p.add_argument("--cluster-densest-as-needed", action="store_true")
    p.add_argument("--coalesce-densest-as-needed", action="store_true")
    p.add_argument("--coalesce-smallest-as-needed", action="store_true")
    p.add_argument("--drop-by-attribute-as-needed", default=None, metavar="NAME")
    p.add_argument("--drop-by-attribute-order", default="asc",
                   choices=("asc", "desc"))
    p.add_argument("-T", "--attribute-type", action="append", default=[],
                   metavar="NAME:TYPE", help="coerce attribute to type")
    p.add_argument("--maximum-string-attribute-length", type=int, default=0,
                   help="truncate string attribute values to this many bytes")
    p.add_argument("--set-attribute", action="append", default=[],
                   metavar="NAME:VALUE")
    p.add_argument("--use-attribute-for-id", default=None)
    p.add_argument("--clip-bounding-box", default=None, metavar="W,S,E,N")
    p.add_argument("--preserve-input-order", "-pi", dest="preserve_input_order",
                   action="store_true")
    p.add_argument("--reorder", "-ao", dest="reorder", action="store_true")
    p.add_argument("--coalesce", "-ac", dest="coalesce", action="store_true")
    p.add_argument("--grid-low-zooms", "-aL", dest="grid_low_zooms",
                   action="store_true")
    p.add_argument("--generate-variable-depth-tile-pyramid", "-at",
                   dest="variable_depth", action="store_true")
    p.add_argument("--detect-shared-borders", "-ab",
                   dest="shared_borders", action="store_true")
    p.add_argument("--retain-points-multiplier", type=int, default=1)
    p.add_argument("--order-by", default=None)
    p.add_argument("--order-descending-by", default=None)
    p.add_argument("--accumulate-attribute", action="append", default=[],
                   metavar="NAME:OP")
    p.add_argument("--no-feature-dropping", "-r1", dest="no_drop", action="store_true")
    p.add_argument("--no-tile-compression", action="store_true")
    p.add_argument("--no-tiny-polygon-reduction", action="store_true")
    p.add_argument("--preserve-shared-nodes", "-pn", dest="preserve_shared_nodes",
                   action="store_true")
    p.add_argument("-x", "--exclude", action="append", default=[])
    p.add_argument("-y", "--include", action="append", default=[])
    p.add_argument("-X", "--exclude-all", action="store_true")
    p.add_argument("-j", "--feature-filter", default=None,
                   help="JSON filter AST (evaluator.cpp dialect)")
    p.add_argument("--visvalingam", action="store_true")
    p.add_argument("--hilbert", "-ah", dest="hilbert", action="store_true")
    p.add_argument("--checkpoint-dir", default=None,
                   help="checkpoint dir: one parquet partition and manifest "
                        "per zoom; a re-run rebuilds only the zooms "
                        "without a manifest")
    p.add_argument("--cpus", type=int, default=None)
    return p


def config_from_args(args) -> "TilingConfig":
    from .config import TilingConfig

    mz = str(args.maximum_zoom)
    return TilingConfig(
        minzoom=args.minimum_zoom,
        maxzoom=-1 if mz == "g" else int(mz),
        full_detail=args.full_detail,
        low_detail=args.full_detail,
        buffer=args.buffer,
        droprate=args.drop_rate,
        basezoom=args.base_zoom,
        gamma=args.gamma,
        cluster_distance=args.cluster_distance,
        max_tile_size=args.maximum_tile_bytes,
        max_tile_features=args.maximum_tile_features,
        simplification=args.simplification,
        visvalingam=args.visvalingam,
        drop_densest_as_needed=args.drop_densest_as_needed,
        drop_smallest_as_needed=args.drop_smallest_as_needed,
        drop_fraction_as_needed=args.drop_fraction_as_needed,
        cluster_densest_as_needed=args.cluster_densest_as_needed,
        coalesce_densest_as_needed=args.coalesce_densest_as_needed,
        coalesce_smallest_as_needed=args.coalesce_smallest_as_needed,
        drop_by_attribute=args.drop_by_attribute_as_needed,
        drop_by_attribute_descending=args.drop_by_attribute_order == "desc",
        attribute_types=dict(
            s.split(":", 1) for s in args.attribute_type
        ),
        set_attributes=dict(
            s.split(":", 1) for s in args.set_attribute
        ),
        use_attribute_for_id=args.use_attribute_for_id,
        max_string_attribute_length=args.maximum_string_attribute_length,
        clip_bounding_box=(
            tuple(float(v) for v in args.clip_bounding_box.split(","))
            if args.clip_bounding_box
            else None
        ),
        preserve_input_order=args.preserve_input_order,
        reorder_features=args.reorder,
        coalesce_features=args.coalesce,
        grid_low_zooms=args.grid_low_zooms,
        variable_depth_pyramid=args.variable_depth,
        detect_shared_borders=args.shared_borders,
        retain_points_multiplier=args.retain_points_multiplier,
        order_by=args.order_descending_by or args.order_by,
        order_descending=args.order_descending_by is not None,
        accumulate_attrs=dict(
            s.split(":", 1) for s in args.accumulate_attribute
        ),
        no_feature_dropping=args.no_drop,
        compress_tiles=not args.no_tile_compression,
        tiny_polygon_size=0.0 if args.no_tiny_polygon_reduction else 2.0,
        include_attrs=tuple(args.include),
        exclude_attrs=tuple(args.exclude),
        exclude_all_attrs=args.exclude_all,
        curve="hilbert" if args.hilbert else "quadkey",
        preserve_shared_nodes=args.preserve_shared_nodes,
    )


def layer_name_from_path(path: str, index: int) -> str:
    """Default layer name from an input filename (main.cpp:1368-1409):
    basename, known extensions trimmed repeatedly, then only selector-safe
    characters kept (alnum, underscore, and any non-ASCII byte); an empty
    result falls back to ``unknown<N>`` (the reference also falls back on
    invalid UTF-8, which a decoded Python ``str`` cannot carry)."""
    base = os.path.basename(path.rstrip("/"))
    trim = (".json", ".geojson", ".geobuf", ".mbtiles",
            ".pmtiles", ".csv", ".gz", ".fgb")
    again = True
    while again:
        again = False
        for t in trim:
            if len(base) > len(t) and base.endswith(t):
                base = base[: -len(t)]
                again = True
    out = "".join(
        c for c in base
        if c.isascii() and (c.isalnum() or c == "_") or not c.isascii()
    )
    if not out:
        return f"unknown{index}"
    return out


def read_inputs(spark, files: list[str], layer: str | None, cfg=None):
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from .sources.geocsv import read_geocsv
    from .sources.geojson import read_geojson

    dfs: list[DataFrame] = []
    for i, f in enumerate(files):
        lname = layer or layer_name_from_path(f, i)
        if f.lower().endswith(".csv"):
            d = read_geocsv(spark, f, layer=lname)
        elif f.lower().endswith(".fgb"):
            from .sources.flatgeobuf import read_flatgeobuf

            d = read_flatgeobuf(spark, f, layer=lname, cfg=cfg)
        else:
            # cfg carries the geometry_scale quantization the parity path
            # depends on (serial.cpp:30-31)
            d = read_geojson(spark, f, layer=lname, cfg=cfg)
        if i > 0:
            # the reference reads files sequentially, so seq keeps
            # increasing across them; per-reader seq values collide
            # across files otherwise (and equal seq within a layer is
            # the dateline-twin fold key — colliding features silently
            # merge).  The file index rides the high bits so ordering
            # stays file-sequential like the reference's.
            d = d.withColumn("seq", F.col("seq") + F.lit(i << 45))
        dfs.append(d)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    import json as _json

    from pyspark.sql import functions as F

    from . import pyramid, sinks
    from .filters import compile_filter
    from .session import get_spark

    from pyspark.sql import SparkSession

    cfg = config_from_args(args)
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(
        app="tippecanoe-spark",
        master=f"local[{args.cpus}]" if args.cpus else None,
    )
    spark.sparkContext.setLogLevel("ERROR")

    feats = read_inputs(spark, args.files, args.layer, cfg=cfg)
    if args.feature_filter:
        from .filters import apply_attribute_filters

        ast = _json.loads(args.feature_filter)
        feats = apply_attribute_filters(
            feats.filter(compile_filter(ast)), ast
        )

    if cfg.maxzoom < 0 or cfg.basezoom == -2 or cfg.droprate < 0:
        # statistics planner: -zg maxzoom / basezoom / droprate guessing
        # (main.cpp:2279-2670)
        from .plan import resolve_plan

        cfg = resolve_plan(feats, cfg)
        print(
            f"plan: maxzoom={cfg.maxzoom} basezoom={cfg.basezoom} "
            f"droprate={cfg.droprate}",
            file=sys.stderr,
        )

    is_dir = args.output_to_directory or args.output.endswith("/")
    if os.path.exists(args.output.rstrip("/")):
        if not args.force:
            print(f"{args.output}: already exists (use -f to overwrite)", file=sys.stderr)
            return 1
        if not is_dir:
            os.remove(args.output)

    ckpt = args.checkpoint_dir or tempfile.mkdtemp(prefix="tiles_")
    manifests = pyramid.build_pyramid(spark, feats, cfg, out_dir=ckpt)
    tiles_df = pyramid.read_tiles(spark, ckpt, range(cfg.minzoom, cfg.maxzoom + 1))
    name = args.name or os.path.splitext(os.path.basename(args.output.rstrip("/")))[0]
    # the build's histogram pass records the input bounds in every
    # manifest; checkpoints written without them need the input scan
    bounds = next(
        (tuple(m["bounds"]) for m in manifests if "bounds" in m), None
    ) or sinks.bounds_from_features(feats)
    # streaming export: one pass over the tiles relation, no driver-side
    # collect of every blob (a z14 build can hold 10^6 tiles)
    if is_dir:
        n = sinks.export_dirtiles_streaming(
            args.output.rstrip("/"), tiles_df, name, cfg.minzoom, cfg.maxzoom, bounds
        )
    else:
        n = sinks.export_mbtiles_streaming(
            args.output, tiles_df, name, cfg.minzoom, cfg.maxzoom, bounds
        )
    total_feat = sum(m["n_features_out"] for m in manifests)
    print(
        f"wrote {n} tiles ({total_feat} features, z{cfg.minzoom}-z{cfg.maxzoom}) "
        f"to {args.output}",
        file=sys.stderr,
    )
    if not preexisting:  # don't tear down a session we joined
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
