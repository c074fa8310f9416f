"""tippecanoe_spark — a from-scratch PySpark-native vector-tileset engine.

Re-expresses the capabilities of felt/tippecanoe (reference snapshot at
/root/reference, studied for semantics only) as idiomatic PySpark:
DataFrame/SQL stages, Arrow-vectorized pandas UDFs for geometry kernels,
explicit partitioning for the tile pyramid, and parquet/sqlite sinks.

Subpackages
-----------
- ``proj``      world-coordinate projection + space-filling curves (§2.2 P1-P4)
- ``cells``     S2 cell ids and hex binning (north-rule H3/S2 indexing)
- ``synth``     deterministic synthetic webpages/boundaries tables (FIXTURES.md)
- ``geocode``   webtext → geo features (Arrow UDFs)
- ``features``  canonical feature schema + serialize stage (SURVEY §1.4)
- ``minzoom``   global curve-order + feature_minzoom stamping (T8)
- ``geom``      clip / simplify / polygon kernels (numpy, §2.4)
- ``mvt``       Mapbox Vector Tile protobuf encoder/decoder (E1-E3)
- ``tile``      mapInPandas stream kernel over sorted tile groups (write_tile analog)
- ``pyramid``   one-build driver, zoom-partitioned checkpoints (§3.1)
- ``joins``     PIP / kNN spatial joins, tile-join, CSV attribute join (§2.6)
- ``sinks``     tiles table, mbtiles/dirtiles export (S7-S9)
"""

__version__ = "0.1.0"
