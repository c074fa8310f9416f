"""Tile sinks: mbtiles (SQLite), dirtiles (z/x/y.pbf), tileset metadata.

The cluster-native sink is the parquet/Iceberg tiles table written per
zoom by :mod:`tippecanoe_spark.pyramid` (SURVEY §1.4: ``(z,x,y,tile)``).
mbtiles / dirtiles are *export* steps run driver-side over that table —
the same split the reference's SQLite writer implies (mbtiles.cpp:50-85
takes a lock per insert; a distributed writer would serialize there
anyway).

mbtiles specifics mirrored from the reference (mbtiles.cpp):
- ``map``/``images`` split with content-addressed tile dedup
  (mbtiles_write_tile semantics) — identical tile bytes stored once;
- TMS y-flip (row = 2^z - 1 - y);
- ``metadata`` table with name/format/bounds/center/zoom rows and the
  ``json`` blob carrying vector_layers + tilestats (E5, T35).
"""

from __future__ import annotations

import hashlib
import json
import os
import sqlite3
from collections import Counter

from pyspark.sql import DataFrame

from . import mvt
from .proj import world_to_lonlat
from .text import truncate16


def tilestats(tiles_rows) -> dict:
    """Per-layer per-attribute type/value histograms (T35,
    mbtiles.cpp:206-300) with the reference's caps: 1000 attributes,
    100 values per attribute."""
    return _observed(tiles_rows).tilestats()


def make_metadata(
    name: str,
    tiles_rows,
    minzoom: int,
    maxzoom: int,
    bounds: tuple[float, float, float, float] | None = None,
) -> dict:
    """name/format/bounds/center/zooms + json(vector_layers, tilestats)
    (make_metadata, mbtiles.cpp:668+; bounds logic main.cpp:2795-2829)."""
    return _observed(tiles_rows).metadata(name, minzoom, maxzoom, bounds)


def _observed(tiles_rows) -> StatsObserver:
    obs = StatsObserver()
    for row in tiles_rows:
        obs.observe(row)
    return obs


def bounds_from_features(features: DataFrame) -> tuple[float, float, float, float]:
    from pyspark.sql import functions as F

    row = features.agg(
        F.min("minx").alias("minx"), F.min("miny").alias("miny"),
        F.max("maxx").alias("maxx"), F.max("maxy").alias("maxy"),
    ).collect()[0]
    if row["minx"] is None:
        return lonlat_bounds()
    return lonlat_bounds(row["minx"], row["miny"], row["maxx"], row["maxy"])


def lonlat_bounds(*world: int) -> tuple[float, float, float, float]:
    """(west, south, east, north) of a world bbox ``minx, miny, maxx,
    maxy``; the whole Mercator world when none is given."""
    if not world:
        return (-180.0, -85.05112877980659, 180.0, 85.05112877980659)
    import numpy as np

    minx, miny, maxx, maxy = world
    lon0, lat1 = world_to_lonlat(np.array([minx]), np.array([miny]))
    lon1, lat0 = world_to_lonlat(np.array([maxx]), np.array([maxy]))
    return (float(lon0[0]), float(lat0[0]), float(lon1[0]), float(lat1[0]))


def write_mbtiles(
    path: str,
    tiles_rows,
    metadata: dict,
    allow_existing: bool = False,
) -> int:
    """Driver-side mbtiles export with content-addressed dedup.  Returns
    the number of tile rows written.

    ``allow_existing`` is tippecanoe's -F/--allow-existing: append into
    an existing archive instead of replacing it (same-coordinate tiles
    are overwritten, existing metadata keys keep their OLD values — the
    reference's allow-existing golden records minzoom 8/maxzoom 9 even
    though the -F run added z10-11 tiles, main.cpp allow-existing
    path)."""
    exists = os.path.exists(path)
    if exists and not allow_existing:
        os.remove(path)
        exists = False
    con = sqlite3.connect(path)
    cur = con.cursor()
    if not exists:
        cur.execute("CREATE TABLE metadata (name text, value text)")
        cur.execute(
            "CREATE TABLE map (zoom_level integer, tile_column integer,"
            " tile_row integer, tile_id text)"
        )
        cur.execute("CREATE TABLE images (tile_id text, tile_data blob)")
    else:
        metadata = {
            k: v
            for k, v in metadata.items()
            if cur.execute(
                "SELECT count(*) FROM metadata WHERE name = ?", (k,)
            ).fetchone()[0] == 0
        }
        cur.execute("DROP VIEW IF EXISTS tiles")
        cur.execute("DROP INDEX IF EXISTS map_index")
    n = 0
    seen: set[str] = set()
    if exists:
        seen.update(t for (t,) in cur.execute("SELECT tile_id FROM images"))
    for row in tiles_rows:
        data = bytes(row["tile"])
        tid = hashlib.sha256(data).hexdigest()[:24]
        if tid not in seen:
            seen.add(tid)
            cur.execute("INSERT INTO images VALUES (?, ?)", (tid, data))
        flipped = (1 << row["z"]) - 1 - row["y"]
        if exists:
            cur.execute(
                "DELETE FROM map WHERE zoom_level = ? AND tile_column = ?"
                " AND tile_row = ?",
                (row["z"], row["x"], flipped),
            )
        cur.execute(
            "INSERT INTO map VALUES (?, ?, ?, ?)", (row["z"], row["x"], flipped, tid)
        )
        n += 1
    for k, v in metadata.items():
        cur.execute("INSERT INTO metadata VALUES (?, ?)", (k, str(v)))
    cur.execute(
        "CREATE VIEW tiles AS SELECT map.zoom_level, map.tile_column,"
        " map.tile_row, images.tile_data FROM map JOIN images"
        " ON images.tile_id = map.tile_id"
    )
    cur.execute(
        "CREATE UNIQUE INDEX map_index ON map (zoom_level, tile_column, tile_row)"
    )
    con.commit()
    con.close()
    return n


def read_mbtiles(path: str) -> list[dict]:
    """tiles view → [{z,x,y,tile}] with the y-flip undone (S10 role)."""
    con = sqlite3.connect(path)
    rows = []
    for z, x, row_y, data in con.execute(
        "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles"
    ):
        rows.append({"z": z, "x": x, "y": (1 << z) - 1 - row_y, "tile": data})
    con.close()
    return rows


def write_dirtiles(out_dir: str, tiles_rows, metadata: dict) -> int:
    """z/x/y.pbf layout + metadata.json (dirtiles.cpp role).  metadata is
    written even for an empty tileset (the reference creates
    metadata.json when every feature clips away, Makefile:260-263)."""
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    for row in tiles_rows:
        d = os.path.join(out_dir, str(row["z"]), str(row["x"]))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{row['y']}.pbf"), "wb") as fh:
            fh.write(bytes(row["tile"]))
        n += 1
    with open(os.path.join(out_dir, "metadata.json"), "w") as fh:
        json.dump(metadata, fh, indent=2)
    return n


def enumerate_tiles(tiles: DataFrame) -> DataFrame:
    """S11: list z/x/y present."""
    return tiles.select("z", "x", "y").orderBy("z", "x", "y")


class _SmallestKeys:
    """The ``limit`` smallest keys offered, each with a value made by
    ``make``.  Which keys are kept does not depend on the order they are
    offered in: once full, a key enters only by evicting the largest, and
    an evicted key is larger than every key kept after it, so it never
    comes back."""

    def __init__(self, limit: int, make=lambda: True) -> None:
        self.kept: dict = {}
        self.limit = limit
        self.make = make
        self.top = None  # largest kept key, tracked once full

    def offer(self, key):
        """The value kept for ``key``, or None if ``key`` is not among
        the ``limit`` smallest."""
        items = self.kept
        if key in items:
            return items[key]
        if len(items) >= self.limit:
            if key > self.top:
                return None
            del items[self.top]
        val = items[key] = self.make()
        if len(items) >= self.limit:
            self.top = max(items)
        return val


class StatsObserver:
    """Single-pass tilestats + vector_layers accumulator so exports can
    stream tiles via ``toLocalIterator()`` instead of holding every blob
    in driver memory (a z14 build has 10⁵-10⁶ tiles; collect() is a
    driver OOM at scale).  The metadata does not depend on the order the
    tiles arrive in: a field's type comes from the set of types seen,
    each layer keeps its 1000 smallest attribute names and each attribute
    its 100 smallest values (by JSON key)."""

    def __init__(self) -> None:
        self._stats_layers: dict[str, dict] = {}
        self._layer_types: dict[str, dict[str, set]] = {}

    def observe(self, row) -> None:
        for layer in mvt.decode_tile(bytes(row["tile"])):
            lname = truncate16(layer["name"], 256)  # mbtiles.cpp:851
            st = self._stats_layers.setdefault(
                lname,
                {
                    "count": 0, "geometry": Counter(),
                    "attribs": _SmallestKeys(1000, lambda: _SmallestKeys(100)),
                },
            )
            types = self._layer_types.setdefault(lname, {})
            for feat in layer["features"]:
                st["count"] += 1
                st["geometry"][feat["type"]] += 1
                for k, v in feat["attrs"].items():
                    k = truncate16(k, 256)  # mbtiles.cpp:871
                    if isinstance(v, str):
                        v = truncate16(v, 256)  # mbtiles.cpp:330
                    types.setdefault(k, set()).add(
                        "Boolean" if isinstance(v, bool)
                        else "Number" if isinstance(v, (int, float))
                        else "String"
                    )
                    vals = st["attribs"].offer(k)
                    if vals is not None:
                        vals.offer(json.dumps(v, default=str))

    def tilestats(self) -> dict:
        geom_names = {1: "Point", 2: "LineString", 3: "Polygon"}
        out_layers = []
        for lname, st in sorted(self._stats_layers.items()):
            attrs = []
            for k, vals in sorted(st["attribs"].kept.items()):
                parsed = [json.loads(s) for s in sorted(vals.kept)]
                types = {
                    "string" if isinstance(p, str)
                    else "boolean" if isinstance(p, bool)
                    else "number"
                    for p in parsed
                }
                attrs.append(
                    {
                        "attribute": k,
                        "count": len(parsed),
                        "type": sorted(types)[0] if len(types) == 1 else "mixed",
                        "values": parsed,
                    }
                )
            # ties go to the simpler geometry, as in _tilestats_json
            geom = st["geometry"]
            dominant = min(geom, key=lambda t: (-geom[t], t)) if geom else 1
            out_layers.append(
                {
                    "layer": lname,
                    "count": st["count"],
                    "geometry": geom_names.get(dominant, "Unknown"),
                    "attributeCount": len(attrs),
                    "attributes": attrs,
                }
            )
        return {"layerCount": len(out_layers), "layers": out_layers}

    def metadata(
        self,
        name: str,
        minzoom: int,
        maxzoom: int,
        bounds: tuple[float, float, float, float] | None = None,
    ) -> dict:
        vector_layers = [
            {
                "id": lname,
                "description": "",
                "minzoom": minzoom,
                "maxzoom": maxzoom,
                "fields": {
                    k: next(iter(ts)) if len(ts) == 1 else "Mixed"
                    for k, ts in sorted(fields.items())
                },
            }
            for lname, fields in sorted(self._layer_types.items())
        ]
        if bounds is None:
            bounds = (-180.0, -85.05112877980659, 180.0, 85.05112877980659)
        w, s, e, n = bounds
        return {
            "name": name,
            "format": "pbf",
            "type": "overlay",
            "version": "2",
            "minzoom": str(minzoom),
            "maxzoom": str(maxzoom),
            "bounds": f"{w},{s},{e},{n}",
            "center": f"{(w + e) / 2},{(s + n) / 2},{maxzoom}",
            "json": json.dumps(
                {"vector_layers": vector_layers, "tilestats": self.tilestats()}
            ),
        }


def export_mbtiles_streaming(
    path: str,
    tiles_df: DataFrame,
    name: str,
    minzoom: int,
    maxzoom: int,
    bounds: tuple[float, float, float, float] | None = None,
) -> int:
    """One streaming pass over the distributed tiles relation: insert each
    tile into SQLite and fold it into the stats accumulator, never holding
    more than one Arrow batch of blobs in driver memory (sqlite is
    single-writer, so driver-side is the right place; collect() is not)."""
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.execute("CREATE TABLE metadata (name text, value text)")
    cur.execute(
        "CREATE TABLE map (zoom_level integer, tile_column integer,"
        " tile_row integer, tile_id text)"
    )
    cur.execute("CREATE TABLE images (tile_id text, tile_data blob)")
    obs = StatsObserver()
    n = 0
    seen: set[str] = set()
    for row in tiles_df.select("z", "x", "y", "tile").toLocalIterator(
        prefetchPartitions=True
    ):
        data = bytes(row["tile"])
        tid = hashlib.sha256(data).hexdigest()[:24]
        if tid not in seen:
            seen.add(tid)
            cur.execute("INSERT INTO images VALUES (?, ?)", (tid, data))
        flipped = (1 << row["z"]) - 1 - row["y"]
        cur.execute(
            "INSERT INTO map VALUES (?, ?, ?, ?)", (row["z"], row["x"], flipped, tid)
        )
        obs.observe(row)
        n += 1
    for k, v in obs.metadata(name, minzoom, maxzoom, bounds).items():
        cur.execute("INSERT INTO metadata VALUES (?, ?)", (k, str(v)))
    cur.execute(
        "CREATE VIEW tiles AS SELECT map.zoom_level, map.tile_column,"
        " map.tile_row, images.tile_data FROM map JOIN images"
        " ON images.tile_id = map.tile_id"
    )
    cur.execute(
        "CREATE UNIQUE INDEX map_index ON map (zoom_level, tile_column, tile_row)"
    )
    con.commit()
    con.close()
    return n


def export_dirtiles_streaming(
    out_dir: str,
    tiles_df: DataFrame,
    name: str,
    minzoom: int,
    maxzoom: int,
    bounds: tuple[float, float, float, float] | None = None,
) -> int:
    """Streaming z/x/y.pbf export (same one-pass contract)."""
    obs = StatsObserver()
    n = 0
    for row in tiles_df.select("z", "x", "y", "tile").toLocalIterator(
        prefetchPartitions=True
    ):
        d = os.path.join(out_dir, str(row["z"]), str(row["x"]))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{row['y']}.pbf"), "wb") as fh:
            fh.write(bytes(row["tile"]))
        obs.observe(row)
        n += 1
    with open(os.path.join(out_dir, "metadata.json"), "w") as fh:
        json.dump(obs.metadata(name, minzoom, maxzoom, bounds), fh, indent=2)
    return n


# ---------------------------------------------------------------------------
# PMTiles v3 (S9) — single-archive clustered format, public spec
# (github.com/protomaps/PMTiles/blob/main/spec/v3); the reference's writer
# is pmtiles_file.cpp.  Root directory only (no leaf directories) — fine
# up to ~100k tiles per archive; content-addressed tile dedup like the
# mbtiles sink.
# ---------------------------------------------------------------------------

import gzip as _gzip_mod
import struct as _struct

from . import proj as _proj


def pmtiles_tile_id(z: int, x: int, y: int) -> int:
    """Cumulative Hilbert tile id: Σ_{k<z} 4^k + hilbert_d(z; x, y)."""
    acc = sum(1 << (2 * k) for k in range(z))
    if z == 0:
        return acc
    import numpy as np

    d = int(_proj.hilbert_encode(np.array([x]), np.array([y]), order=z)[0])
    return acc + d


def pmtiles_id_to_zxy(tid: int) -> tuple[int, int, int]:
    """Inverse of :func:`pmtiles_tile_id` (spec v3 tile addressing)."""
    import numpy as np

    z = 0
    acc = 0
    while acc + (1 << (2 * z)) <= tid:
        acc += 1 << (2 * z)
        z += 1
    if z == 0:
        return 0, 0, 0
    x, y = _proj.hilbert_decode(np.array([tid - acc]), order=z)
    return z, int(x[0]), int(y[0])


def _write_varint(buf: bytearray, v: int) -> None:
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _serialize_directory(entries: list[tuple[int, int, int, int]]) -> bytes:
    """entries: (tile_id, offset, length, run_length), sorted by tile_id."""
    buf = bytearray()
    _write_varint(buf, len(entries))
    last = 0
    for tid, _, _, _ in entries:
        _write_varint(buf, tid - last)
        last = tid
    for _, _, _, rl in entries:
        _write_varint(buf, rl)
    for _, _, ln, _ in entries:
        _write_varint(buf, ln)
    prev_off = prev_len = None
    for _, off, ln, _ in entries:
        if prev_off is not None and off == prev_off + prev_len:
            _write_varint(buf, 0)
        else:
            _write_varint(buf, off + 1)
        prev_off, prev_len = off, ln
    return bytes(buf)


def write_pmtiles(
    path: str,
    tiles_rows,
    metadata: dict,
    minzoom: int = 0,
    maxzoom: int = 14,
    bounds: tuple[float, float, float, float] = (-180.0, -85.0, 180.0, 85.0),
) -> int:
    """Driver-side PMTiles v3 export.  Tiles must be gzip-compressed MVT
    (the pyramid default).  Returns the number of addressed tiles."""
    by_id: list[tuple[int, bytes]] = []
    for row in tiles_rows:
        by_id.append((pmtiles_tile_id(row["z"], row["x"], row["y"]), bytes(row["tile"])))
    by_id.sort(key=lambda t: t[0])

    data = bytearray()
    offsets: dict[str, tuple[int, int]] = {}  # content hash → (off, len)
    entries: list[tuple[int, int, int, int]] = []
    n_contents = 0
    for tid, blob in by_id:
        h = hashlib.sha256(blob).hexdigest()
        if h in offsets:
            off, ln = offsets[h]
        else:
            off, ln = len(data), len(blob)
            data += blob
            offsets[h] = (off, ln)
            n_contents += 1
        # run-length merge with the previous entry when contiguous ids
        # share content
        if entries and entries[-1][1] == off and entries[-1][0] + entries[-1][3] == tid:
            last = entries[-1]
            entries[-1] = (last[0], last[1], last[2], last[3] + 1)
        else:
            entries.append((tid, off, ln, 1))

    root = _gzip_mod.compress(_serialize_directory(entries), mtime=0)
    meta_bytes = _gzip_mod.compress(
        json.dumps(metadata).encode("utf-8"), mtime=0
    )

    header_len = 127
    root_off = header_len
    meta_off = root_off + len(root)
    leaf_off = meta_off + len(meta_bytes)
    data_off = leaf_off  # no leaves
    w, s, e, n = bounds

    header = bytearray()
    header += b"PMTiles"
    header.append(3)
    for v in (
        root_off, len(root), meta_off, len(meta_bytes),
        leaf_off, 0, data_off, len(data),
        len(by_id), len(entries), n_contents,
    ):
        header += _struct.pack("<Q", v)
    header.append(1)  # clustered
    header.append(2)  # internal compression: gzip
    header.append(2)  # tile compression: gzip
    header.append(1)  # tile type: MVT
    header.append(minzoom)
    header.append(maxzoom)
    for val in (w, s, e, n):
        header += _struct.pack("<i", int(val * 1e7))
    header.append(minzoom)  # center zoom
    header += _struct.pack("<i", int((w + e) / 2 * 1e7))
    header += _struct.pack("<i", int((s + n) / 2 * 1e7))
    assert len(header) == header_len, len(header)

    with open(path, "wb") as fh:
        fh.write(bytes(header))
        fh.write(root)
        fh.write(meta_bytes)
        fh.write(bytes(data))
    return len(by_id)


def _read_varint(data: bytes, i: int) -> tuple[int, int]:
    shift = out = 0
    while True:
        b = data[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7


def read_pmtiles(path: str) -> tuple[dict, list[dict]]:
    """(metadata, [{tile_id, tile}]) — reader for tests/round trips."""
    with open(path, "rb") as fh:
        raw = fh.read()
    assert raw[:7] == b"PMTiles" and raw[7] == 3
    vals = _struct.unpack_from("<11Q", raw, 8)
    root_off, root_len, meta_off, meta_len = vals[0], vals[1], vals[2], vals[3]
    data_off, data_len = vals[6], vals[7]
    root = _gzip_mod.decompress(raw[root_off : root_off + root_len])
    meta = json.loads(_gzip_mod.decompress(raw[meta_off : meta_off + meta_len]))
    n, i = _read_varint(root, 0)
    ids = []
    last = 0
    for _ in range(n):
        d, i = _read_varint(root, i)
        last += d
        ids.append(last)
    runs = []
    for _ in range(n):
        r, i = _read_varint(root, i)
        runs.append(r)
    lens = []
    for _ in range(n):
        ln, i = _read_varint(root, i)
        lens.append(ln)
    offs = []
    for k in range(n):
        o, i = _read_varint(root, i)
        if o == 0:
            offs.append(offs[-1] + lens[k - 1])
        else:
            offs.append(o - 1)
    tiles = []
    for tid, off, ln, run in zip(ids, offs, lens, runs):
        blob = raw[data_off + off : data_off + off + ln]
        for r in range(run):
            tiles.append({"tile_id": tid + r, "tile": blob})
    return meta, tiles


# ---------------------------------------------------------------------------
# Reference-exact metadata (make_metadata, mbtiles.cpp:668-830 +
# mbtiles_write_metadata:468-660): every value formatted byte-for-byte
# like the reference so a full-tileset decode matches the committed
# goldens with plain string equality.
# ---------------------------------------------------------------------------

def _tile2lonlat(x: int, y: int, zoom: int) -> tuple[float, float]:
    import math as _math

    n = float(1 << zoom)
    lon = 360.0 * x / n - 180.0
    lat = _math.degrees(_math.atan(_math.sinh(_math.pi * (1 - 2.0 * y / n))))
    return lon, lat


def _sixdig(v: float) -> float:
    import math as _math

    # std::round: half away from zero
    return _math.floor(abs(v) * 1e6 + 0.5) / 1e6 * (1 if v >= 0 else -1)


def _sval(v) -> tuple[str, str]:
    """decoded attr value → (serial string, type) like
    mvt_value_to_serial_val: ints/doubles render to their token, bools
    to true/false."""
    from .grisu import dtoa_milo

    if isinstance(v, bool):
        return ("true" if v else "false"), "bool"
    if isinstance(v, float):
        return dtoa_milo(v), "double"
    if isinstance(v, int):
        return str(v), "double"
    return str(v), "string"


_TYPE_RANK = {"string": 0, "double": 1, "bool": 2}  # only relative order matters


class _TileStat:
    __slots__ = ("samples", "keys", "min", "max", "has_double")

    def __init__(self):
        self.samples: list[tuple[str, str]] = []  # sorted by (s, type)
        self.keys: set[tuple[str, str]] = set()
        self.min = float("inf")
        self.max = float("-inf")
        self.has_double = False

    def add(self, s: str, t: str) -> None:
        import bisect

        if t == "double":
            self.has_double = True
            d = float(s)
            if d < self.min:
                self.min = d
            if d > self.max:
                self.max = d
        key = (s, _TYPE_RANK[t])
        if (s, t) in self.keys:
            return
        pos = bisect.bisect_left([(x, _TYPE_RANK[y]) for x, y in self.samples], key)
        if len(self.samples) >= 1000:
            if pos >= len(self.samples):
                return  # insertion at the end of a full list: dropped
            dropped = self.samples.pop()
            self.keys.discard(dropped)
        self.samples.insert(pos, (s, t))
        self.keys.add((s, t))


def _sval_from_serial(v: str) -> tuple[str, str] | None:
    """canonical-relation attr string → (serial string, type): the
    STRING_TAG/NULL_TAG conventions of sources/geojson._render_value
    map back onto serial_val types (serial.cpp:866 accumulates tilestats
    from exactly these serialized values)."""
    if v is None:
        return None
    if v.startswith("\x00"):
        return None  # mvt_null never reaches tilestats
    if v.startswith("\x02"):
        return v[1:], "string"
    if v in ("true", "false"):
        return v, "bool"
    try:
        float(v)
        return v, "double"
    except ValueError:
        return v, "string"


def _layermap_from_features(feature_rows, tiles_rows):
    """Layer counts + attribute stats from the SERIALIZED features
    (serial.cpp:773,866 — one count per input feature, samples from
    serial values), zoom ranges from the output tiles."""
    layers: dict[str, dict] = {}
    for row in feature_rows:
        lm = layers.setdefault(
            row["layer"],
            {
                "points": 0, "lines": 0, "polygons": 0,
                "minzoom": None, "maxzoom": None,
                "stats": {},
            },
        )
        kind = {1: "points", 2: "lines", 3: "polygons"}[row["geom_type"]]
        lm[kind] += 1
        for k, v in (row["attrs"] or {}).items():
            if k in ("tippecanoe_minzoom", "tippecanoe_maxzoom"):
                # internal per-feature zoom markers (the tippecanoe
                # extension) — never attributes in the reference
                continue
            sv = _sval_from_serial(v)
            if sv is None:
                continue
            st = lm["stats"].get(k)
            if st is None:
                st = lm["stats"][k] = _TileStat()
            st.add(*sv)
    for row in tiles_rows:
        z = row["z"]
        for layer in mvt.decode_tile(bytes(row["tile"])):
            lm = layers.get(layer["name"])
            if lm is None:
                continue
            lm["minzoom"] = z if lm["minzoom"] is None else min(lm["minzoom"], z)
            lm["maxzoom"] = z if lm["maxzoom"] is None else max(lm["maxzoom"], z)
    for lm in layers.values():
        if lm["minzoom"] is None:
            lm["minzoom"] = lm["maxzoom"] = 0
    return layers


def _layermap_from_tiles(tiles_rows):
    layers: dict[str, dict] = {}
    for row in tiles_rows:
        z = row["z"]
        for layer in mvt.decode_tile(bytes(row["tile"])):
            lm = layers.setdefault(
                layer["name"],
                {
                    "points": 0, "lines": 0, "polygons": 0,
                    "minzoom": z, "maxzoom": z,
                    "stats": {},
                },
            )
            lm["minzoom"] = min(lm["minzoom"], z)
            lm["maxzoom"] = max(lm["maxzoom"], z)
            for feat in layer["features"]:
                kind = {1: "points", 2: "lines", 3: "polygons"}[feat["type"]]
                lm[kind] += 1
                for k, v in feat["attrs"].items():
                    st = lm["stats"].get(k)
                    if st is None:
                        st = lm["stats"][k] = _TileStat()
                    st.add(*_sval(v))
    return layers


def _compact(parts: list[str]) -> str:
    return "".join(parts)


def _jstr(s: str) -> str:
    out = ['"']
    for ch in s:
        if ch in ('\\', '"'):
            out.append("\\" + ch)
        elif ch < " ":
            out.append("\\u%04x" % ord(ch))
        else:
            out.append(ch)
    out.append('"')
    return "".join(out)


def _vector_layers_json(layers: dict, descriptions: dict | None = None,
                        attr_descriptions: dict | None = None) -> str:
    p: list[str] = ["["]
    for i, name in enumerate(sorted(layers)):
        lm = layers[name]
        if i:
            p.append(",")
        p.append("{")
        p.append(_jstr("id") + ":" + _jstr(name))
        p.append(",%s:%s" % (_jstr("description"), _jstr((descriptions or {}).get(name, ""))))
        p.append(",%s:%d" % (_jstr("minzoom"), lm["minzoom"]))
        p.append(",%s:%d" % (_jstr("maxzoom"), lm["maxzoom"]))
        p.append("," + _jstr("fields") + ":{")
        for j, k in enumerate(sorted(lm["stats"])):
            if j >= 1000:
                break
            st = lm["stats"][k]
            if attr_descriptions and k in attr_descriptions:
                # -Y name:description replaces the type string in fields
                # (mbtiles.cpp:768-770)
                tn = attr_descriptions[k]
            else:
                types = {t for _, t in st.samples}
                tn = (
                    "Number" if types == {"double"}
                    else "Boolean" if types == {"bool"}
                    else "String" if types == {"string"}
                    else "Mixed"
                )
            if j:
                p.append(",")
            p.append(_jstr(k) + ":" + _jstr(tn))
        p.append("}}")
    p.append("]")
    return _compact(p)


def _tilestats_json(layers: dict) -> str:
    from .grisu import dtoa_milo
    from .text import truncate16 as _t16

    p: list[str] = ["{"]
    p.append(_jstr("layerCount") + ":" + str(len(layers)))
    p.append("," + _jstr("layers") + ":[")
    for i, name in enumerate(sorted(layers)):
        lm = layers[name]
        if i:
            p.append(",")
        p.append("{")
        p.append(_jstr("layer") + ":" + _jstr(name))
        count = lm["points"] + lm["lines"] + lm["polygons"]
        p.append("," + _jstr("count") + ":" + str(count))
        if lm["points"] >= lm["lines"] and lm["points"] >= lm["polygons"]:
            geom = "Point"
        elif lm["lines"] >= lm["polygons"] and lm["lines"] >= lm["points"]:
            geom = "LineString"
        else:
            geom = "Polygon"
        p.append("," + _jstr("geometry") + ":" + _jstr(geom))
        p.append(
            "," + _jstr("attributeCount") + ":" + str(min(len(lm["stats"]), 1000))
        )
        p.append("," + _jstr("attributes") + ":[")
        for ai, k in enumerate(sorted(lm["stats"])):
            if ai >= 100:  # elements = max_tilestats_values
                break
            st = lm["stats"][k]
            if ai:
                p.append(",")
            p.append("{")
            p.append(_jstr("attribute") + ":" + _jstr(k))
            p.append("," + _jstr("count") + ":" + str(min(len(st.samples), 1000)))
            types = {t for _, t in st.samples}
            tn = (
                "number" if types == {"double"}
                else "boolean" if types == {"bool"}
                else "string" if types == {"string"}
                else "mixed"
            )
            p.append("," + _jstr("type") + ":" + _jstr(tn))
            p.append("," + _jstr("values") + ":[")
            vals = 0
            first = True
            for s, t in st.samples:
                if vals == 100:
                    break
                if t in ("double", "bool"):
                    if not first:
                        p.append(",")
                    p.append(s)  # stringified raw token
                    first = False
                    vals += 1
                else:
                    if _t16(s, 256) == s:
                        if not first:
                            p.append(",")
                        p.append(_jstr(s))
                        first = False
                        vals += 1
            p.append("]")
            if st.has_double:
                p.append("," + _jstr("min") + ":" + dtoa_milo(st.min))
                p.append("," + _jstr("max") + ":" + dtoa_milo(st.max))
            p.append("}")
        p.append("]}")
    p.append("]}")
    return _compact(p)


def raw_file_bboxes(wx, wy):
    """Raw world vertex arrays → (file_bbox, file_bbox1, file_bbox2) for
    :func:`make_metadata_ref` (serial.cpp:425-455, 898-908).  A plain
    bbox that runs off the plane on either side widens to the whole
    world in x and clamps in y (main.cpp:1172-1188 — dateline wrap)."""
    import numpy as np

    wx = np.asarray(wx, dtype=np.int64)
    wy = np.asarray(wy, dtype=np.int64)
    x0, y0 = int(wx.min()), int(wy.min())
    x1, y1 = int(wx.max()), int(wy.max())
    W = (1 << 32) - 1
    if x0 < 0 or x1 > W:
        x0, x1 = 0, W
    y0 = max(y0, 0)
    y1 = min(y1, W)
    fb = (x0, y0, x1, y1)
    mx = wx & 0xFFFFFFFF
    my = np.clip(wy, 0, 0xFFFFFFFF)
    fb1 = (int(mx.min()), int(my.min()), int(mx.max()), int(my.max()))
    sx = np.where(mx < 0x80000000, mx + 0x100000000, mx)
    fb2 = (int(sx.min()), int(my.min()), int(sx.max()), int(my.max()))
    return fb, fb1, fb2


def make_metadata_ref(
    name: str,
    tiles_rows,
    minzoom: int,
    maxzoom: int,
    file_bbox: tuple[int, int, int, int],
    file_bbox1: tuple[int, int, int, int],
    file_bbox2: tuple[int, int, int, int],
    description: str | None = None,
    generator: str | None = None,
    generator_options: str | None = None,
    attribution: str | None = None,
    features_rows=None,
    layer_descriptions: dict | None = None,
    basezoom: int | None = None,
    droprate: float = 2.5,
    retain_points_multiplier: int = 1,
    with_tilestats: bool = True,
    attribute_descriptions: dict | None = None,
    strategies: list | None = None,
) -> dict:
    """Reference-exact metadata rows.  ``file_bbox`` is the raw world
    min/max of feature bboxes (serial.cpp:898-908); ``file_bbox1`` masks
    x to 32 bits and pins y; ``file_bbox2`` additionally shifts western
    x east by a world (serial.cpp:425-455) — the narrower of the two is
    the antimeridian_adjusted_bounds (main.cpp:2820-2829)."""
    rows = list(tiles_rows)
    layers = (
        _layermap_from_features(features_rows, rows)
        if features_rows is not None
        else _layermap_from_tiles(rows)
    )

    minlon, maxlat = _tile2lonlat(file_bbox[0], file_bbox[1], 32)
    maxlon, minlat = _tile2lonlat(file_bbox[2], file_bbox[3], 32)

    # center: the maxzoom tile with the most compressed bytes (ties:
    # smallest (x<<32)|y), midpoint clamped into the file bounds
    # (tile.cpp:3214-3227, main.cpp:2798-2818)
    midx = midy = 0
    most = -1
    for r in rows:
        if r["z"] != maxzoom:
            continue
        ln = len(bytes(r["tile"]))
        if ln > most or (
            ln == most and ((r["x"] << 32) | r["y"]) < ((midx << 32) | midy)
        ):
            midx, midy, most = r["x"], r["y"], ln
    c_minlon, c_maxlat = _tile2lonlat(midx, midy, maxzoom)
    c_maxlon, c_minlat = _tile2lonlat(midx + 1, midy + 1, maxzoom)
    midlat = (c_maxlat + c_minlat) / 2
    midlon = (c_maxlon + c_minlon) / 2
    midlat = min(max(midlat, minlat), maxlat)
    midlon = min(max(midlon, minlon), maxlon)

    if (file_bbox2[2] - file_bbox2[0]) < (file_bbox1[2] - file_bbox1[0]):
        bb = file_bbox2
    else:
        bb = file_bbox1
    minlon2, maxlat2 = _tile2lonlat(bb[0], bb[1], 32)
    maxlon2, minlat2 = _tile2lonlat(bb[2], bb[3], 32)

    def f(v: float) -> str:
        return "%f" % _sixdig(v)

    meta = {
        "name": name,
        "description": description if description is not None else name,
        "version": "2",
        "minzoom": str(minzoom),
        "maxzoom": str(maxzoom),
        "center": "%s,%s,%d" % (f(midlon), f(midlat), maxzoom),
        "bounds": "%s,%s,%s,%s" % (f(minlon), f(minlat), f(maxlon), f(maxlat)),
        "antimeridian_adjusted_bounds": "%s,%s,%s,%s"
        % (f(minlon2), f(minlat2), f(maxlon2), f(maxlat2)),
        "type": "overlay",
        "format": "pbf",
    }
    if attribution is not None:
        meta["attribution"] = attribution
    if generator is not None:
        meta["generator"] = generator
    if generator_options is not None:
        meta["generator_options"] = generator_options
    if strategies is not None:
        # stringify_strategies (mbtiles.cpp:372-460): compact JSON array
        # indexed by zoom, counters through Grisu2; all-empty → omitted
        from .grisu import dtoa_milo

        parts = ["["]
        any_ = False
        for i, st in enumerate(strategies):
            if i:
                parts.append(",")
            parts.append("{")
            for j, (k, v) in enumerate(st.items()):
                if j:
                    parts.append(",")
                parts.append(_jstr(k) + ":" + dtoa_milo(float(v)))
                any_ = True
            parts.append("}")
        parts.append("]")
        if any_:
            meta["strategies"] = "".join(parts)
    bz = maxzoom if basezoom is None else basezoom
    if bz != maxzoom or droprate != 2.5 or retain_points_multiplier != 1:
        from .grisu import dtoa_milo

        meta["tippecanoe_decisions"] = (
            '{"basezoom":%s,"droprate":%s,"retain_points_multiplier":%d}'
            % (dtoa_milo(float(bz)), dtoa_milo(float(droprate)),
               retain_points_multiplier)
        )
    vl = _vector_layers_json(
        layers, layer_descriptions or {}, attribute_descriptions or {}
    )
    if with_tilestats:
        meta["json"] = (
            '{"vector_layers":' + vl + ',"tilestats":'
            + _tilestats_json(layers) + "}"
        )
    else:
        meta["json"] = '{"vector_layers":' + vl + "}"
    return meta
