"""Geocode stage: web-page text → geo feature rows.

The reference ingests GeoJSON (geojson.cpp:43-270); our north-rule input is
web text, so the "scan" is a geocoder: an Arrow-batched extraction of geo
mentions (grammar defined in :mod:`tippecanoe_spark.synth`) producing one
feature row per mention.  Extraction is pure regex over ``text`` —
deterministic and byte-stable per url (the input_hint invariant).

Emits the *pre-projection* feature relation::

    url string, mention_seq int, layer string, geom_type int,
    coords array<struct<lon double, lat double>>, attrs map<string,string>

geom_type follows the reference's VT_POINT=1 / VT_LINE=2 / VT_POLYGON=3
(geometry.hpp:14-16).  Downstream, :mod:`tippecanoe_spark.features`
projects to world coordinates and builds the canonical serial-feature
schema (SURVEY §1.4).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .synth import GAZETTEER

VT_POINT, VT_LINE, VT_POLYGON = 1, 2, 3

# one alternation so match order == text order (mention_seq is positional)
_MENTION_RE = re.compile(
    r"near (?P<lat>-?\d+\.\d{4}), (?P<lon>-?\d+\.\d{4})"
    r"|visit (?P<name>[A-Z][a-z]+\d{3})"
    r"|area bbox\[(?P<w>-?\d+\.\d{4}),(?P<s>-?\d+\.\d{4}),"
    r"(?P<e>-?\d+\.\d{4}),(?P<n>-?\d+\.\d{4})\]"
    r"|route (?P<a>[A-Z][a-z]+\d{3}) to (?P<b>[A-Z][a-z]+\d{3})"
)

FEATURES_RAW_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("mention_seq", T.IntegerType()),
        T.StructField("layer", T.StringType()),
        T.StructField("geom_type", T.IntegerType()),
        T.StructField(
            "coords",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("lon", T.DoubleType()),
                        T.StructField("lat", T.DoubleType()),
                    ]
                )
            ),
        ),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    ]
)


def _extract_one(url: str, text: str):
    """All mentions of one page, in text order. Pure function of text."""
    out = []
    for seq, m in enumerate(_MENTION_RE.finditer(text or "")):
        if m.group("lat") is not None:
            lat, lon = float(m.group("lat")), float(m.group("lon"))
            out.append(
                (url, seq, "points", VT_POINT, [(lon, lat)], {"kind": "coord"})
            )
        elif m.group("name") is not None:
            name = m.group("name")
            ll = GAZETTEER.get(name)
            if ll is None:
                continue
            out.append(
                (url, seq, "points", VT_POINT, [ll], {"kind": "gazetteer", "name": name})
            )
        elif m.group("w") is not None:
            w, s = float(m.group("w")), float(m.group("s"))
            e, n = float(m.group("e")), float(m.group("n"))
            ring = [(w, s), (e, s), (e, n), (w, n), (w, s)]
            out.append((url, seq, "areas", VT_POLYGON, ring, {"kind": "bbox"}))
        else:
            a, b = m.group("a"), m.group("b")
            la, lb = GAZETTEER.get(a), GAZETTEER.get(b)
            if la is None or lb is None or la == lb:
                continue
            out.append(
                (url, seq, "routes", VT_LINE, [la, lb], {"kind": "route", "from": a, "to": b})
            )
    return out


def geocode(pages: DataFrame, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """webpages(url, text, ...) → raw feature rows (Arrow-batched).
    ``keep_cols`` ride along unchanged (e.g. ``warc_ts`` for streaming
    watermarks)."""
    import pyspark.sql.types as T

    cols = ["url", "text", *keep_cols]
    schema = T.StructType(
        FEATURES_RAW_SCHEMA.fields
        + [pages.schema[c] for c in keep_cols]
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            extras: list[tuple] = []
            extra_vals = (
                list(zip(*[pdf[c] for c in keep_cols])) if keep_cols else None
            )
            for i, (url, text) in enumerate(
                zip(pdf["url"].to_numpy(), pdf["text"].to_numpy())
            ):
                got = _extract_one(url, text)
                rows.extend(got)
                if keep_cols:
                    extras.extend([extra_vals[i]] * len(got))
            if not rows:
                # an empty coords column has no Arrow list<struct> type
                continue
            out = {
                "url": [r[0] for r in rows],
                "mention_seq": np.array([r[1] for r in rows], dtype=np.int32),
                "layer": [r[2] for r in rows],
                "geom_type": np.array([r[3] for r in rows], dtype=np.int32),
                "coords": [
                    [{"lon": float(lo), "lat": float(la)} for lo, la in r[4]]
                    for r in rows
                ],
                "attrs": [r[5] for r in rows],
            }
            for j, c in enumerate(keep_cols):
                out[c] = [e[j] for e in extras]
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return pages.select(*cols).mapInPandas(gen, schema=schema)
