"""Output checks, run after each timed build and outside its timing.

Every tile must decode with ``mvt.decode_tile`` and hold as many features
as the build's own ``n_out`` for it.  The whole-tileset digest is
sha256 over the sorted ``z/x/y sha256(tile)`` lines; it must repeat
across the builds of one run, across runs on the same input (recorded in
the input cache), and, for the default seed, equal the digest pinned in
``pinned.json``.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

PINNED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")
DEFAULT_SEED = 0


class CheckFailed(Exception):
    pass


def read_tiles_parquet(path: str, z: int | None = None) -> dict:
    """(z, x, y) → (tile bytes, n_out) from a tile parquet directory —
    either a ``partitionBy('z')`` root or one zoom's directory."""
    cols = ["x", "y", "tile", "n_out"] + (["z"] if z is None else [])
    t = pq.read_table(path, columns=cols).to_pydict()
    zs = [int(v) for v in t["z"]] if z is None else [z] * len(t["x"])
    return {
        (zz, int(x), int(y)): (bytes(b), int(n))
        for zz, x, y, b, n in zip(zs, t["x"], t["y"], t["tile"], t["n_out"])
    }


def digest(tiles: dict) -> str:
    """sha256 over the sorted ``z/x/y sha256(tile)`` lines."""
    h = hashlib.sha256()
    for (z, x, y), (blob, _) in sorted(tiles.items()):
        h.update(f"{z}/{x}/{y} {hashlib.sha256(blob).hexdigest()}\n".encode())
    return h.hexdigest()


def check_tiles(tiles: dict) -> dict:
    """Decode every tile; its feature count must equal its ``n_out``.
    Returns tile count, feature count, gzipped bytes and the digest."""
    from tippecanoe_spark import mvt

    if not tiles:
        raise CheckFailed("empty tileset")
    n_feat = 0
    gz = 0
    for key, (blob, n_out) in tiles.items():
        try:
            layers = mvt.decode_tile(blob)
        except Exception as exc:  # any decode error fails the run
            raise CheckFailed(f"tile {key} does not decode: {exc!r}") from exc
        got = sum(len(layer["features"]) for layer in layers)
        if got != n_out:
            raise CheckFailed(f"tile {key}: {got} features decoded, n_out {n_out}")
        n_feat += got
        gz += len(blob)
    return {"tiles": len(tiles), "features": n_feat, "gz_bytes": gz,
            "digest": digest(tiles)}


def check_digest(workload: str, seed: int, size_key: str, got: str,
                 record_dir: str, pin: bool = False) -> None:
    """Cross-run and pinned digest checks for one build.  ``pin`` records
    ``got`` as the pinned digest for the default seed instead."""
    if seed == DEFAULT_SEED:
        with open(PINNED_PATH) as fh:
            pinned = json.load(fh)
        if pin:
            pinned.setdefault(workload, {})[size_key] = got
            with open(PINNED_PATH, "w") as fh:
                json.dump(pinned, fh, indent=2, sort_keys=True)
                fh.write("\n")
        want = pinned.get(workload, {}).get(size_key)
        if want != got:
            raise CheckFailed(
                f"{workload} seed {seed}: digest {got[:16]} != pinned "
                f"{(want or 'none')[:16]}"
            )
    os.makedirs(record_dir, exist_ok=True)
    rec = os.path.join(record_dir, f"{workload}-s{seed}-{size_key}.digest")
    if os.path.exists(rec):
        with open(rec) as fh:
            want = fh.read().strip()
        if want != got:
            raise CheckFailed(
                f"{workload} seed {seed}: digest {got[:16]} differs from an "
                f"earlier run's {want[:16]}"
            )
    else:
        with open(rec, "w") as fh:
            fh.write(got)
