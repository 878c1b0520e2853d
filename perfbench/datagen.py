"""Benchmark tables.

- `sf0.1`: the sf0.1 test tables (TESTDATA.md: the deterministic
  synthetic star schema plus `events`, `documents` and `embeddings`,
  seed 42), committed unchanged under `perfbench/data/sf0.1` because a
  benchmark run may read only its own checkout. `MANIFEST.json` holds
  each file's SHA-256 and row count; `ensure()` refuses to run on a copy
  that does not match it.
- `sf0.1x10`: a 10x replica of `sf0.1`, built on first use under
  `.bench_build/` with the perturbed construction of
  `tools/scale10x.py --perturb` (ported to pyarrow so set-up needs no
  Spark session). Fact tables are copied ten times with their id column
  shifted by the id span, so foreign keys stay consistent (`o_orderkey`
  and `l_orderkey` shift together); dimension tables are reused; each
  replica's documents get a " r<k>" token and its embeddings are
  rotated by k positions, so no replica is an exact clone of another.
  Its own `MANIFEST.json` records the digest of its inputs; a replica
  whose inputs changed is rebuilt.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import SF01, X10

COPIES = 10
#: fact tables replicated by the 10x set, with the id column shifted
#: (tools/scale10x.py SHIFT_COLS; shifted ids are 64-bit there too)
SHIFT_COLS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _manifest(d: str) -> dict:
    with open(os.path.join(d, "MANIFEST.json")) as f:
        return json.load(f)


def check_sf01() -> dict[str, dict]:
    """The committed sf0.1 manifest, after checking every file against it."""
    files = _manifest(SF01)["files"]
    for t, meta in files.items():
        if _file_digest(os.path.join(SF01, f"{t}.parquet")) != meta["sha256"]:
            raise RuntimeError(f"{t}.parquet does not match perfbench/data/sf0.1/MANIFEST.json")
    return files


def replicate(tables: dict[str, pa.Table], copies: int = COPIES) -> dict[str, pa.Table]:
    out = {}
    for name, t in tables.items():
        col = SHIFT_COLS.get(name)
        if col is None:
            out[name] = t
            continue
        span = int(pc.max(t[col]).as_py()) + 1
        parts = []
        for rep in range(copies):
            r = t.set_column(
                t.schema.get_field_index(col), col,
                pc.add(t[col].cast(pa.int64()), pa.scalar(rep * span, pa.int64())),
            )
            if name == "documents":
                r = r.set_column(
                    r.schema.get_field_index("text"), "text",
                    pc.binary_join_element_wise(r["text"], pa.scalar(f"r{rep}"), " "),
                )
            if name == "embeddings":
                field = t.schema.field("embedding")
                vecs = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
                rolled = np.roll(vecs, -rep, axis=1)
                r = r.set_column(
                    r.schema.get_field_index("embedding"), field,
                    pa.array(list(rolled), field.type),
                )
            parts.append(r)
        out[name] = pa.concat_tables(parts)
    return out


def _x10_inputs(files: dict[str, dict]) -> str:
    h = hashlib.sha256(json.dumps(files, sort_keys=True).encode())
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def _x10_valid(dst: str, inputs: str) -> bool:
    try:
        man = _manifest(dst)
        return man["inputs"] == inputs and all(
            _file_digest(os.path.join(dst, f"{t}.parquet")) == digest
            for t, digest in man["files"].items()
        )
    except (OSError, ValueError, KeyError):
        return False


def ensure(x10: bool = False) -> None:
    """Check the sf0.1 copy and, when asked, build the 10x replica
    (only when its manifest does not match its inputs)."""
    files = check_sf01()
    if x10:
        dst = X10
        inputs = _x10_inputs(files)
        if not _x10_valid(dst, inputs):
            base = {t: pq.read_table(os.path.join(SF01, f"{t}.parquet")) for t in files}
            tmp = dst + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            for name, t in replicate(base).items():
                pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
            digests = {t: _file_digest(os.path.join(tmp, f"{t}.parquet")) for t in files}
            with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
                json.dump({"inputs": inputs, "files": digests}, f, indent=1)
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(tmp, dst)


if __name__ == "__main__":
    import sys
    import time

    t = time.perf_counter()
    ensure(x10="--x10" in sys.argv)
    print(f"{time.perf_counter() - t:.1f} s")
