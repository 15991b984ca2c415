"""Seeded benchmark inputs and their DuckDB answers, cached per seed.

The ten catalog tables are generated with the fixture recipe of
``scripts/gen_scale_corpus.py`` (x1 = sf0.1 row counts) from RNGs built
from the seed, and cached under ``.scale/perfbench/seed-<n>/x1``.  The
DuckDB oracle's answer to each declared query is cached beside them as
a fingerprint, so a repeated seed pays for neither again.  Generation
and oracle evaluation happen outside every timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".scale", "perfbench")
#: x1 row counts of the two LLM tables (the relational ones live in
#: gen_relational's recipe).
N_DOCS, N_EMB = 5_000, 2_000
#: Cached seeds kept on disk (about 18 MB each); older ones are pruned.
KEEP_SEEDS = 16

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _gen():
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import gen_scale_corpus

    return gen_scale_corpus


def _write_inputs(seed: int, out: str) -> None:
    g = _gen()
    rng = np.random.default_rng([seed, 0])
    pq.write_table(g.gen_documents(rng, N_DOCS), os.path.join(out, "documents.parquet"))
    pq.write_table(g.gen_embeddings(rng, N_EMB), os.path.join(out, "embeddings.parquet"))
    g.gen_relational(np.random.default_rng([seed, 1]), 1, out)
    # region/nation are the fixtures' fixed dimension tables
    pq.write_table(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        os.path.join(out, "region.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        os.path.join(out, "nation.parquet"),
    )


def inputs(seed: int) -> str:
    """Directory holding the ten x1 tables for ``seed``, generated on
    first use.  The directory is published with one rename, so an
    interrupted generation never leaves a partial cache behind."""
    seed_dir = os.path.join(STATE, f"seed-{seed}")
    out = os.path.join(seed_dir, "x1")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            _write_inputs(seed, tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        os.replace(tmp, out)
    os.utime(seed_dir)
    _prune()
    return out


def _prune() -> None:
    seeds = [
        os.path.join(STATE, d) for d in os.listdir(STATE) if d.startswith("seed-")
    ]
    seeds.sort(key=os.path.getmtime, reverse=True)
    for d in seeds[KEEP_SEEDS:]:
        shutil.rmtree(d, ignore_errors=True)


def fingerprint(pdf) -> dict:
    """Sorted column names, row count and a hash of the canonical rows
    (``sparketl.oracle.canonical_frame``: order-insensitive, exact
    values).  A frame with cells that cannot be canonicalised gets
    ``{"error": ...}`` instead."""
    from sparketl.oracle import ComplexCellError, canonical_frame

    try:
        rows = canonical_frame(pdf)
    except ComplexCellError as e:
        return {"error": f"uncanonicalisable: {e}"}
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return {"cols": sorted(map(str, pdf.columns)), "rows": len(rows), "sha": h.hexdigest()}


def mismatch(got: dict, want: dict | None) -> str | None:
    """Why ``got`` fails against ``want`` (None for a rows-only check,
    which fails only on an uncanonicalisable frame), or None."""
    if "error" in got:
        return got["error"]
    if want is not None and "error" in want:
        return f"oracle {want['error']}"
    for key in ("cols", "rows", "sha") if want is not None else ():
        if got[key] != want[key]:
            return f"{key}: spark={got[key]} oracle={want[key]}"
    return None


def _oracle_one(sf_dir: str, name: str) -> dict:
    from sparketl.oracle import duckdb_connect
    from sparketl.registry import ORACLES, load_all_modules

    load_all_modules()
    con = duckdb_connect(sf_dir)
    try:
        return fingerprint(con.execute(ORACLES[name]).df())
    finally:
        con.close()


def oracle_fingerprints(sf_dir: str, names: list[str], pool) -> dict[str, dict]:
    """Fingerprint of DuckDB's ``ORACLES[name]`` over ``sf_dir`` for each
    name that has an oracle (rows-only queries have none), computed in
    ``pool``'s worker processes and cached in ``oracle.json`` beside the
    inputs."""
    from sparketl.registry import ORACLES

    path = os.path.join(os.path.dirname(sf_dir), "oracle.json")
    cache: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    todo = [n for n in names if n in ORACLES and n not in cache]
    if todo:
        cache.update(zip(todo, pool.map(_oracle_one, [sf_dir] * len(todo), todo)))
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)
    return {n: cache[n] for n in names if n in cache}
