"""Seeded inputs for the benchmark workloads.

The inputs are the TESTDATA.md tables the repo's tests and ``bench.py``
read (``perfbench/testdata/``: every sf0.01 table and the sf0.1
``documents`` table, byte-identical copies, so the benchmark reads nothing
outside its checkout). The seed only shifts the ``documents`` doc_id
namespace: every layout class, mega membership and word geometry is
derived from the md5 of the doc_id, so a new seed re-draws them while the
texts, and so the corpus mix, stay the same. Seed 0 is the TESTDATA
corpus itself.

Everything is cached on disk under the checkout's work directory per
(workload, size, seed), so no generation ever runs inside a timed region.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")
# doc_id shift per seed: far above every TESTDATA doc_id, and not a
# multiple of the small moduli the queries filter doc_id by
SEED_SHIFT = 1_000_000_007


def documents(sf: str) -> pa.Table:
    return pq.read_table(os.path.join(TESTDATA, sf, "documents.parquet"))


def seeded_documents(sf: str, seed: int) -> pa.Table:
    """The TESTDATA documents of scale ``sf`` with doc_id + seed·SEED_SHIFT."""
    t = documents(sf)
    i = t.schema.get_field_index("doc_id")
    return t.set_column(i, "doc_id", pc.add(t["doc_id"], pa.scalar(seed * SEED_SHIFT, pa.int64())))


def write_seeded_tables(out_dir: str, seed: int, sf: str = "sf0.01") -> dict:
    """Every TESTDATA table of scale ``sf`` into ``out_dir``, ``documents``
    seeded; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in sorted(os.listdir(os.path.join(TESTDATA, sf))):
        table = name.removesuffix(".parquet")
        dst = os.path.join(out_dir, name)
        if table == "documents":
            t = seeded_documents(sf, seed)
            pq.write_table(t, dst)
        else:
            shutil.copyfile(os.path.join(TESTDATA, sf, name), dst)
            t = pq.read_metadata(dst)
        rows[table] = t.num_rows
    return rows


def cached(path: str, build):
    """Return the JSON record at ``path``, building it (and whatever files
    ``build`` writes beside it) on a miss. The record is written last, so
    an interrupted build is rebuilt instead of half-reused."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    record = build()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, path)
    return record


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )
