"""Seeded input tables for the benchmark, derived from the engine's test data.

``testdata/sf0.01/`` beside this file is a copy of the engine's sf0.01
test tables (``region nation customer supplier part orders lineitem
events documents embeddings``, 60,000 lineitem rows, 500 documents).
``build`` writes ``factor`` disjoint-id-space replicas of it with the
transformations ``tools/scale_smoke.py gen`` applies when it scales
those tables up:

- replica ``k`` shifts ``l_orderkey``, ``o_orderkey``, ``event_id``,
  ``user_id``, ``doc_id`` and ``vec_id`` by ``k*SHIFT + k*k*SCATTER``
  (order/lineitem joins stay intact, replica id spaces stay disjoint);
- it renames every document word into its own token space (``q<k>``
  prefix), so similarities within a replica equal the base corpus's and
  no shingle matches across replicas;
- the small dimension tables are copied as they are.

The seed picks the replica indices: ``k = 1 + (seed mod 1000) * factor
+ r`` for ``r < factor``. Every seed therefore has the test data's value
distributions and near-duplicate structure, on different keys (which
documents arrive on the ingest stream, which reads land in which bin).
The same ``(seed, factor)`` always yields the same tables; ``ensure``
keeps one copy per pair, with the seconds its generation took, keyed
also on a hash of this file and the base tables so a change to either
regenerates them.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.scale_smoke import SCATTER, SHIFT, SMALL

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.01")
# id columns shifted per replica, per replicated table (as scale_smoke gen)
SHIFTED = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def replica_ids(seed: int, factor: int) -> list[int]:
    return [1 + (seed % 1000) * factor + r for r in range(factor)]


def _rename(text: str, k: int) -> str:
    return " ".join(f"q{k}{w}" for w in re.split(" +", text.strip(" ")))


def _replica(table: pa.Table, name: str, k: int) -> pa.Table:
    shift = k * SHIFT + k * k * SCATTER
    for col in SHIFTED[name]:
        i = table.schema.get_field_index(col)
        table = table.set_column(i, col, pc.add(table[col], shift))
    if name == "documents":
        i = table.schema.get_field_index("text")
        table = table.set_column(
            i, "text", pa.array([_rename(t, k) for t in table["text"].to_pylist()])
        )
    return table


def build(seed: int, factor: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    ks = replica_ids(seed, factor)
    for name in SHIFTED:
        base = pq.read_table(os.path.join(BASE, f"{name}.parquet"))
        pq.write_table(pa.concat_tables([_replica(base, name, k) for k in ks]),
                       os.path.join(out, f"{name}.parquet"))
    for name in SMALL:
        shutil.copyfile(os.path.join(BASE, f"{name}.parquet"),
                        os.path.join(out, f"{name}.parquet"))


def _source_hash() -> str:
    h = hashlib.sha256(open(os.path.abspath(__file__), "rb").read())
    h.update(f"{SHIFT} {SCATTER}".encode())
    for name in sorted(os.listdir(BASE)):
        h.update(name.encode())
        h.update(open(os.path.join(BASE, name), "rb").read())
    return h.hexdigest()[:12]


def ensure(cache_dir: str, seed: int, factor: int) -> tuple[str, float]:
    """Directory holding the tables for (seed, factor), generated on
    first use, and the seconds the generation took."""
    path = os.path.join(cache_dir, f"seed{seed}-x{factor}-{_source_hash()}")
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        build(seed, factor, tmp)
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write(repr(time.perf_counter() - t0))
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path, float(open(done).read())
