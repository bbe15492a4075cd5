"""Seeded benchmark inputs: the ten fixture tables, written once per
(scale, seed) and reused by every later run with the same pair.

The tables come from the synthesizers in ``tools/gen_sf1.py``, called
unchanged with their module-level row counts set to the chosen scale.
Three things are supplied here because the synthesizers read them from
an installed fixture this benchmark may not touch:

- the 31-word document vocabulary;
- the fixed ``nation`` / ``region`` dimensions;
- lineitem's part and supplier keys, which the synthesizer draws from
  the sf1 key ranges; they are folded into the scaled ranges so that
  joins against ``part`` / ``supplier`` match as they do in the test
  fixtures.
"""

from __future__ import annotations

import hashlib
import os
import shutil

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# Row counts of the test fixtures at each scale factor (documents and
# embeddings stay at 500 rows below sf0.1).
SCALES = {
    "sf0.001": dict(
        N_CUSTOMER=150, N_SUPPLIER=10, N_PART=200, N_ORDERS=1_500,
        N_LINEITEM=6_000, N_EVENTS=1_000, N_EVENT_USERS=15,
        N_DOCS=500, N_VECS=500,
    ),
    "sf0.01": dict(
        N_CUSTOMER=1_500, N_SUPPLIER=100, N_PART=2_000, N_ORDERS=15_000,
        N_LINEITEM=60_000, N_EVENTS=10_000, N_EVENT_USERS=150,
        N_DOCS=500, N_VECS=500,
    ),
}


def _dims():
    import pyarrow as pa

    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    return nation, region


def _tables(scale: str, seed: int):
    import numpy as np
    import pyarrow as pa

    from tools import gen_sf1 as gen

    for k, v in SCALES[scale].items():
        setattr(gen, k, v)
    gen._vocab_from_sf01 = lambda: list(VOCAB)
    nation, region = _dims()
    makers = [
        ("documents", gen.gen_documents),
        ("embeddings", gen.gen_embeddings),
        ("events", gen.gen_events),
        ("lineitem", gen.gen_lineitem),
        ("orders", gen.gen_orders),
        ("customer", gen.gen_customer),
        ("supplier", gen.gen_supplier),
        ("part", gen.gen_part),
    ]
    for i, (name, make) in enumerate(makers):
        tbl = make(np.random.default_rng([seed, i]))
        if name == "lineitem":
            for col, n in (("l_partkey", gen.N_PART), ("l_suppkey", gen.N_SUPPLIER)):
                keys = tbl[col].to_numpy() % n
                tbl = tbl.set_column(
                    tbl.schema.get_field_index(col), col, pa.array(keys, pa.int64())
                )
        yield name, tbl
    yield "nation", nation
    yield "region", region


def digest(sf_dir: str) -> str:
    """Content digest of the ten parquet files (names and bytes)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(sf_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def ensure(root: str, scale: str, seed: int) -> str:
    """Return the fixture directory for (scale, seed), generating it on
    first use. The directory is published by rename, so a torn earlier
    generation is never reused."""
    import pyarrow.parquet as pq

    out = os.path.join(root, f"{scale}_seed{seed}")
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        for name, tbl in _tables(scale, seed):
            pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
