"""Seeded benchmark inputs, derived from the base tables in ``data/``.

``data/`` holds the ``sf0.01`` tables the engine's queries read for the
benchmark workloads (``customer``, ``orders``, ``supplier``,
``documents``, ``embeddings``). Seed 0 is those tables as shipped. Any
other seed applies, per key domain, one seeded permutation of the
domain's key values to the primary-key column and to every column that
references it, then shuffles each table's row order.

The permutation maps the set of key values onto itself, so every key
column keeps its value range, and every primary-key column keeps its
exact value set and therefore the multiset of its residues under any
modulus; the modulo-driven synthetic sizes of the queries hold. Joins
stay consistent because a foreign key goes through the same map as the
key it references.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = Path(__file__).resolve().parent / "data"
TABLES = ("customer", "orders", "supplier", "documents", "embeddings")

# key domain: (table, primary-key column, [(table, referencing column)])
KEY_DOMAINS = (
    ("customer", "c_custkey", [("orders", "o_custkey")]),
    ("orders", "o_orderkey", []),
    ("supplier", "s_suppkey", []),
    ("documents", "doc_id", []),
    ("embeddings", "vec_id", []),
)

_READY = "_READY"


def permute_keys(tables: dict[str, pa.Table], rng: np.random.Generator) -> dict[str, pa.Table]:
    """Apply one seeded bijection of each key domain's values to its
    primary key and every referencing column."""
    out = dict(tables)
    for pk_table, pk_col, refs in KEY_DOMAINS:
        keys = np.unique(out[pk_table][pk_col].to_numpy())
        image = rng.permutation(keys)
        for table, col in [(pk_table, pk_col), *refs]:
            values = out[table][col].to_numpy()
            idx = np.searchsorted(keys, values)
            if not np.array_equal(keys[np.minimum(idx, len(keys) - 1)], values):
                raise ValueError(f"{table}.{col} holds values outside {pk_table}.{pk_col}")
            pos = out[table].schema.get_field_index(col)
            field = out[table].schema.field(pos)
            out[table] = out[table].set_column(pos, field, pa.array(image[idx], type=field.type))
    return out


def shuffle_rows(tables: dict[str, pa.Table], rng: np.random.Generator) -> dict[str, pa.Table]:
    return {name: t.take(rng.permutation(t.num_rows)) for name, t in tables.items()}


def derive(seed: int, out_root: Path) -> Path:
    """Directory holding the tables for ``seed``; written once per seed."""
    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    out = out_root / f"seed-{seed}"
    if (out / _READY).exists():
        return out
    tmp = out_root / f".seed-{seed}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    if seed == 0:
        for name in TABLES:
            shutil.copyfile(BASE_DIR / f"{name}.parquet", tmp / f"{name}.parquet")
    else:
        rng = np.random.default_rng(seed)
        tables = {name: pq.read_table(BASE_DIR / f"{name}.parquet") for name in TABLES}
        tables = shuffle_rows(permute_keys(tables, rng), rng)
        for name, table in tables.items():
            pq.write_table(table, tmp / f"{name}.parquet")
    (tmp / _READY).touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out
