"""Seeded, byte-reproducible benchmark inputs and their digests.

The program receives only the generated inputs; the seed stays on this
side. ``tools/gen_scale_data.py`` derives each table's RNG from
(table, sf) alone, so the seed is threaded in here by replacing its
``_rng`` on the imported module; the tool itself is unchanged.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import numpy as np


def _load_gen_module(root: str):
    path = os.path.join(root, "tools", "gen_scale_data.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen_scale_data", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def gen_scale_tables(root: str, out: str, sf: float, seed: int) -> dict[str, int]:
    """Write the gen_scale_data tables at ``sf`` under ``out``, every table's
    RNG keyed on (table, sf, seed). Returns row counts per table."""
    gen = _load_gen_module(root)

    def seeded_rng(table: str, sf_: float) -> np.random.Generator:
        key = f"{table}|{round(sf_, 6)}|{seed}".encode()
        return np.random.default_rng(
            int.from_bytes(hashlib.md5(key).digest()[:8], "little") % (1 << 63)
        )

    gen._rng = seeded_rng
    os.makedirs(out, exist_ok=True)
    gen.gen_region_nation(out)
    n_cust = gen.gen_customer(out, sf)
    n_supp = gen.gen_supplier(out, sf)
    n_part = gen.gen_part(out, sf)
    order_day = gen.gen_orders(out, sf, n_cust)
    return {
        "customer": n_cust,
        "supplier": n_supp,
        "part": n_part,
        "orders": len(order_day),
        "lineitem": gen.gen_lineitem(out, sf, order_day, n_part, n_supp),
        "events": gen.gen_events(out, sf),
        "documents": gen.gen_documents(out, sf),
        "embeddings": gen.gen_embeddings(out, sf),
    }


def dir_digest(path: str) -> str:
    """sha256 over (relative name, bytes) of every file under ``path``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for name in sorted(filenames):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode() + b"\0")
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def rows_digest(*tables: list[tuple]) -> str:
    """sha256 over the repr of generated row lists."""
    h = hashlib.sha256()
    for rows in tables:
        for r in rows:
            h.update(repr(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()
