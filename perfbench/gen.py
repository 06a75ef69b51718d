"""Seeded inputs for the benchmark.

The tables are the engine's own sf0.01 test tables (``region nation
customer supplier part orders lineitem events documents embeddings``), the
ones the oracle checks run on.  The run seed decides what the program sees
of them:

- the row order of every table (a permutation),
- the order of the queries within a pass (``query_order``).

Each table is copied as ONE file, ``<dir>/<name>.parquet``: the streaming
queries read their source with ``pathGlobFilter="<name>.parquet"`` on the
data directory, so a table cannot be a directory of part files.
"""

from __future__ import annotations

import os
import random
import re

import numpy as np
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def source_dir(root: str, scale: str) -> str:
    """The directory of the test tables at ``scale`` (``"0.01"``) that
    ``TESTDATA.md`` in ``root`` names."""
    with open(os.path.join(root, "TESTDATA.md")) as f:
        m = re.search(rf"`([^`\s]*sf{re.escape(scale)})/?`", f.read())
    if m is None:
        raise FileNotFoundError(f"TESTDATA.md names no sf{scale} directory")
    return m.group(1)


def write_inputs(src: str, out_dir: str, seed: int) -> dict[str, int]:
    """Copy every table from ``src`` to ``out_dir/<name>.parquet`` with its
    rows permuted by ``seed``.  Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    rows = {}
    for name in TABLES:
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def query_order(names, seed: int) -> list[str]:
    """The seeded order in which a pass runs ``names``."""
    order = list(names)
    random.Random(seed).shuffle(order)
    return order
