"""Seeded benchmark inputs, derived from the read-only sf0.1 tables.

Every table keeps its schema and its multiset of rows. The seed picks
only the row order and where the rows are cut into the files of a
``<table>.parquet/`` directory, so the correct answer of every query is
the same on every seed while the physical layout Spark scans is not.

Beside ``orders`` the generator writes ``corrections``, a seeded
upsert batch for it: about 4 % of the existing orders
with a new price and status, plus about 1 % new order keys.

Same seed, same bytes: numpy's seeded generator makes every choice and
pyarrow writes parquet deterministically.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FILES_PER_TABLE = 4
SPLIT_MIN_ROWS = 1000  # smaller tables stay one file
SPLIT_JITTER = 0.25  # a cut moves by up to this share of an even file
UPDATE_FRAC = 0.04
INSERT_FRAC = 0.01
STATUSES = ("F", "O", "P")


def _split_points(rng: np.random.Generator, n_rows: int) -> list[int]:
    if n_rows < SPLIT_MIN_ROWS:
        return [0, n_rows]
    even = n_rows / FILES_PER_TABLE
    inner = [
        int(round(i * even + rng.uniform(-SPLIT_JITTER, SPLIT_JITTER) * even))
        for i in range(1, FILES_PER_TABLE)
    ]
    return [0, *inner, n_rows]


def _write_split(table: pa.Table, out_dir: str, cuts: list[int]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        pq.write_table(
            table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i:05d}.parquet"),
        )


def corrections(orders: pa.Table, rng: np.random.Generator) -> pa.Table:
    """Upsert batch: changed rows for existing keys plus rows with new keys."""
    n = orders.num_rows
    picked = orders.take(np.sort(rng.choice(n, int(n * UPDATE_FRAC), replace=False)))
    factor = pa.array(rng.uniform(0.9, 1.1, picked.num_rows))
    price = pc.round(pc.multiply(picked["o_totalprice"], factor), 2)
    status = pa.array(rng.choice(STATUSES, picked.num_rows), pa.string())
    updated = picked.set_column(
        picked.schema.get_field_index("o_totalprice"), "o_totalprice", price,
    ).set_column(
        picked.schema.get_field_index("o_orderstatus"), "o_orderstatus", status,
    )
    n_new = int(n * INSERT_FRAC)
    max_key = pc.max(orders["o_orderkey"]).as_py()
    template = orders.take(rng.choice(n, n_new, replace=False))
    inserted = template.set_column(
        0, "o_orderkey", pa.array(np.arange(max_key + 1, max_key + 1 + n_new), pa.int64()),
    )
    return pa.concat_tables([updated, inserted])


def generate(source_dir: str, out_dir: str, seed: int, tables) -> dict[str, int]:
    """Write ``tables`` of ``source_dir`` to ``out_dir`` in a seeded
    layout, plus ``corrections`` when ``orders`` is among them.
    Returns the rows written per table."""
    rng = np.random.default_rng(seed)
    rows = {}
    for name in tables:
        table = pq.read_table(os.path.join(source_dir, f"{name}.parquet"))
        table = table.take(rng.permutation(table.num_rows))
        _write_split(table, os.path.join(out_dir, f"{name}.parquet"),
                     _split_points(rng, table.num_rows))
        rows[name] = table.num_rows
        if name == "orders":
            batch = corrections(table, rng)
            _write_split(batch, os.path.join(out_dir, "corrections.parquet"),
                         [0, batch.num_rows])
            rows["corrections"] = batch.num_rows
    return rows


def stored_bytes(data_dir: str, tables) -> int:
    """Bytes of parquet stored for ``tables`` under ``data_dir``."""
    return sum(dir_bytes(os.path.join(data_dir, f"{t}.parquet")) for t in tables)


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def file_states(path: str) -> dict[str, tuple[int, int]]:
    """``(mtime_ns, size)`` of every file under ``path`` (or of the file
    ``path`` itself); empty when nothing is there."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    states = {}
    for f in files:
        st = os.stat(f)
        states[f] = (st.st_mtime_ns, st.st_size)
    return states


def written_between(before: dict, after: dict) -> tuple[int, int]:
    """Bytes and files of the entries of ``after`` (see
    :func:`file_states`) that are new or changed since ``before``."""
    changed = [state for f, state in after.items() if before.get(f) != state]
    return sum(size for _, size in changed), len(changed)
