"""The benchmark's workloads: ordered lists of ops, each with a check.

An op is either a registry query of ``__spark_entry__``, built and then
run into a sink, or a call into ``rdsa_utils_spark.sources``. Warm and
timed passes use the ``noop`` sink; the cold pass collects through Arrow
so that every op's output can be checked against DuckDB SQL over the
same seeded inputs, as an order-insensitive multiset compare.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable


@dataclass
class Context:
    """What an op needs: the session, the seeded inputs, the pass's own
    output directory, the tracer and a DuckDB connection over the inputs."""

    spark: object
    data_dir: str
    pass_dir: str
    tracer: object
    duck: object
    queries: dict  # registry builders by name
    oracles: dict  # registry oracle SQL by name


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def collect_sink(df):
    return df.toArrow()


@dataclass
class Op:
    name: str
    # Runs the op; a DataFrame it ends in goes to the sink, whose result
    # it returns.
    run: Callable[[Context, Callable], object]
    # Checks what the op left (its sink's result, or files it wrote):
    # returns a problem, or None when correct.
    verify: Callable[[Context, object], str | None]
    writes: tuple[str, ...] = ()  # outputs under the pass dir it may write


@dataclass
class Workload:
    name: str
    tables: tuple[str, ...]  # the inputs its ops read
    ops: list[Op]
    warm_passes: int  # untimed passes after the cold one, from WARMUP.json
    prepare: Callable[[Context], None] = field(default=lambda ctx: None)


# --- result comparison -------------------------------------------------------

def compare(duck, got: str, want: str) -> str | None:
    """Order-insensitive multiset compare of two DuckDB queries: the same
    column names, the same row count, and no row of ``got`` left over
    after ``EXCEPT ALL`` removes ``want``'s rows (equal counts make that
    one-sided test two-sided). Floats compare exactly; NULLs and NaNs
    match their own kind."""
    got_cols = duck.sql(got).columns
    want_cols = duck.sql(want).columns
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} vs {sorted(want_cols)}"
    cols = ", ".join(f'"{c}"' for c in sorted(got_cols))
    n_got = duck.sql(f"SELECT count(*) FROM ({got})").fetchone()[0]
    n_want = duck.sql(f"SELECT count(*) FROM ({want})").fetchone()[0]
    if n_got != n_want:
        return f"rows {n_got} vs {n_want}"
    extra = duck.sql(
        f"SELECT {cols} FROM ({got}) EXCEPT ALL SELECT {cols} FROM ({want}) LIMIT 1",
    ).fetchone()
    return None if extra is None else f"row not expected: {extra}"


def compare_table(duck, table, want: str) -> str | None:
    """:func:`compare` for an Arrow table collected from Spark."""
    duck.register("spark_output", table)
    try:
        return compare(duck, "SELECT * FROM spark_output", want)
    finally:
        duck.unregister("spark_output")


def register_inputs(duck, data_dir: str, tables) -> None:
    duck.execute("SET TimeZone = 'UTC'")  # the session's zone, for Spark's tz-aware output
    for t in tables:
        duck.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{t}.parquet/*.parquet')",
        )


# --- registry queries --------------------------------------------------------

def registry_op(name: str) -> Op:
    def run(ctx: Context, sink):
        fn = ctx.queries[name]
        with ctx.tracer.span("construct"):
            df = fn(ctx.spark, ctx.data_dir)
        with ctx.tracer.span("execute"):
            return sink(df)

    def verify(ctx: Context, table) -> str | None:
        return compare_table(ctx.duck, table, ctx.oracles[name])

    return Op(name, run, verify)


# --- ingest: the sources layer ---------------------------------------------

ORDER_KEYS = ["o_orderkey"]
COMPACT_FILE_BYTES = 1 << 20

ORDERS_SQL = "SELECT * FROM orders"
UPSERTED_SQL = """
SELECT * FROM corrections
UNION ALL
SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM corrections)
"""


def _sources():
    from rdsa_utils_spark.sources import readers, versioned, writers

    return readers, versioned, writers


def _inp(ctx: Context, table: str) -> str:
    return os.path.join(ctx.data_dir, f"{table}.parquet")


def _out(ctx: Context, name: str) -> str:
    return os.path.join(ctx.pass_dir, name)


def _written(ctx: Context, rel: str) -> str:
    return f"SELECT * FROM read_parquet('{_out(ctx, rel)}/*.parquet')"


def _prepare_ingest(ctx: Context) -> None:
    """Untimed: a fresh pass dir whose ``live`` table is a byte copy of
    the seeded ``orders`` files, as it stands before the batch arrives."""
    shutil.rmtree(ctx.pass_dir, ignore_errors=True)
    os.makedirs(ctx.pass_dir)
    shutil.copytree(_inp(ctx, "orders"), _out(ctx, "live"))


def _write_snapshot(ctx: Context, sink) -> None:
    readers, versioned, _ = _sources()
    versioned.write_snapshot(
        readers.read_parquet(ctx.spark, _inp(ctx, "orders")), _out(ctx, "snap"),
        note="landing",
    )


def _merge_upsert(ctx: Context, sink) -> None:
    readers, _, writers = _sources()
    writers.merge_upsert(
        ctx.spark, readers.read_parquet(ctx.spark, _inp(ctx, "corrections")),
        _out(ctx, "live"), keys=ORDER_KEYS,
    )


def _compact(ctx: Context, sink) -> None:
    _, _, writers = _sources()
    writers.compact_dataset(ctx.spark, _out(ctx, "live"), target_file_size=COMPACT_FILE_BYTES)


def _read_snapshot(ctx: Context, sink):
    _, versioned, _ = _sources()
    snapshot = versioned.read_snapshot(ctx.spark, _out(ctx, "snap"))
    with ctx.tracer.span("execute"):
        return sink(snapshot)


def _check_read(ctx: Context, table) -> str | None:
    return compare_table(ctx.duck, table, ORDERS_SQL)


def _check_snapshot(ctx: Context, _) -> str | None:
    return compare(ctx.duck, _written(ctx, "snap/v00001"), ORDERS_SQL)


def _check_live(ctx: Context, _) -> str | None:
    return compare(ctx.duck, _written(ctx, "live"), UPSERTED_SQL)


INGEST_OPS = [
    Op("write_snapshot", _write_snapshot, _check_snapshot, ("snap",)),
    Op("merge_upsert", _merge_upsert, _check_live, ("live",)),
    Op("compact_dataset", _compact, _check_live, ("live",)),
    Op("read_snapshot", _read_snapshot, _check_read),
]


# Warm-pass counts come from the median curves in WARMUP.json. The warm
# passes cover the steepest part of the JIT warm-up; reaching the plateau
# would not fit the run budget, so the timed passes sit on the slow tail
# of the warm-up, at the same pass indices on every commit.
WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "iterative_curation",
            ("documents", "lineitem"),
            [registry_op(n) for n in ("platt_discount_returns", "multimodal_frames")],
            warm_passes=2,
        ),
        Workload(
            "ingest_write",
            ("orders",),
            INGEST_OPS,
            warm_passes=1,
            prepare=_prepare_ingest,
        ),
    ]
}
