"""The benchmark's own tests. Run with ``python3 -m pytest pipebench -q``.

The last test runs the benchmark end to end, untraced and traced (about
two minutes).
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import layers  # noqa: E402
import run as bench  # noqa: E402
from workloads import Op, Workload, compare  # noqa: E402

SMALL_TABLES = ("region", "nation", "orders")


@pytest.fixture(scope="module")
def source():
    sys.path.insert(0, bench.ROOT)
    import __spark_entry__ as entry

    path = bench.source_dir(entry)
    if not os.path.isdir(path):
        pytest.skip(f"no sf0.1 tables at {path}")
    return path


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def test_same_seed_gives_byte_identical_inputs(source, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    inputs.generate(source, str(a), 7, SMALL_TABLES)
    inputs.generate(source, str(b), 7, SMALL_TABLES)
    assert _files(a) == _files(b)
    assert "corrections.parquet/part-00000.parquet" in _files(a)
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert mismatch == [] and errors == []


def test_other_seed_changes_layout_not_rows(source, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    inputs.generate(source, str(a), 7, ("orders",))
    inputs.generate(source, str(b), 8, ("orders",))
    orders_a = pq.read_table(a / "orders.parquet")
    orders_b = pq.read_table(b / "orders.parquet")
    assert orders_a != orders_b  # row order differs
    assert orders_a.sort_by("o_orderkey") == orders_b.sort_by("o_orderkey")
    assert orders_a.sort_by("o_orderkey") == pq.read_table(
        os.path.join(source, "orders.parquet"),
    ).sort_by("o_orderkey")


@pytest.fixture
def duck():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE want AS SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', NULL), "
        "(2, 'b', NULL), (3, 'c', 'NaN'::DOUBLE)) t(k, s, x)",
    )
    yield con
    con.close()


def test_compare_accepts_reordered_equal_output(duck):
    duck.execute("CREATE TABLE got AS SELECT x, s, k FROM want ORDER BY k DESC")
    assert compare(duck, "SELECT * FROM got", "SELECT * FROM want") is None


@pytest.mark.parametrize("corrupt", [
    "UPDATE got SET x = 0.5000000000000001 WHERE k = 1",  # one ulp off
    "UPDATE got SET s = 'z' WHERE k = 3",
    "DELETE FROM got WHERE k = 1",
    "INSERT INTO got VALUES (1, 'a', 0.5)",
    # duplicate swapped for another row: same count, different multiset
    "DELETE FROM got WHERE k = 3; INSERT INTO got VALUES (2, 'b', NULL)",
    "ALTER TABLE got RENAME COLUMN s TO s2",
])
def test_corrupted_output_fails_the_check(duck, corrupt):
    duck.execute("CREATE TABLE got AS SELECT * FROM want")
    duck.execute(corrupt)
    assert compare(duck, "SELECT * FROM got", "SELECT * FROM want") is not None


def test_self_times_are_parent_minus_children():
    spans = [
        layers.Span("op", "q", None, 0.0, 0, end=10.0, job1=5),
        layers.Span("construct", "q", 0, 1.0, 0, end=7.0, job1=3),
        layers.Span("pin", "q", 1, 2.0, 1, end=4.0, job1=2),
        layers.Span("pin", "q", 1, 5.0, 2, end=6.0, job1=3),
        layers.Span("execute", "q", 0, 7.5, 3, end=9.5, job1=5),
    ]
    st = layers.self_times(spans)
    assert st["construct"]["s"] == pytest.approx(6.0 - 3.0)
    assert st["construct"]["jobs"] == 1 and st["construct"]["jobs_incl"] == 3
    assert st["pin"]["s"] == pytest.approx(3.0) and st["pin"]["calls"] == 2
    assert st["execute"]["s"] == pytest.approx(2.0)
    assert st["op"]["s"] == pytest.approx(10.0 - 6.0 - 2.0)
    # self times partition the root span: nothing is lost or counted twice
    assert sum(v["s"] for v in st.values()) == pytest.approx(10.0)
    assert sum(v["jobs"] for v in st.values()) == 5


def test_tracer_nests_spans():
    jobs = iter(range(100))
    tracer = layers.Tracer(lambda: next(jobs))
    traced = tracer.wrap(lambda x: x + 1, "leaf")
    with tracer.span("op"):
        assert traced(1) == 2
    op, leaf = tracer.spans
    assert leaf.parent == 0 and op.parent is None
    assert op.start <= leaf.start <= leaf.end <= op.end
    assert (op.job0, leaf.job0, leaf.job1, op.job1) == (0, 1, 2, 3)


def test_patches_wrap_every_binding_and_restore():
    sys.path.insert(0, bench.ROOT)
    import __spark_entry__ as entry
    from rdsa_utils_spark.sources import readers

    class Frame:
        def localCheckpoint(self):  # noqa: N802 - the DataFrame method's name
            return "pinned"

    original = readers.read_parquet
    assert entry.read_parquet is original
    tracer = layers.Tracer(lambda: 0)
    with layers.Patches(tracer, Frame):
        assert readers.read_parquet is not original
        assert entry.read_parquet is readers.read_parquet
        assert Frame().localCheckpoint() == "pinned"
    assert readers.read_parquet is original and entry.read_parquet is original
    assert Frame.localCheckpoint.__name__ == "localCheckpoint"
    assert [s.name for s in tracer.spans] == [layers.PIN_SPAN]


def test_written_counts_only_new_or_changed_files(tmp_path):
    out = tmp_path / "live"
    out.mkdir()
    (out / "kept.parquet").write_bytes(b"k" * 10)
    (out / "rewritten.parquet").write_bytes(b"r" * 20)
    before = inputs.file_states(str(out))
    (out / "rewritten.parquet").write_bytes(b"R" * 30)
    os.utime(out / "rewritten.parquet", ns=(1, 1))  # a new mtime even on a coarse clock
    (out / "new.parquet").write_bytes(b"n" * 5)
    assert inputs.written_between(before, inputs.file_states(str(out))) == (35, 2)
    assert inputs.written_between({}, inputs.file_states(str(out / "new.parquet"))) == (5, 1)
    assert inputs.file_states(str(tmp_path / "absent")) == {}


def _ok(ctx, sink):
    return "out"


def _no_problem(ctx, out):
    return None


def _raises(ctx, sink):
    raise RuntimeError("boom\nstack")


def _raises_after_first_call():
    calls = []

    def run(ctx, sink):
        calls.append(sink)
        if len(calls) > 1:
            raise RuntimeError("boom\nstack")
        return "out"

    return run


class NoCounters:
    """Spark counters for a run without Spark."""

    def jvm(self) -> dict:
        return {}


@pytest.mark.parametrize("failing", [_raises, _raises_after_first_call()],
                         ids=["cold_pass", "warm_pass"])
def test_an_op_that_raises_is_a_failed_op(failing):
    """An op raising in the cold pass, or only in a later pass, fails
    that op; the run stops and reports the counts, without metrics."""
    ops = [Op("fine", _ok, _no_problem), Op("flaky", failing, _no_problem)]
    workload = Workload("w", (), ops, warm_passes=1)
    runner = bench.Runner(workload, ctx=None, counters=NoCounters(), cpus=1)
    run = bench.Run(workload, spark=None, runner=runner, counters=runner.counters,
                    create_s=0, warmup_s=0, setup_cpu_s=0, generate_s=0,
                    input_rows=0, input_bytes=1)
    args = argparse.Namespace(workload="w", seed=1, trace=0)
    detail, result = bench.measure_run(args, run)
    assert result == {"correct": False, "attempted": 2, "failed": 1, "metrics": {}}
    assert detail["failed_ops"] == [
        {"op": "flaky", "ok": False, "problem": "RuntimeError: boom"},
    ]


BENCHMARK = os.path.join(bench.ROOT, "BENCHMARK.json")


@pytest.mark.parametrize("trace", [0, 1])
def test_run_end_to_end(trace):
    """One run per mode: every op correct, exactly the declared metrics.
    Traced: tracing adds no job, and per-layer self times account for
    the ops' wall time up to the reported gap."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "ingest_write",
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, timeout=600, cwd=bench.ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == len(detail["detail"]["ops"])
    with open(BENCHMARK) as fh:
        declared = json.load(fh)
    kind = "per_layer" if trace else "end_to_end"
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared[kind]
    }
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        assert metrics["trace.extra_jobs"] == 0
        assert metrics["execute.jobs"] > 0
        assert 0 <= metrics["trace.selftime_gap_s"] < 0.05 * detail["detail"]["traced_pass_s"][0]
    else:
        assert all(v > 0 for v in metrics.values())
