"""Pipeline benchmark for rdsa_utils_spark: a single-client closed loop.

One process runs one ``create_spark_session(size="local")`` session and
runs a workload's ops one after another, the way a batch pipeline does:

1. set up: import the program, create the session, run warm-up jobs
   (``setup_s``; input generation is not part of it);
2. the cold pass: the workload's first pass in the fresh session
   (``cold_pass_cpu_s``). It collects each op's output through Arrow and
   checks it against DuckDB; the checks are not measured;
3. the workload's fixed number of untimed warm passes, which carry the
   JVM down the steep part of its JIT warm-up (see ``WARMUP.json``);
4. ``TIMED_PASSES`` timed passes. ``pass_cpu_s`` adds up, over the
   workload's ops, each op's least CPU time in them: a JIT compilation or
   collection burst that lands in one pass does not count. The
   count is fixed, so every run on every commit times the same pass
   indices; ``--seconds`` does not change it (the timed passes take 7
   to 12 s);
5. full collections until they stop freeing memory, then the heap still
   live (``retained_heap_mb``);
6. the session and the JVM stop, and the run waits for every process
   it started to exit.

The three times are CPU seconds of the whole process tree (this
process, the JVM, the Python workers): on a shared host the median pass
wall time of the same workload moved by 1.8x with the neighbours' load,
its CPU time by 1.3x. Wall-clock regressions, such as lost
parallelism, are therefore not gated: wall times are kept as per-layer
metrics (``wall.*``) and in the detail line.

An op that raises, in any pass, or whose output differs from DuckDB's
fails the run: the remaining passes are skipped and the result carries
``correct: false``, the counts and no metrics.

Usage::

    python3 pipebench/run.py --workload ingest_write --seed 1 --seconds 8 --trace 0

``--trace 1`` runs the same schedule but alternates untraced and traced
timed passes, and reports the per-layer metrics instead. The last line
of stdout is the result JSON; the line before it is a detail record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".pipebench")
TIMED_PASSES = 3

sys.path.insert(0, HERE)

import inputs  # noqa: E402
import layers  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS, Context, collect_sink, noop_sink, register_inputs,
)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isfile(
        os.path.join(ROOT, "rdsa_utils_spark", "session.py"),
    )


def source_dir(entry) -> str:
    """The read-only sf0.1 tables: ``$SPARK_GRAFT_SF_DIR``, else the
    ``sf0.1`` directory beside the program's default test data."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.dirname(entry.SF_DEFAULT), "sf0.1",
    )


def isolate_scratch(run_dir: str) -> dict[str, str]:
    """Point every temporary file of Python, Spark and the JVM into
    ``run_dir``; returns the session configs that do the JVM's part."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() caches its first answer
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Every JVM, including spark-submit's launcher: temp files here, and
    # no hsperfdata file in the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def warm_up(spark, data_dir: str, table: str) -> None:
    """Session warm-up jobs: the session's first job and its first
    parquet scan, whose one-off start-up would otherwise be billed to
    the first op."""
    from rdsa_utils_spark.sources.readers import read_parquet

    noop_sink(spark.range(1000).selectExpr("sum(id) AS s"))
    noop_sink(read_parquet(spark, os.path.join(data_dir, f"{table}.parquet")))


def describe(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}".splitlines()[0]


class OpFailed(Exception):
    """An op raised while it ran."""

    def __init__(self, op: str, problem: str):
        super().__init__(f"{op}: {problem}")
        self.check = {"op": op, "ok": False, "problem": problem}


class Runner:
    """Runs passes of one workload and keeps what the trace needs."""

    def __init__(self, workload, ctx: Context, counters: layers.SparkCounters, cpus: int):
        self.workload = workload
        self.ctx = ctx
        self.counters = counters
        self.cpus = cpus
        self.cpu_s: list[float] = []  # process-tree CPU seconds of each pass
        self.op_cpu_s: list[dict[str, float]] = []  # the same, per op

    def run_op(self, op, sink):
        try:
            return op.run(self.ctx, sink)
        except Exception as exc:
            raise OpFailed(op.name, describe(exc)) from exc

    def run_pass(self) -> float:
        self.workload.prepare(self.ctx)
        by_op = {}
        t0 = time.perf_counter()
        for op in self.workload.ops:
            cpu0 = layers.tree_cpu_s()
            self.run_op(op, noop_sink)
            by_op[op.name] = layers.tree_cpu_s() - cpu0
        seconds = time.perf_counter() - t0
        self.cpu_s.append(sum(by_op.values()))
        self.op_cpu_s.append(by_op)
        return seconds

    def cold_pass(self) -> tuple[float, list[dict]]:
        """The first pass, collecting each op's output and checking it
        against DuckDB with the clock stopped. Returns the timed seconds
        and one check record per op; an op that raises fails its check
        and the pass goes on. The pass's CPU time leaves out only
        this process's CPU while it checks: what the JVM does meanwhile
        (compiling, collecting) is work the pass started, and counting it
        keeps the figure independent of how long the checks take."""
        self.workload.prepare(self.ctx)
        timed, checking_cpu, checks = 0.0, 0.0, []
        cpu0 = layers.tree_cpu_s()
        for op in self.workload.ops:
            t0 = time.perf_counter()
            try:
                out, problem = self.run_op(op, collect_sink), None
            except OpFailed as failed:
                problem = failed.check["problem"]
            timed += time.perf_counter() - t0
            own0 = time.process_time()
            if problem is None:
                try:
                    problem = op.verify(self.ctx, out)
                except Exception as exc:  # a check that cannot read the output fails the op
                    problem = describe(exc)
            checking_cpu += time.process_time() - own0
            checks.append({"op": op.name, "ok": problem is None, "problem": problem})
        self.cpu_s.append(layers.tree_cpu_s() - cpu0 - checking_cpu)
        return timed, checks

    def traced_pass(self, phases: layers.PlanningPhases, input_bytes: int) -> dict:
        """One pass under :class:`layers.Patches`; returns its per-layer record."""
        c = self.counters
        tracer = layers.Tracer(c.job_id)
        self.ctx.tracer = tracer
        c.drain()
        job0, stage0 = c.job_id(), c.stage_id()
        jvm0, py0 = c.jvm(), layers.pyworker_cpu_s()
        plan0 = dict(phases.totals)
        written = {"bytes": 0, "files": 0}
        self.workload.prepare(self.ctx)
        dataframe_class = type(self.ctx.spark.range(1))
        t0 = time.perf_counter()
        with layers.Patches(tracer, dataframe_class):
            for op in self.workload.ops:
                outputs = [os.path.join(self.ctx.pass_dir, rel) for rel in op.writes]
                before = [inputs.file_states(path) for path in outputs]
                tracer.op = op.name
                with tracer.span("op"):
                    self.run_op(op, noop_sink)
                for path, old in zip(outputs, before):
                    nbytes, nfiles = inputs.written_between(old, inputs.file_states(path))
                    written["bytes"] += nbytes
                    written["files"] += nfiles
        wall = time.perf_counter() - t0
        self.ctx.tracer = layers.NullTracer()
        c.drain()
        jobs = c.job_id() - job0
        stages = c.stage_totals(stage0, c.stage_id())
        jvm1 = c.jvm()
        st = layers.self_times(tracer.spans)
        self.last_by_op = {
            op.name: {
                name: round(v["s"], 4)
                for name, v in layers.self_times(tracer.spans, op.name).items()
            }
            for op in self.workload.ops
        }

        def layer(name, key="s"):
            return st.get(name, {}).get(key, 0)

        rec = {
            "wall_s": wall,
            "jobs": jobs,
            "construct.s": layer("construct"),
            "construct.jobs": layer("construct", "jobs_incl"),
            "pin.calls": layer(layers.PIN_SPAN, "calls"),
            "pin.s": layer(layers.PIN_SPAN),
            "tuning.ensure_parallelism.calls": layer("tuning.ensure_parallelism", "calls"),
            "tuning.smart_coalesce.s": layer("tuning.smart_coalesce"),
            "execute.s": layer("execute"),
            "execute.jobs": jobs,
            "execute.stages": stages["stages"],
            "execute.tasks": stages["tasks"],
            "execute.task_run_ms": stages["task_run_ms"],
            "execute.task_cpu_ms": stages["task_cpu_ms"],
            "execute.gc_ms": stages["gc_ms"],
            "execute.shuffle_read_bytes": stages["shuffle_read_bytes"],
            "execute.shuffle_write_bytes": stages["shuffle_write_bytes"],
            "execute.spill_bytes": stages["memory_spill_bytes"] + stages["disk_spill_bytes"],
            "execute.slot_idle_frac": 1 - stages["task_run_ms"] / 1000 / (wall * self.cpus),
            "jvm.gc_count": jvm1["gc_count"] - jvm0["gc_count"],
            "jvm.gc_s": jvm1["gc_s"] - jvm0["gc_s"],
            "jvm.heap_committed_mb": jvm1["heap_committed_mb"],
            "pyworker.cpu_s": layers.pyworker_cpu_s() - py0,
            "sources.bytes_written": written["bytes"],
            "sources.files_written": written["files"],
            "sources.write_amp": written["bytes"] / input_bytes,
            "trace.selftime_gap_s": layer("op"),
        }
        for phase in ("analysis", "optimization", "planning"):
            rec[f"plan.{phase}_s"] = phases.totals[phase] - plan0[phase]
        for fn in layers.SOURCES_FUNCTIONS:
            rec[f"sources.{fn}.s"] = layer(f"sources.{fn}")
        return rec


@dataclass
class Run:
    """A set-up session for one workload, with its seeded inputs."""

    workload: object
    spark: object
    runner: Runner
    counters: layers.SparkCounters
    create_s: float  # wall: program import plus session creation
    warmup_s: float  # wall: the warm-up jobs
    setup_cpu_s: float  # process-tree CPU of both
    generate_s: float  # wall: the seeded inputs and DuckDB over them
    input_rows: int
    input_bytes: int

    def close(self) -> None:
        self.runner.ctx.duck.close()
        layers.stop_session(self.spark)


def open_run(workload_name: str, seed: int, run_dir: str) -> Run:
    """Set up: import the program (timed); write the seeded inputs and
    open DuckDB over them (untimed, before the JVM exists, so nothing
    runs beside it); create the session and run the warm-up jobs
    (timed). The cold pass can start right after, so the JVM's
    background work left over from set-up always lands in it."""
    workload = WORKLOADS[workload_name]
    configs = isolate_scratch(run_dir)
    data_dir = os.path.join(run_dir, "data")

    cpu0, t0 = layers.tree_cpu_s(), time.perf_counter()
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from rdsa_utils_spark.session import create_spark_session

    import_s, import_cpu = time.perf_counter() - t0, layers.tree_cpu_s() - cpu0

    t_gen = time.perf_counter()
    rows = inputs.generate(source_dir(entry), data_dir, seed, workload.tables)
    duck = duckdb.connect()
    register_inputs(duck, data_dir, rows)
    queries = {**entry.queries(), **entry.extra_queries()}
    oracles = {**entry.oracle_sql(), **entry.extra_oracle_sql()}
    generate_s = time.perf_counter() - t_gen

    cpu1, t1 = layers.tree_cpu_s(), time.perf_counter()
    spark = create_spark_session("pipebench", size="local", extra_configs=configs)
    create_s = import_s + time.perf_counter() - t1
    t2 = time.perf_counter()
    warm_up(spark, data_dir, workload.tables[0])
    warmup_s = time.perf_counter() - t2
    setup_cpu_s = import_cpu + layers.tree_cpu_s() - cpu1

    ctx = Context(
        spark=spark, data_dir=data_dir, pass_dir=os.path.join(run_dir, "pass"),
        tracer=layers.NullTracer(), duck=duck, queries=queries, oracles=oracles,
    )
    counters = layers.SparkCounters(spark)
    runner = Runner(workload, ctx, counters, int(os.environ["SPARK_GRAFT_CPUS"]))
    return Run(
        workload, spark, runner, counters, create_s, warmup_s, setup_cpu_s, generate_s,
        input_rows=sum(rows.values()), input_bytes=inputs.stored_bytes(data_dir, rows),
    )


def measure(args, run_dir: str) -> tuple[dict, dict]:
    steal0 = layers.steal_s()
    run = open_run(args.workload, args.seed, run_dir)
    try:
        detail, result = measure_run(args, run)
    finally:
        t_stop = time.perf_counter()
        run.close()
    detail.setdefault("phase_s", {})["stop"] = time.perf_counter() - t_stop
    detail["steal_s"] = round(layers.steal_s() - steal0, 3)
    return detail, result


def verdict(checks: list[dict], metrics: dict) -> dict:
    return {
        "correct": all(c["ok"] for c in checks),
        "attempted": len(checks),
        "failed": sum(not c["ok"] for c in checks),
        "metrics": metrics,
    }


def failed_run(args, checks: list[dict]) -> tuple[dict, dict]:
    """The result of a run that stopped at a failed op: counts, no metrics."""
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "failed_ops": [c for c in checks if not c["ok"]],
    }
    return detail, verdict(checks, {})


def measure_run(args, run: Run) -> tuple[dict, dict]:
    workload, runner, counters = run.workload, run.runner, run.counters
    input_bytes = run.input_bytes

    cold_pass_s, checks = runner.cold_pass()
    if not all(c["ok"] for c in checks):
        return failed_run(args, checks)
    try:
        after_cold = counters.jvm()
        t_warm = time.perf_counter()
        for _ in range(workload.warm_passes):
            runner.run_pass()
        warm_s = time.perf_counter() - t_warm

        phases = layers.PlanningPhases(run.spark) if args.trace else None
        timed, traced = [], []
        untraced_jobs = []
        try:
            for i in range(TIMED_PASSES * (2 if args.trace else 1)):
                if args.trace and i % 2:
                    traced.append(runner.traced_pass(phases, input_bytes))
                else:
                    job0 = counters.job_id()
                    timed.append(runner.run_pass())
                    untraced_jobs.append(counters.job_id() - job0)
        finally:
            if phases is not None:
                phases.close()
    except OpFailed as failed:
        op = failed.check["op"]
        return failed_run(args, [failed.check if c["op"] == op else c for c in checks])
    t_heap = time.perf_counter()
    heap = counters.retained_heap()
    heap_s = time.perf_counter() - t_heap
    jvm_end = counters.jvm()
    timed_cpu = runner.op_cpu_s[workload.warm_passes:]

    detail = {
        "workload": workload.name,
        "seed": args.seed,
        "cpus": runner.cpus,
        "ops": [op.name for op in workload.ops],
        "input_rows_per_pass": run.input_rows,
        "input_bytes_per_pass": input_bytes,
        "warm_passes": workload.warm_passes,
        "timed_passes": len(timed),
        "pass_wall_s": [round(x, 4) for x in timed],
        "pass_cpu_s": [round(x, 4) for x in runner.cpu_s[1 + workload.warm_passes:]],
        "op_cpu_s": {op.name: [round(p[op.name], 3) for p in timed_cpu] for op in workload.ops},
        "wall_s": {"setup": round(run.create_s + run.warmup_s, 3),
                   "cold": round(cold_pass_s, 3)},
        "gc_count": jvm_end["gc_count"],
        "gc_s": jvm_end["gc_s"],
        "heap_committed_mb": round(jvm_end["heap_committed_mb"], 1),
        "heap_read": {"collections": heap["collections"], "pinned_rdds": heap["pinned_rdds"]},
        "phase_s": {
            "create": run.create_s, "generate": run.generate_s, "warm_up": run.warmup_s,
            "cold": cold_pass_s, "warm": warm_s,
            "timed": sum(timed) + sum(r["wall_s"] for r in traced),
            "heap": heap_s,
        },
    }
    if args.trace:
        detail["traced_pass_s"] = [round(r["wall_s"], 4) for r in traced]
        detail["self_s_by_op"] = runner.last_by_op
        metrics = {
            key: statistics.median(r[key] for r in traced)
            for key in traced[0]
            if key not in ("wall_s", "jobs")
        }
        metrics.update({
            "jvm.jit_s": after_cold["jit_s"],
            "jvm.classes_loaded": after_cold["classes_loaded"],
            "pyworker.peak_rss_mb": layers.pyworker_peak_rss_mb(),
            "session.create_s": run.create_s,
            "session.warmup_s": run.warmup_s,
            "wall.setup_s": run.create_s + run.warmup_s,
            "wall.cold_pass_s": cold_pass_s,
            "wall.pass_s": statistics.median(timed),
            "proc.peak_rss_mb": layers.tree_peak_rss_mb(),
            "trace.overhead_s": statistics.median(r["wall_s"] for r in traced)
            - statistics.median(timed),
            "trace.extra_jobs": statistics.median(r["jobs"] for r in traced)
            - statistics.median(untraced_jobs),
        })
    else:
        metrics = {
            "setup_s": run.setup_cpu_s,
            "cold_pass_cpu_s": runner.cpu_s[0],
            "pass_cpu_s": sum(min(p[op.name] for p in timed_cpu) for op in workload.ops),
            "retained_heap_mb": heap["mb"],
        }
    return detail, verdict(checks, metrics)


def declared_units() -> dict[str, str]:
    """Each metric's unit, as ``BENCHMARK.json`` declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for kind in ("end_to_end", "per_layer") for m in spec[kind]}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not program_present():
        print(f"rdsa_utils_spark not found under {ROOT}", file=sys.stderr)
        return 2
    units = declared_units()
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        detail, result = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result["metrics"] = {
        k: {"value": v, "unit": units[k]} for k, v in sorted(result["metrics"].items())
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
