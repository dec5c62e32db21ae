#!/usr/bin/env python3
"""Benchmark for the Dow-30 earnings engine.

    python3 perfbench/run.py --workload analyst_reads --seed 1 --seconds 20 --trace 0

Run from the repository root. One closed-loop client drives the engine
through its public surface: ``__spark_entry__.queries()`` for query ops and
the OCC API of ``plans/maintenance.py`` for lake ops. Inputs are generated
from ``--seed``; every op's output is checked. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics (from an
in-memory span trace) with ``--trace 1``. The full record of a run, with
host telemetry, is written under ``perfbench/results/``. See
``perfbench/README.md`` for the metrics and what each should move.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import telemetry  # noqa: E402
from engine import ENGINE_PKG, Engine  # noqa: E402
from spans import TRACED, Tracer  # noqa: E402
from workloads import FAMILIES, SPECS, Lake, OpResult, deck_pass, oracle_hashes, run_query  # noqa: E402

SETUP_CYCLES = 3
RUN_DEADLINE_S = 165.0  # start no pass that could end after this


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _configure_env(work: Path, sf_dir: Path, cpus: int) -> None:
    """Pin parallelism and keep every file the engine writes in the checkout."""
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g")
    # The heap is committed and touched at JVM start, so the JVM's share of
    # peak_rss_mb is its configured size, not wherever G1's heap sizing
    # happened to stop in this run.
    heap = f"-Xms{mem} -XX:+AlwaysPreTouch"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_GRAFT_SF_DIR": str(sf_dir),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData {heap}' "
                               "pyspark-shell",
    })
    tempfile.tempdir = None


def _tree_state(root: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _remove_new(root: Path, before: set[str]) -> None:
    """Delete what a run added under ``root``; what existed stays."""
    if not root.is_dir():
        return
    for d, dirs, files in os.walk(root, topdown=True):
        rel = os.path.relpath(d, root)
        for name in list(dirs):
            r = os.path.normpath(os.path.join(rel, name))
            if r not in before:
                shutil.rmtree(os.path.join(d, name), ignore_errors=True)
                dirs.remove(name)
        for name in files:
            if os.path.normpath(os.path.join(rel, name)) not in before:
                os.remove(os.path.join(d, name))


def _listing(root: Path) -> set[str]:
    out = set()
    for d, dirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        out.update(os.path.normpath(os.path.join(rel, n)) for n in dirs + files)
    return out


class Runner:
    def __init__(self, spec, seed: int, seconds: float, work: Path, sf_dir: Path):
        self.spec, self.seconds, self.sf_dir = spec, seconds, str(sf_dir)
        self.rng = random.Random(seed)
        self.lake = Lake(str(work / "lake" / "orders_by_year"), self.sf_dir, seed) if spec.merges else None
        self.tracer = None
        self.engine = None
        self.want: dict[str, str] = {}
        self.lake_seen: dict[str, int] | None = None  # data files, while measuring the first traced pass
        self.lake_bytes = 0
        self.lake_rows0 = 0
        self.first_pass_lake: tuple[int, int, dict] = (0, 0, {})

    # -- one op ----------------------------------------------------------
    def op(self, op_id: int, name: str) -> OpResult:
        root = self.tracer.op(op_id, name) if self.tracer else None
        t0 = time.perf_counter()
        try:
            if name == "lake_merge":
                res = self.lake.merge(self.engine)
            elif name == "lake_read":
                res = self.lake.read(self.engine)
            elif name == "lake_maintain":
                res = self.lake.maintain(self.engine)
            else:
                res = run_query(self.engine, name, self.sf_dir, self.want[name], phases=bool(self.tracer))
        except Exception:  # an op that raises is a failed op, not a crashed run
            err = traceback.format_exc()
            print(f"op {op_id} {name} raised:\n{err}", file=sys.stderr)
            res = OpResult(name, "error", t0, time.perf_counter(), False, err.strip().splitlines()[-1])
        if not res.ok and res.kind != "error":
            print(f"op {op_id} {name} failed its check: {res.error}", file=sys.stderr)
        if self.tracer:
            if res.kind == "query":
                self.tracer.record(f"{res.family}.build", res.start, res.start + res.build_s)
                self.tracer.record(f"{res.family}.exec", res.start + res.build_s, res.end)
            self.tracer.end(root)
            res.jobs = self.engine.jobs_since_last()
            if self.lake_seen is not None and name.startswith("lake_"):
                files = self.lake.data_files()
                self.lake_bytes += sum(s for f, s in files.items() if f not in self.lake_seen)
                self.lake_seen.update(files)
        return res

    def run_pass(self, first_id: int, rng: random.Random, warm: bool = False) -> list[OpResult]:
        return [self.op(first_id + i, n) for i, n in enumerate(deck_pass(self.spec, rng, warm))]

    # -- phases ----------------------------------------------------------
    def setup(self, oracle: "_Oracle") -> list[dict]:
        """Three set-up cycles. The DuckDB oracle runs on a background
        thread during the first, which alone launches the JVM and so is
        the slowest cycle: the median never reads it."""
        cycles = []
        oracle.start()
        for k in range(SETUP_CYCLES):
            if self.engine is not None:
                self.engine.stop(keep_jvm=True)
            if k == 1:
                self.want = oracle.result()
            t0 = time.perf_counter()
            self.engine = Engine.start()
            t1 = time.perf_counter()
            if self.lake:
                self.lake.load(self.engine)
            cycles.append({
                "session_s": self.engine.session_s,
                "registry_s": self.engine.registry_s,
                "fixture_s": time.perf_counter() - t1,
                "total_s": time.perf_counter() - t0,
            })
        return cycles

    def start_tracing(self) -> None:
        self.tracer = Tracer()
        self.tracer.install(self.engine.module)
        if self.lake:
            self.lake_seen = self.lake.data_files()
            self.lake_rows0 = self.lake.rows_written
        self.engine.sync_jobs()

    def loop(self, t_proc: float) -> tuple[list[list[OpResult]], float]:
        passes: list[list[OpResult]] = []
        t0 = time.perf_counter()
        while len(passes) < self.spec.min_passes or time.perf_counter() - t0 < self.seconds:
            p0 = time.perf_counter()
            passes.append(self.run_pass(sum(map(len, passes)), self.rng))
            if self.lake_seen is not None:
                rows = self.lake.rows_written - self.lake_rows0
                self.tracer.uninstall()  # the layout probe is not the workload's work
                self.first_pass_lake = (self.lake_bytes, rows, self.lake.layout(self.engine))
                self.tracer.install(self.engine.module)
                self.lake_seen = None
            if time.perf_counter() - t_proc + (time.perf_counter() - p0) > RUN_DEADLINE_S:
                break
        return passes, time.perf_counter() - t0


class _Oracle(threading.Thread):
    """Hashes of every deck query's oracle output, computed off the main thread."""

    def __init__(self, sf_dir: str, names, sql: dict):
        super().__init__(name="oracle", daemon=True)
        import tests.oracle_harness  # noqa: F401  (import here, not on the thread)

        self.args = (sf_dir, names, sql)
        self.hashes: dict[str, str] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self.hashes = oracle_hashes(*self.args)
        except BaseException as e:  # re-raised on the main thread by result()
            self.error = e

    def result(self) -> dict[str, str]:
        self.join()
        if self.error is not None:
            raise self.error
        return self.hashes


def _tail_n(spec, n_ops: int) -> int:
    """How many ops lie beyond the workload's tail percentile."""
    return max(1, int(n_ops * (100 - spec.tail_pct) / 100))


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def end_to_end(spec, cycles, warm_s, ops, peak_rss) -> dict:
    """Throughput counts only time inside ops: the client issues the next
    op as soon as it has checked the last, and checking is not engine
    work."""
    walls = [o.wall_s for o in ops]
    return {
        "setup_s": (statistics.median(c["total_s"] for c in cycles) + warm_s, "s"),
        "ops_per_s": (len(ops) / sum(walls), "1/s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_tail_s": (_mean(sorted(walls)[-_tail_n(spec, len(walls)):]), "s"),
        "ok_frac": (sum(o.ok for o in ops) / len(ops), "1"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def per_layer(runner, cycles, warm_s, passes, gc_s, overhead) -> dict:
    ops = [o for p in passes for o in p]
    first = passes[0]
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (statistics.median(c["session_s"] for c in cycles), "s"),
        "registry.load_s": (statistics.median(c["registry_s"] for c in cycles), "s"),
        "warmup_s": (warm_s, "s"),
    }
    for fam in FAMILIES:
        fo = [o for o in ops if o.family == fam]
        m[f"{fam}.build_s"] = (_mean(o.build_s for o in fo), "s")
        m[f"{fam}.exec_s"] = (_mean(o.exec_s for o in fo), "s")
        ff = [o for o in first if o.family == fam]
        m[f"{fam}.jobs"] = (_mean(len(o.jobs) for o in ff), "count")
        m[f"{fam}.tasks"] = (_mean(sum(j["tasks"] for j in o.jobs) for o in ff), "count")
    qo = [o for o in ops if o.catalyst_ms]
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = (_mean(o.catalyst_ms[phase] for o in qo), "ms")
    m["spark.jobs_per_op"] = (_mean(len(o.jobs) for o in first), "count")
    m["spark.stages_per_op"] = (_mean(sum(j["stages"] for j in o.jobs) for o in first), "count")
    m["spark.tasks_per_op"] = (_mean(sum(j["tasks"] for j in o.jobs) for o in first), "count")
    busy = [_busy_s(o.jobs) for o in ops]
    m["spark.job_busy_s"] = (_mean(busy), "s")
    m["spark.between_jobs_s"] = (_mean(o.wall_s - b for o, b in zip(ops, busy)), "s")
    st = runner.tracer.self_times()
    for span in TRACED:
        m[f"{span}_s"] = (st.get(span, (0.0, 0))[0] / len(ops), "s")
    first_calls = Counter(s[0] for s in runner.tracer.spans if 0 <= s[4] < len(first))
    m["parquet_lake.fsync_calls"] = (first_calls.get("parquet_lake.fsync", 0) / len(first), "count")
    m["maintenance.commit_calls"] = (first_calls.get("maintenance.commit", 0) / len(first), "count")
    lake_bytes, lake_rows, layout = runner.first_pass_lake
    m["lake.bytes_written_per_row"] = (lake_bytes / lake_rows if lake_rows else 0.0, "B")
    m["lake.live_bytes_per_row"] = (layout.get("lake.live_bytes_per_row", 0.0), "B")
    m["lake.live_files"] = (layout.get("lake.live_files", 0), "count")
    m["lake.manifest_files"] = (layout.get("lake.manifest_files", 0), "count")
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    m["lake.write_p50_s"] = (med([o.write_s for o in ops if o.kind == "merge"]), "s")
    m["lake.fresh_p50_s"] = (med([o.fresh_s for o in ops if o.kind == "merge"]), "s")
    m["lake.read_p50_s"] = (med([o.wall_s for o in ops if o.kind == "read"]), "s")
    m["jvm.gc_s"] = (gc_s / len(ops), "s")
    m["trace.overhead_frac"] = (overhead, "1")
    return m


def _busy_s(jobs: list[dict]) -> float:
    """Wall time covered by at least one job (union of job intervals)."""
    spans = sorted((j["start_ms"], j["end_ms"]) for j in jobs if j["start_ms"] and j["end_ms"])
    busy, reach = 0.0, None
    for a, b in spans:
        if reach is None or a > reach:
            busy += b - a
            reach = b
        elif b > reach:
            busy += b - reach
            reach = b
    return busy / 1000.0


def run(args, t_proc: float) -> tuple[dict, dict]:
    spec = SPECS[args.workload]
    pid = os.getpid()
    work = HERE / ".work" / f"{spec.name}-s{args.seed}-p{pid}"
    sf_dir = work / f"sf{spec.sf}-s{args.seed}"
    cpus = len(os.sched_getaffinity(0))
    _configure_env(work, sf_dir, cpus)
    os.chdir(ROOT)
    sys.path.insert(0, str(ROOT))
    scratch = ROOT / ".scratch"
    scratch_before = _listing(scratch)
    record: dict = {"workload": spec.name, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "cpus": cpus, "sf": spec.sf,
                    "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"], "python": sys.version.split()[0]}
    host0 = telemetry.host_snapshot()
    runner = Runner(spec, args.seed, args.seconds, work, sf_dir)
    phase = {"start": time.perf_counter() - t_proc}
    try:
        with telemetry.RssSampler() as rss:
            record["rows"] = datagen.write_tables(args.seed, spec.sf, str(sf_dir))
            phase["datagen"] = time.perf_counter() - t_proc
            import __spark_entry__

            oracle = _Oracle(str(sf_dir), spec.queries, __spark_entry__.oracle_sql())
            cycles = runner.setup(oracle)
            phase["setup"] = time.perf_counter() - t_proc
            engine = runner.engine
            record["spark_version"] = engine.spark.version
            t = time.perf_counter()
            warm = runner.run_pass(-10_000, random.Random(args.seed ^ 0x5EED), warm=True)
            warm_s = time.perf_counter() - t
            phase["warm"] = time.perf_counter() - t_proc
            overhead = 0.0
            if args.trace:
                ref = runner.run_pass(-20_000, random.Random(args.seed ^ 0xC0DE))
                runner.start_tracing()
            marked = _tree_state(scratch) if spec.readonly else None
            gc0 = engine.gc_seconds()
            passes, wall = runner.loop(t_proc)
            phase["loop"] = time.perf_counter() - t_proc
            gc_s = engine.gc_seconds() - gc0
            ops = [o for p in passes for o in p]
            problems = []
            if marked is not None and _tree_state(scratch) != marked:
                now = _tree_state(scratch)
                changed = sorted(k for k in set(marked) | set(now) if marked.get(k) != now.get(k))
                problems.append(f"read-only workload changed .scratch: {changed[:5]}")
            if any(not o.ok for o in warm):
                problems.append("warm pass: " + "; ".join(f"{o.name}: {o.error}" for o in warm if not o.ok))
            if args.trace:
                runner.tracer.uninstall()
                traced = sum(o.wall_s for o in passes[0])
                overhead = traced / sum(o.wall_s for o in ref) - 1.0
                runner.tracer.dump(str(_results_dir() / f"{_stem(args, pid)}-spans.jsonl"))
            engine.stop()
            phase["stop"] = time.perf_counter() - t_proc
    finally:
        try:
            if runner.engine is not None:
                runner.engine.stop()  # no-op after a normal stop
        finally:
            phase["sampler"] = time.perf_counter() - t_proc
            _remove_new(scratch, scratch_before)
            phase["scratch"] = time.perf_counter() - t_proc
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()
            except OSError:  # another run's work dir is still there
                pass
    phase["cleanup"] = time.perf_counter() - t_proc
    record["phase_end_s"] = phase
    record["host"] = telemetry.host_delta(host0, telemetry.host_snapshot())
    record["jvm_gc_s"] = gc_s
    record["setup_cycles"] = cycles
    record["warmup_s"] = warm_s
    record["passes"] = len(passes)
    record["loop_wall_s"] = wall
    record["ops"] = [{"name": o.name, "wall_s": round(o.wall_s, 6), "ok": o.ok, "error": o.error} for o in ops]
    record["problems"] = problems
    record["peak_mb_by_process"] = {k: round(v / 2**20, 1) for k, v in rss.peak_by_name.items()}
    e2e = end_to_end(spec, cycles, warm_s, ops, rss.peak)
    record["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    record["tail"] = {"percentile": spec.tail_pct, "samples": len(ops), "beyond": _tail_n(spec, len(ops))}
    if args.trace:
        layers = per_layer(runner, cycles, warm_s, passes, gc_s, overhead)
        record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    failed = sum(not o.ok for o in ops)
    result = {
        "correct": failed == 0 and not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": record["per_layer" if args.trace else "end_to_end"],
    }
    return record, result


def _results_dir() -> Path:
    d = HERE / "results"
    d.mkdir(exist_ok=True)
    return d


def _stem(args, pid: int) -> str:
    return f"{args.workload}-s{args.seed}-t{args.trace}-p{pid}"


def main(argv=None) -> int:
    t_proc = time.perf_counter()
    args = _parse(argv)
    # A terminated run still stops its engine and removes what it wrote.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / ENGINE_PKG).is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"engine not found: run from a checkout holding {ENGINE_PKG}/ and __spark_entry__.py",
              file=sys.stderr)
        return 2
    record, result = run(args, t_proc)
    with open(_results_dir() / f"{_stem(args, os.getpid())}.json", "w") as fh:
        json.dump(record, fh, indent=1)
    host = record["host"]
    print(f"# {args.workload} seed={args.seed} cpus={record['cpus']} spark={record['spark_version']} "
          f"passes={record['passes']} ops={result['attempted']} failed={result['failed']} "
          f"tail=p{record['tail']['percentile']} (n={record['tail']['samples']}) "
          f"load={host['loadavg_before'][0]}->{host['loadavg_after'][0]} steal={host['steal_frac']} "
          f"iowait={host['iowait_frac']} gc={record['jvm_gc_s']:.2f}s")
    for name, mv in result["metrics"].items():
        print(f"#   {name:36s} {mv['value']:.6g} {mv['unit']}")
    for p in record["problems"]:
        print(f"# problem: {p}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
