"""Benchmark entry point.

    python3 perfbench/run.py --workload queries|pipeline \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout of the program. Each run generates its
inputs from ``--seed`` into ``.perfbench_runs/`` under the checkout, starts
one Spark driver at ``local[nproc]`` with one closed-loop client (this
process, no other threads), sets up, runs a fixed amount of timed work
(sized once from ``--seconds``), checks the outputs outside the timed
phase, removes everything it created and prints, as the last stdout line,
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``, as BENCHMARK.json names them. The line before
it, prefixed ``perfbench-record``, carries the detail (input digest,
set-up parts, checks, per-op and per-pass times, and the wall-clock
figures of an untraced run).
See perfbench/README.md for the metric -> layer -> workload map.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "aws_data_pipeline_spark"

# metric name -> unit, as BENCHMARK.json declares them
_SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


class Run:
    """State of one benchmark run, shared by the workload and the report."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        from tracing import NullTracer, Tracer

        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.dir = ROOT / ".perfbench_runs" / f"{workload}-s{seed}-{os.getpid()}"
        self.tracer = Tracer() if trace else NullTracer()
        self.spark = None
        self.proc = None
        self.setup: dict[str, float] = defaultdict(float)
        self.layers: dict[str, float] = {}
        self.notes: dict = {}
        self.ops: list[tuple[str, float]] = []
        self.unit_kinds: set[str] = set()
        self.input_rows = 0
        self.attempted = self.failed = 0
        self.checks: dict[str, str] = {}
        self.index_tags: list[str] = []
        self.timed_window = (0.0, 0.0)
        self.wall = self.cpu = self.peak_rss_mb = 0.0
        self.passes: list[tuple[float, float]] = []  # (wall, cpu) per pass
        self.host: dict[str, float] = {}
        # parquet written per zone kind, traced runs only
        self.zone = {k: dict.fromkeys(("files", "silver_files", "rows", "bytes"), 0)
                     for k in ("batch", "stream")}
        self.inspect_s = 0.0
        self.progress: list[dict] = []

    # ---- set-up ---------------------------------------------------------
    def start_spark(self):
        from pyspark import SparkContext

        from aws_data_pipeline_spark.session import get_spark
        from tracing import ProcStats

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            # the whole heap (-Xmx = spark.driver.memory) committed and touched
            # at start, so peak RSS does not follow when GC chose to grow it
            # a fixed set of JIT compiler threads, so none exits with its
            # CPU time before ProcStats.jit_s reads it
            "spark.driver.extraJavaOptions":
                "-XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch "
                "-XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={self.dir / 'tmp'}",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session.start_s"] += time.perf_counter() - t0
        self.proc = ProcStats(SparkContext._gateway.proc.pid)
        return self.spark

    def note(self, **kw) -> None:
        self.notes.update(kw)

    # ---- timed phase ----------------------------------------------------
    @contextmanager
    def timed(self):
        from tracing import host_ticks, steal_pct

        load1 = os.getloadavg()[0]
        ticks = host_ticks()
        self.proc.reset_peak_rss()  # set-up's peak is not the timed work's
        cpu0, jit0 = self.proc.cpu_s(), self.proc.jit_s()
        t0, w0 = time.time(), time.perf_counter()
        yield
        self.wall = time.perf_counter() - w0
        self.timed_window = (t0, time.time())
        self.cpu = self.proc.cpu_s() - cpu0
        self.layers["session.jit_cpu_s"] = self.proc.jit_s() - jit0
        self.peak_rss_mb = self.proc.peak_rss_mb()  # before any output check runs
        self.host = {"host.steal_pct": steal_pct(ticks, host_ticks()), "host.load1": load1}

    @contextmanager
    def one_pass(self):
        """One repetition of the timed work; see ``pass_wall_cpu``."""
        cpu0, w0 = self.proc.cpu_s(), time.perf_counter()
        yield
        self.passes.append((time.perf_counter() - w0, self.proc.cpu_s() - cpu0))

    @contextmanager
    def op(self, kind: str):
        """One unit operation of the closed loop; an exception counts as a
        failed operation and the loop goes on."""
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("op", op=self.tracer.new_op()) as rec:
            if rec is not None:
                rec["kind"] = kind
            try:
                yield rec
            except Exception:
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
        self.ops.append((kind, time.perf_counter() - t0))

    def inspect_zone(self, rec, zones: Path, kind: str) -> None:
        """Traced runs only: count the parquet files this op wrote under
        ``zones``, whose ``silver`` holds the rows."""
        if rec is None:
            return
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        files = silver_files = rows = size = 0
        for root, _, names in os.walk(zones):
            for n in names:
                full = os.path.join(root, n)
                st = os.stat(full)
                if not n.endswith(".parquet") or st.st_mtime < rec["start"]:
                    continue
                files += 1
                size += st.st_size
                if Path(full).relative_to(zones).parts[0] == "silver":
                    silver_files += 1
                    rows += pq.read_metadata(full).num_rows
        rec.update(files=files, silver_files=silver_files, rows=rows)
        z = self.zone[kind]
        z["files"] += files
        z["silver_files"] += silver_files
        z["rows"] += rows
        z["bytes"] += size
        self.inspect_s += time.perf_counter() - t0

    def streaming_progress(self, progress: list[dict]) -> None:
        t0, t1 = self.timed_window
        self.progress = [p for p in progress if t0 <= p["t"] <= t1 + 1]

    # ---- checks -----------------------------------------------------------
    def check(self, name: str, reason: str | None, ops: int = 1) -> None:
        """Record one output check; a mismatch marks ``ops`` operations failed."""
        self.checks[name] = reason or "ok"
        if reason is not None:
            self.failed += ops
            print(f"perfbench: check {name} failed: {reason}", file=sys.stderr)

    def kind_medians(self) -> dict[str, float]:
        by: dict[str, list[float]] = defaultdict(list)
        for kind, s in self.ops:
            by[kind].append(s)
        return {k: statistics.median(v) for k, v in by.items()}

    # ---- report -----------------------------------------------------------
    def pass_wall_cpu(self) -> tuple[float, float]:
        """Wall and CPU time of one pass of the timed work. A workload that
        repeats its work in passes takes each operation's best wall time and
        the best pass's CPU time: late JIT compilation and load from other
        tenants of the host only ever add time. Otherwise the pass is the
        whole timed phase."""
        if not self.passes:
            return self.wall, self.cpu
        best: dict[str, float] = {}
        for kind, s in self.ops:
            best[kind] = min(s, best.get(kind, s))
        return sum(best.values()), min(c for _, c in self.passes)

    def wall_figures(self) -> dict[str, float]:
        """Wall-clock figures of the timed work. They follow the CPU steal
        of a shared host, so they are per-layer context, not end-to-end
        metrics."""
        lat = [s for k, s in self.ops if k in self.unit_kinds]
        wall = self.pass_wall_cpu()[0]
        return {
            "trace.wall_s": wall,
            "trace.latency_p50_s": statistics.median(lat),
            "trace.latency_samples": len(lat),
            "trace.rows_per_s": self.input_rows / wall,
        }

    def end_to_end(self) -> dict[str, float]:
        self.notes["wall"] = self.wall_figures()
        return {
            "setup_s": sum(self.setup.values()),
            "cpu_s": self.pass_wall_cpu()[1],
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self) -> dict[str, float]:
        from tracing import SparkCounters

        out = dict.fromkeys(PER_LAYER, 0.0)
        out.update(self.setup)
        out.update(self.host)
        out.update(self.layers)
        tr = self.tracer
        counters = SparkCounters(self.spark)
        counters.fetch()
        t0, t1 = self.timed_window
        jobs = counters.jobs_between(t0, t1)
        build = [j for j in jobs if (s := tr.innermost(j["t"])) and s["name"] == "plans.build"]
        run_jobs = [j for j in jobs if j not in build]
        exec_s = tr.total("exec") or tr.total("op")
        build_s = tr.total("plans.build")
        ex = counters.totals(run_jobs)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        out.update({
            "plans.build_s": build_s,
            "plans.build_jobs": len(build),
            "plans.build_share": build_s / (build_s + exec_s),
            "exec.s": exec_s,
            "exec.jobs": ex["jobs"],
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.task_run_s": ex["run_ms"] / 1000,
            "exec.busy_share": ex["run_ms"] / 1000 / (exec_s * cores),
            "exec.shuffle_read_mb": ex["shuffle_read"] / 2**20,
            "exec.shuffle_write_mb": ex["shuffle_write"] / 2**20,
            "exec.spill_mb": ex["spill"] / 2**20,
            "exec.gc_s": ex["gc_ms"] / 1000,
            "trace.inspect_s": self.inspect_s,
            **self.wall_figures(),
        })
        if self.workload == "pipeline":
            out.update(self.pipeline_layers(counters, jobs))
        self.notes["self_time_s"] = {k: round(v, 4) for k, v in tr.self_times().items()}
        return out

    def pipeline_layers(self, counters, jobs: list[dict]) -> dict[str, float]:
        """Per-layer metrics of the batch path (backfill and daily ops) and
        the streaming path (round ops), told apart by the op span open when
        a job or scan started."""
        tr = self.tracer
        op_spans = [s for s in tr.spans if s["name"] == "op"]
        kind_of = {s["op"]: s["kind"] for s in op_spans}
        batch_kinds = ("backfill", "daily")

        def n_jobs(kinds) -> int:
            return sum(1 for j in jobs
                       if (s := tr.innermost(j["t"])) and kind_of.get(s["op"]) in kinds)

        n_batch = sum(1 for s in op_spans if s["kind"] in batch_kinds)
        rounds = [s for k, s in self.ops if k == "round"]
        prog = [p for p in self.progress if p["rows"] > 0]

        def mean(key: str) -> float:
            return statistics.fmean(p.get(key, 0.0) for p in prog) if prog else 0.0

        batch, stream = self.zone["batch"], self.zone["stream"]
        return {
            "pipeline.bronze_to_silver_s": tr.total("pipeline.bronze_to_silver"),
            "pipeline.silver_to_gold_s": tr.total("pipeline.silver_to_gold"),
            "pipeline.jobs_per_run": n_jobs(batch_kinds) / n_batch,
            "sources.files_written": batch["files"],
            "sources.rows_per_file": batch["rows"] / max(1, batch["silver_files"]),
            "sources.silver_files_scanned": sum(
                counters.files_read_between(s["start"], s["end"])
                for s in op_spans if s["kind"] in batch_kinds),
            "streaming.round_s": statistics.median(rounds),
            "streaming.jobs_per_round": n_jobs(("round",)) / len(rounds),
            "streaming.files_written": stream["files"],
            "streaming.rows_per_file": stream["rows"] / max(1, stream["silver_files"]),
            "streaming.batches_per_round": len(prog) / len(rounds),
            "streaming.add_batch_ms": mean("addBatch"),
            "streaming.query_planning_ms": mean("queryPlanning"),
            "streaming.wal_commit_ms": mean("walCommit"),
            "streaming.trigger_overhead_ms": mean("triggerExecution") - mean("addBatch"),
        }

    # ---- teardown ---------------------------------------------------------
    def close(self) -> None:
        """Stop Spark, wait for the JVM and its Python workers to exit, and
        remove every file this run created."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            children = self.proc.tree() if self.proc else []
            self.spark.stop()
            gateway.shutdown()
            proc = gateway.proc
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
            deadline = time.time() + 30
            while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
                time.sleep(0.05)
        shutil.rmtree(self.dir, ignore_errors=True)
        warehouse = ROOT / "spark-warehouse"
        for sf_dir in self.index_tags:  # persisted indexes keyed by sf_dir
            tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
            for entry in warehouse.glob(f"*_{tag}*"):
                shutil.rmtree(entry, ignore_errors=True)
        for d in (self.dir.parent, warehouse):  # only if this run left them empty
            try:
                d.rmdir()
            except OSError:
                pass


def _metrics(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("queries", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from a checkout "
              "of the program", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    (run.dir / "tmp").mkdir(parents=True)
    # pin the environment: measure the program, not the scheduler
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": str(run.dir / "local"),
        "TMPDIR": str(run.dir / "tmp"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    os.chdir(ROOT)
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    try:
        t0 = time.perf_counter()
        WORKLOADS[args.workload](run)
        run.notes["workload_s"] = time.perf_counter() - t0
        if args.trace:
            values, units = run.per_layer(), PER_LAYER
        else:
            values, units = run.end_to_end(), END_TO_END
    finally:
        run.close()
    if args.trace:
        trace_dir = ROOT / ".perfbench_runs" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        with open(trace_dir / f"{args.workload}-s{args.seed}.json", "w") as f:
            json.dump({"spans": run.tracer.spans, "ops": run.ops}, f)
    record = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "trace": args.trace, "wall_s": run.wall, "passes": run.passes,
        "setup": dict(run.setup), "host": run.host,
        "ops": [(k, round(t, 4)) for k, t in run.ops],
        "checks": run.checks, **run.notes,
    }
    print("perfbench-record " + json.dumps(record, default=str))
    print(json.dumps({
        "correct": run.failed == 0 and all(v == "ok" for v in run.checks.values()),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": _metrics(values, units),
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
