"""Per-query execution profile: wall seconds, Spark JOB count, stage/task
counts, and executed-plan shuffle metrics for each bench headline query.

Motivation (optimization round 13, guide §1): the bench's multi-second
queries at sf0.1 are all multi-ACTION queries (iterative components,
chained global ntiles, persisted-index probes). At this scale their cost
is dominated by the number of sequential Spark jobs (each a full
schedule/barrier round-trip), not by data volume — so the first question
for every slow query is "how many jobs, and which are fusable/overlappable",
which the bench JSON cannot answer. This script answers it from the
driver's status tracker.

Two columns do not depend on host load, for the driver-side cost of
running the same queries again and again in one session:

- ``py4j``: Py4J *call* commands the driver sends while ``spark_fn`` builds
  the plan (``ClientServerConnection.send_command`` wrapped). Dereference
  commands (``m\\nd``) are skipped: they follow Python GC, not the build.
- ``compiled``: classes Janino-compiled while the query is built and
  executed (delta of ``CodegenMetrics``' compilation-time histogram count).
  Spark compiles only on a miss of its generated-class cache, so on a warm
  pass this is 0 unless the cache is smaller than the pass's working set,
  or a query generates different code on every run.

Every query runs once untimed (warm pass, in order), then ``--passes``
profiled passes run in the same order; the rows of the last pass are
printed, with one totals line per pass.

Usage: python scripts/query_profile.py [sf_dir] [--queries a,b,c]
           [--passes N] [--json OUT]
Prints one line per query: seconds, jobs, stages, tasks, shuffle_MB,
exchanges, broadcast_MB, py4j calls, compiled classes.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")

from aws_data_pipeline_spark.plans import DEMOTED, load_registry  # noqa: E402
from aws_data_pipeline_spark.session import get_spark  # noqa: E402
from bench import HEADLINE  # noqa: E402
from scripts.shuffle_audit import audit  # noqa: E402

_DEREF = "m\nd"  # py4j MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


class Py4jCalls:
    """Counts the Py4J call commands sent while ``counting`` is set."""

    def __init__(self) -> None:
        from py4j.clientserver import ClientServerConnection

        self.counting = False
        self.n = 0
        send = ClientServerConnection.send_command

        def counted(conn, command):
            if self.counting and not command.startswith(_DEREF):
                self.n += 1
            return send(conn, command)

        ClientServerConnection.send_command = counted

    def build(self, fn, spark, sf_dir: str):
        """``fn(spark, sf_dir)`` and the number of calls it sent."""
        self.n, self.counting = 0, True
        try:
            return fn(spark, sf_dir), self.n
        finally:
            self.counting = False


def compiled_classes(spark) -> int:
    """Classes Janino-compiled so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def profile_one(spark, fn, sf_dir: str, calls: Py4jCalls) -> dict:
    """One PROFILED execution: noop-sink action (the bench's terminal
    action) bracketed by status-tracker job/stage ids and the codegen
    compilation count."""
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None) or [])
    compiled0 = compiled_classes(spark)
    t0 = time.perf_counter()
    df, py4j = calls.build(fn, spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    compiled = compiled_classes(spark) - compiled0
    jobs_after = set(tracker.getJobIdsForGroup(None) or [])
    new_jobs = sorted(jobs_after - jobs_before)
    n_stages = 0
    n_tasks = 0
    for j in new_jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                n_stages += 1
                n_tasks += sinfo.numTasks
    plan = audit(df)
    return {
        "sec": round(wall, 4),
        "jobs": len(new_jobs),
        "stages": n_stages,
        "tasks": n_tasks,
        "shuffle_MB": round(plan["shuffle_bytes"] / 1e6, 3),
        "exchanges": plan["exchanges"],
        "broadcast_MB": round(plan["broadcast_bytes"] / 1e6, 3),
        "py4j": py4j,
        "compiled": compiled,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    registry = dict(load_registry())
    registry.update(DEMOTED)
    names = [n for n in HEADLINE if n in registry]
    if args.queries:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]
        unknown = [n for n in names if n not in registry]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("adps-query-profile")
    spark.sparkContext.setLogLevel("ERROR")
    calls = Py4jCalls()
    # untimed warm pass (bench methodology: steady state): JVM, footers,
    # persisted-index builds, and every query's generated classes
    for name in names:
        registry[name].spark_fn(spark, args.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    warm_compiled = compiled_classes(spark)

    passes: list[dict[str, dict]] = []
    for _ in range(args.passes):
        out: dict[str, dict] = {}
        for name in names:
            spark.sparkContext.setJobDescription(f"profile:{name}")
            out[name] = profile_one(spark, registry[name].spark_fn, args.sf_dir, calls)
            spark.sparkContext.setJobDescription(None)
        passes.append(out)

    print(
        f"{'query':38s} {'sec':>6s} {'jobs':>5s} {'stages':>6s} "
        f"{'tasks':>6s} {'shufMB':>7s} {'exch':>4s} {'bcastMB':>7s} "
        f"{'py4j':>6s} {'compiled':>8s}"
    )
    for name, prof in passes[-1].items():
        print(
            f"{name:38s} {prof['sec']:>6.2f} {prof['jobs']:>5d} "
            f"{prof['stages']:>6d} {prof['tasks']:>6d} "
            f"{prof['shuffle_MB']:>7.3f} {prof['exchanges']:>4d} "
            f"{prof['broadcast_MB']:>7.3f} {prof['py4j']:>6d} "
            f"{prof['compiled']:>8d}"
        )
    print(f"warm pass: {warm_compiled} classes compiled since session start")
    for i, out in enumerate(passes, 1):
        print(
            f"pass {i}: {sum(p['sec'] for p in out.values()):.2f} s, "
            f"{sum(p['py4j'] for p in out.values())} py4j calls, "
            f"{sum(p['compiled'] for p in out.values())} classes compiled"
        )
    if args.json:
        with open(args.json, "w") as f:
            json.dump(passes, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
