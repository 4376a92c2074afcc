"""Per-query execution profile: wall seconds, Spark JOB count, stage/task
counts, and executed-plan shuffle metrics for each bench headline query.

The shuffle columns (``shufMB``, ``exch``, ``bcastMB``) come from
:func:`audit`, which walks the executed adaptive plan: bytes written to
shuffle, number of shuffle exchanges, and broadcast build size. This
turns the README's "minimize shuffles / broadcast the dims" rules into
numbers — e.g. a 6-table star join whose shuffle traffic is a few hundred
KB while the scanned fact is tens of MB is doing its reduction map-side,
which is the shape that survives 100 TB.

Motivation (optimization round 13, guide §1): the bench's multi-second
queries at sf0.1 are all multi-ACTION queries (iterative components,
chained global ntiles, persisted-index probes). At this scale their cost
is dominated by the number of sequential Spark jobs (each a full
schedule/barrier round-trip), not by data volume — so the first question
for every slow query is "how many jobs, and which are fusable/overlappable",
which the bench JSON cannot answer. This script answers it from the
driver's status tracker, and names the jobs: the ``--json`` record lists
each query's jobs of the last pass (job id, call-site name, stage and task
counts) from the live UI's REST ``/jobs`` endpoint, which attributes each
job's scheduling round-trip to the driver action that started it.

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

After the warm pass it also prints the Python processes running under the
JVM (``pyspark.daemon`` and its forked workers). Once started they stay
resident, idle, until the session ends, and their number follows
``local[N]``, not the data: 0 means no query or index build of the pass
needed a Python worker. Read from ``/proc`` (Linux only).

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
import urllib.request

sys.path.insert(0, ".")

from aws_data_pipeline_spark.plans import DEMOTED, load_registry  # noqa: E402
from aws_data_pipeline_spark.session import get_spark  # noqa: E402
from bench import HEADLINE  # noqa: E402

_DEREF = "m\nd"  # py4j MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


def audit(df) -> dict:
    """Walk the executed adaptive plan, summing shuffle/broadcast metrics.
    Reused exchanges are counted once (visited by plan-node id)."""
    totals = {"shuffle_bytes": 0, "exchanges": 0, "broadcast_bytes": 0}
    visited: set[int] = set()

    def walk(node) -> None:
        nid = node.id()
        if nid in visited:
            return
        visited.add(nid)
        name = node.nodeName()
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        if name == "Exchange":
            totals["shuffle_bytes"] += vals.get("shuffleBytesWritten", 0)
            totals["exchanges"] += 1
        elif name == "BroadcastExchange":
            totals["broadcast_bytes"] += vals.get("dataSize", 0)
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        # query-stage wrappers hold their subplan in .plan()
        try:
            walk(node.plan())
        except Exception:
            pass
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return totals


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


def python_workers(spark) -> int:
    """Python processes descending from this session's JVM."""
    import os

    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the field after ``(comm)`` is the state, then the ppid
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    n = 0
    for pid in parent:
        p = parent[pid]
        while p and p != jvm:
            p = parent.get(p, 0)
        if p != jvm:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                n += b"python" in f.read()
        except OSError:
            continue
    return n


def compiled_classes(spark) -> int:
    """Classes Janino-compiled so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def rest_jobs(spark, ids: list[int]) -> dict[int, dict]:
    """The UI REST ``/jobs`` record of each job in ``ids``: id, call-site
    name, stages and tasks. The UI status store is fed asynchronously by
    the listener bus, so it polls briefly until every id is listed."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    for _ in range(50):
        with urllib.request.urlopen(url) as r:
            jobs = {j["jobId"]: j for j in json.loads(r.read())}
        if set(ids) <= set(jobs):
            break
        time.sleep(0.1)
    return {
        j: {
            "id": j,
            "name": jobs[j]["name"],
            "stages": len(jobs[j]["stageIds"]),
            "tasks": jobs[j]["numTasks"],
        }
        for j in ids
        if j in jobs
    }


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
        "job_ids": new_jobs,
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
    warm_workers = python_workers(spark)

    passes: list[dict[str, dict]] = []
    for _ in range(args.passes):
        out: dict[str, dict] = {}
        for name in names:
            spark.sparkContext.setJobDescription(f"profile:{name}")
            out[name] = profile_one(spark, registry[name].spark_fn, args.sf_dir, calls)
            spark.sparkContext.setJobDescription(None)
        passes.append(out)
    listed = rest_jobs(
        spark, [j for prof in passes[-1].values() for j in prof["job_ids"]]
    )
    for out in passes:
        for prof in out.values():
            ids = prof.pop("job_ids")
            if out is passes[-1]:
                prof["job_list"] = [listed[j] for j in ids if j in listed]

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
    print(
        f"warm pass: {warm_compiled} classes compiled since session start, "
        f"{warm_workers} Python processes under the JVM"
    )
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
