"""cluster_profile: the 100 TB sizing arithmetic, pinned; and the
session defaults that make repeated queries cheap to build and run.

The cluster_profile tests are pure Python — they pin the conf-derivation
rules the module docstring promises, at the exact cluster shapes the
engine is designed for (SURVEY.md's 1000-executor / 100 TB target) and at
the degenerate shapes where the guards must bite.
"""

from __future__ import annotations

import pytest

from aws_data_pipeline_spark.plans import DEMOTED, load_registry
from aws_data_pipeline_spark.session import cluster_profile
from tests.conftest import ORACLE_SMOKE

TiB = 2**40
GiB = 2**30
MiB = 2**20


def test_flagship_shape_100tb_1000_executors():
    """100 TB on 1000×4-core×16 GiB: the design-target deployment."""
    p = cluster_profile(100 * TiB, executors=1000, cores_per_executor=4,
                        executor_memory_bytes=16 * GiB)
    split = int(p["spark.sql.files.maxPartitionBytes"])
    parts = int(p["spark.sql.shuffle.partitions"])
    cores = int(p["derived.total_cores"])
    assert cores == 4000
    assert split == 128 * MiB  # default target; memory cap (512 MiB) not binding
    # enough reduce partitions that each holds <= one target-sized split
    assert parts * split >= 100 * TiB
    # full waves: no straggler tail of a near-empty final wave
    assert parts % cores == 0
    # and not absurdly over-provisioned (AQE coalesces down, but the static
    # count should stay within one wave of the ceiling)
    assert parts - 100 * TiB // split <= cores
    assert int(p["spark.sql.autoBroadcastJoinThreshold"]) == 64 * MiB


def test_small_input_shrinks_splits_to_feed_every_core():
    """1 GiB on the same big cluster: splits shrink toward the 16 MiB floor
    so the scan parallelizes (the round-7 narrow-scan lesson as policy)."""
    p = cluster_profile(1 * GiB, executors=1000, cores_per_executor=4,
                        executor_memory_bytes=16 * GiB)
    assert int(p["spark.sql.files.maxPartitionBytes"]) == 16 * MiB
    # at least one full wave of reduce partitions even for tiny exchanges
    assert int(p["spark.sql.shuffle.partitions"]) == 4000


def test_memory_cap_binds_on_tight_executors():
    """4 GiB / 8-core executors: per-core share is 512 MiB, so the 1/8 spill
    guard caps partitions at 64 MiB regardless of the requested target."""
    p = cluster_profile(10 * TiB, executors=100, cores_per_executor=8,
                        executor_memory_bytes=4 * GiB,
                        target_partition_bytes=2 * GiB)
    split = int(p["spark.sql.files.maxPartitionBytes"])
    assert split == 64 * MiB
    # broadcast ceiling shrinks with per-core memory too (512 MiB / 4)
    assert int(p["spark.sql.autoBroadcastJoinThreshold"]) == 64 * MiB
    assert int(p["spark.sql.shuffle.partitions"]) * split >= 10 * TiB


def test_shuffle_amplification_scales_reduce_side():
    """A join that doubles bytes in flight needs proportionally more reduce
    partitions; monotone in both input size and amplification."""
    base = cluster_profile(1 * TiB, executors=50, cores_per_executor=4)
    amp = cluster_profile(1 * TiB, executors=50, cores_per_executor=4,
                          shuffle_amplification=2.0)
    big = cluster_profile(10 * TiB, executors=50, cores_per_executor=4)
    assert (int(amp["spark.sql.shuffle.partitions"])
            >= int(base["spark.sql.shuffle.partitions"]))
    assert (int(big["spark.sql.shuffle.partitions"])
            >= int(base["spark.sql.shuffle.partitions"]))


def test_advisory_size_matches_splits():
    """AQE's advisory partition size tracks the scan split target, so
    runtime coalescing converges to the same per-task byte budget."""
    p = cluster_profile(100 * TiB, executors=1000, cores_per_executor=4)
    assert (p["spark.sql.adaptive.advisoryPartitionSizeInBytes"]
            == p["spark.sql.files.maxPartitionBytes"])


def test_rejects_degenerate_shapes():
    with pytest.raises(ValueError):
        cluster_profile(0, executors=10)
    with pytest.raises(ValueError):
        cluster_profile(1 * GiB, executors=0)
    # zero memory would silently derive autoBroadcastJoinThreshold=0
    # (disabling every auto broadcast) instead of failing
    with pytest.raises(ValueError):
        cluster_profile(1 * GiB, executors=10, executor_memory_bytes=0)
    with pytest.raises(ValueError):
        cluster_profile(1 * GiB, executors=10, shuffle_amplification=0.0)


def test_bench_stdout_contract_one_json_line():
    """The driver parses ONE JSON line from bench.py stdout (metric/value/
    unit/queries/sf) — r12's stored BENCH had parsed:null and the whole
    round-over-round PERF table nulled out. Pin the contract end-to-end:
    run the real bench (1 reference query, 1 rep, sf0.001) as a
    subprocess and require the FINAL stdout line to be the parseable
    contract object. Progress bars / logs must stay on stderr."""
    import json
    import os
    import subprocess
    import sys

    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_CPUS": "4",
            "BENCH_QUERIES": "q6_forecast_revenue",
            "BENCH_REPS": "1",
        }
    )
    r = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    assert lines, "bench printed nothing to stdout"
    parsed = json.loads(lines[-1])  # the FINAL line must be the contract
    assert parsed["unit"] == "sec"
    assert isinstance(parsed["value"], (int, float))
    assert "q6_forecast_revenue" in parsed["queries"]
    assert parsed["sf"] == 0.001
    # exactly one stdout line: anything else risks a tail-parse driver
    assert len(lines) == 1, f"extra stdout lines: {lines[:-1]}"


# The oracle smoke set is the oracled queries perfbench's ``queries``
# workload pins: together they generate more classes than Spark's default
# 100-entry codegen cache holds, so a cyclic pass over them thrashes it.
REPEATED = sorted(ORACLE_SMOKE)


def test_repeated_pass_compiles_no_class(spark, sf_dir):
    """After one warm pass, a second identical pass finds every generated
    class in the codegen cache (session.DEFAULT_CONF)."""
    from scripts.query_profile import compiled_classes

    registry = {**load_registry(), **DEMOTED}

    def one_pass() -> int:
        before = compiled_classes(spark)
        for name in REPEATED:
            df = registry[name].spark_fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        return compiled_classes(spark) - before

    one_pass()
    assert one_pass() == 0


def test_call_site_capture_is_off(spark):
    """No per-Column Python call-site capture (session.DEFAULT_CONF)."""
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("x")  # a wrapped call caches the flag if nothing has yet
    assert is_debugging_enabled() is False
