"""Adversarial-partitioning sweep: every oracled query must hash-match its
DuckDB twin under a hostile layout (3 shuffle partitions + 256 KiB input
splits) — direct evidence for the engine's order/partitioning-independence
claims (decimal-routed double aggregates, seeded hashes, deterministic
tiebreaks). The session is ``session.DEFAULT_CONF`` plus those two
overrides, so the sweep covers the plan shapes the engine really runs
(AQE, cached-plan AQE, broadcast ceiling). Run ad hoc; the normal pytest
parity suite uses the standard test session config.

Usage: python scripts/partition_sweep.py [sf_dir] [--json OUT.json]
(default sf0.001). Exits non-zero if any query diverges. ``--json``
persists the run as a committed-evidence artifact (the bench-run rule:
gate results are re-checkable files under evidence/, not README
sentences — the r9 verdict's bookkeeping item).
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from aws_data_pipeline_spark.session import DEFAULT_CONF, get_spark  # noqa: E402

MASTER = "local[8]"
HOSTILE_CONF = {
    "spark.sql.shuffle.partitions": "3",
    "spark.sql.files.maxPartitionBytes": str(256 * 1024),
}


def main() -> int:
    argv = sys.argv[1:]
    out_json = None
    if "--json" in argv:
        i = argv.index("--json")
        out_json = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    spark = get_spark("partition-sweep", master=MASTER, extra_conf=HOSTILE_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    from aws_data_pipeline_spark.plans import DEMOTED, load_registry
    from tests.oracle import run_compare

    reg = dict(load_registry())
    reg.update(DEMOTED)  # demoted oracles stay swept
    failed: list[tuple[str, str]] = []
    checked = 0
    per_query: dict[str, dict] = {}
    for name, q in reg.items():
        if q.sql is None:
            continue
        checked += 1
        t0 = time.monotonic()
        try:
            run_compare(spark, sf_dir, name)
            per_query[name] = {
                "ok": True, "sec": round(time.monotonic() - t0, 3)
            }
        except Exception as exc:  # noqa: BLE001 — report every divergence
            failed.append((name, str(exc)[:200]))
            per_query[name] = {
                "ok": False,
                "sec": round(time.monotonic() - t0, 3),
                "err": str(exc)[:200],
            }
    print(f"checked: {checked} failed: {len(failed)}")
    for name, err in failed:
        print(f"  {name}: {err}")
    if out_json:
        json.dump(
            {
                "sweep": "hostile-partitioning oracle parity",
                "sf_dir": sf_dir,
                "config": {"master": MASTER, **DEFAULT_CONF, **HOSTILE_CONF},
                "checked": checked,
                "failed": len(failed),
                "queries": per_query,
            },
            open(out_json, "w"),
            indent=1,
        )
        print(f"artifact: {out_json}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
