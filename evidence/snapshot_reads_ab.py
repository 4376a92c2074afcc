"""A/B receipt for the snapshot and publication read paths.

    python evidence/snapshot_reads_ab.py <checkout> <out.json>

Imports the package from ``<checkout>`` and drives, in one fresh temporary
directory, every snapshot, publication and compaction verb over the
scenarios of ``tests/test_sources.py``'s snapshot tests: repeatable reads,
expiry and rewrite attribution, empty zones and crash orphans, diffs
(strict and at-least-once), mixed-depth escaped partitions, compaction
(hive-partitioned, unpartitioned, clustered, to a ``dest``) with retired
resolution, the swap's crash recovery, erasure retirement, retention
floors, multi-table publication and its retention, a manifest written
without the ``mtime`` column, and four
``streaming.gold.refresh_insights_from_snapshot_diff`` calls (bootstrap,
two deltas, one empty refresh). Writes one JSON object, one step per
line: per step, the repr of the return value or the row count and
md5 of the sorted rows, the error type and text, the
``SnapshotBrokenError.broken`` map, and the number of Spark jobs the step
ran (one job group per step; a returned frame is collected outside it).
Part-file UUIDs and the temporary directory are masked, so two checkouts'
files differ only where behaviour or job counts do.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import time

repo, out_path = sys.argv[1:3]
sys.path.insert(0, os.path.abspath(repo))

import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from aws_data_pipeline_spark.operators import arrow_frame  # noqa: E402
from aws_data_pipeline_spark.pipeline.medallion import transform_bronze  # noqa: E402
from aws_data_pipeline_spark.session import get_spark  # noqa: E402
from aws_data_pipeline_spark.sources import parquet as PQ  # noqa: E402
from aws_data_pipeline_spark.sources import publish as P  # noqa: E402
from aws_data_pipeline_spark.sources import snapshots as S  # noqa: E402
from aws_data_pipeline_spark.streaming import gold  # noqa: E402

spark = get_spark(
    "snapshot-ab", master="local[2]", extra_conf={"spark.sql.shuffle.partitions": "4"}
)
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext
d = tempfile.mkdtemp(prefix="snapshot_ab_")
_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
res: dict[str, dict] = {}


def norm(s: str) -> str:
    s = s.replace("file:" + d, "<d>").replace(d, "<d>")
    return _UUID.sub("<uuid>", s)


def value(v):
    if isinstance(v, (set, frozenset)):
        v = sorted(v)
    return norm(repr(v))


def step(name, fn, probe=False):
    """Run ``fn`` under its own job group; record its outcome and jobs."""
    sc.setJobGroup(name, name)
    rec: dict = {}
    try:
        v = fn()
    except Exception as e:  # the error type and text are what is compared
        v = None
        rec["error"] = [type(e).__name__, norm(str(e)).splitlines()[0]]
        if isinstance(e, S.SnapshotBrokenError):
            rec["broken"] = sorted((norm(k), w) for k, w in e.broken.items())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(name))
    if probe and "error" not in rec:  # collected outside the group
        rows = sorted(repr(tuple(r)) for r in v.collect())
        rec["value"] = [len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()]
    elif "error" not in rec:
        rec["value"] = value(v)
    res[name] = rec


def frame(rows, ddl):
    return arrow_frame(spark, rows, ddl)


def append(zone, rows, ddl="year int, v long", part=("year",)):
    w = frame(rows, ddl).write.mode("append")
    (w.partitionBy(*part) if part else w).parquet(zone)


# 1. repeatable reads over a two-snapshot partitioned zone
z = f"{d}/repeat"
append(z, [(2023, i) for i in range(4)])
step("repeat.s1", lambda: S.snapshot_zone(spark, z))
append(z, [(2024, i) for i in range(3)])
step("repeat.s2", lambda: S.snapshot_zone(spark, z))
step("repeat.ids", lambda: S.snapshot_ids(spark, z))
step("repeat.read_s1", lambda: S.read_zone_snapshot(spark, z, 1), True)
step("repeat.read_s2", lambda: S.read_zone_snapshot(spark, z, 2), True)
step("repeat.read_latest", lambda: S.read_zone_snapshot(spark, z), True)
step("repeat.pinned", lambda: S.snapshot_pinned_files(spark, z))
step("repeat.diff_files", lambda: S.snapshot_diff_files(spark, z, 1, 2))
step("repeat.lost_files", lambda: S.snapshot_lost_files(spark, z, 1, 2))
step("repeat.diff", lambda: S.read_zone_snapshot_diff(spark, z, 1, 2), True)
step("repeat.diff_strict", lambda: S.read_zone_snapshot_diff(spark, z, 1, 2, strict=True), True)
step("repeat.diff_empty", lambda: S.read_zone_snapshot_diff(spark, z, 2, 2))
step("repeat.diff_unknown", lambda: S.read_zone_snapshot_diff(spark, z, 1, 9))
step("repeat.expire", lambda: S.expire_snapshots(spark, z, keep_last=1))
step("repeat.read_unknown", lambda: S.read_zone_snapshot(spark, z, 1))
step("repeat.none", lambda: S.read_zone_snapshot(spark, f"{d}/nowhere"))

# 2. expiry vs rewrite attribution (the rewrite does not retire files)
z = f"{d}/attr"
append(z, [(y, i) for y in (2023, 2024) for i in range(4)])
step("attr.s1", lambda: S.snapshot_zone(spark, z))
PQ.expire_zone_partitions(spark, z, ["year"], keep=lambda t: int(t[0]) >= 2024)
step("attr.read_expired", lambda: S.read_zone_snapshot(spark, z, 1))
step("attr.s2", lambda: S.snapshot_zone(spark, z))
step("attr.read_s2", lambda: S.read_zone_snapshot(spark, z, 2), True)
step("attr.merge", lambda: PQ.merge_into_zone(
    spark, z, frame([(2024, 0)], "year int, v long"), ["v"], ["year"]))
step("attr.read_rewritten", lambda: S.read_zone_snapshot(spark, z, 2))
step("attr.live", lambda: spark.read.parquet(z), True)

# 3. empty zone and crash orphan
z = f"{d}/orphan"
append(z, [(1,)], "v long", ())
step("orphan.s1", lambda: S.snapshot_zone(spark, z))
frame([("x.parquet", 1)], "file string, length long").write.parquet(f"{z}/_snapshots/s2/manifest")
step("orphan.ids", lambda: S.snapshot_ids(spark, z))
step("orphan.s2", lambda: S.snapshot_zone(spark, z))
step("orphan.read_s2", lambda: S.read_zone_snapshot(spark, z, 2), True)
step("empty.s1", lambda: S.snapshot_zone(spark, f"{d}/empty"))
step("empty.read", lambda: S.read_zone_snapshot(spark, f"{d}/empty", 1))
step("empty.pinned", lambda: S.snapshot_pinned_files(spark, f"{d}/empty"))

# 4. three appended batches, diffs between them
z = f"{d}/batches"
for i, b in enumerate([[(2023, 0), (2023, 1)], [(2024, 2)], [(2024, 3), (2025, 4)]], 1):
    append(z, b)
    step(f"batches.s{i}", lambda: S.snapshot_zone(spark, z))
step("batches.diff12", lambda: S.read_zone_snapshot_diff(spark, z, 1, 2), True)
step("batches.diff23", lambda: S.read_zone_snapshot_diff(spark, z, 2, 3), True)
step("batches.diff13_strict", lambda: S.read_zone_snapshot_diff(spark, z, 1, 3, strict=True), True)
step("batches.diff31", lambda: S.snapshot_diff_files(spark, z, 3, 1))
step("batches.lost31", lambda: S.snapshot_lost_files(spark, z, 3, 1))

# 5. mixed depth, escaped partition values
z = f"{d}/mixed"
append(z, [("a:b", 1), ("keep", 2)], "src string, v long", ("src",))
append(z, [(99,)], "v long", ())
step("mixed.s1", lambda: S.snapshot_zone(spark, z))
PQ.expire_zone_partitions(spark, z, ["src"], keep=lambda t: t[0] != "a:b")
os.remove(sorted(p for p in glob.glob(f"{z}/*.parquet") if os.path.isfile(p))[0])
step("mixed.read", lambda: S.read_zone_snapshot(spark, z, 1))

# 6. compaction keeps time travel (partitioned), retention reclaims
z = f"{d}/compact"
frame([(y, i) for y in (2023, 2024) for i in range(6)], "year int, v long").repartition(
    3).write.partitionBy("year").parquet(z)
step("compact.s1", lambda: S.snapshot_zone(spark, z))
step("compact.run", lambda: PQ.compact_zone(spark, z, partition_by=["year"]))
step("compact.live", lambda: spark.read.parquet(z), True)
step("compact.read_s1", lambda: S.read_zone_snapshot(spark, z, 1), True)
step("compact.s2", lambda: S.snapshot_zone(spark, z))
step("compact.gc0", lambda: S.gc_retired_files(spark, z))
step("compact.lost12", lambda: S.snapshot_lost_files(spark, z, 1, 2))
step("compact.diff12", lambda: S.read_zone_snapshot_diff(spark, z, 1, 2), True)
step("compact.diff12_strict", lambda: S.read_zone_snapshot_diff(spark, z, 1, 2, strict=True))
step("compact.expire", lambda: S.expire_snapshots(spark, z, keep_last=1))
step("compact.gc1", lambda: S.gc_retired_files(spark, z))
step("compact.gc2", lambda: S.gc_retired_files(spark, z))
step("compact.read_s2", lambda: S.read_zone_snapshot(spark, z, 2), True)

# 7. same-length rewrite caught by mtime
z = f"{d}/mtime"
append(z, [(2024, i) for i in range(4)])
step("mtime.s1", lambda: S.snapshot_zone(spark, z))
step("mtime.read0", lambda: S.read_zone_snapshot(spark, z, 1), True)
victim = sorted(glob.glob(f"{z}/year=2024/*.parquet"))[0]
st = os.stat(victim)
os.utime(victim, (st.st_atime + 10, st.st_mtime + 10))
step("mtime.read1", lambda: S.read_zone_snapshot(spark, z, 1))

# 8. a stale tombstone does not launder corruption
z = f"{d}/stale"
append(z, [(2023, 1), (2024, 2)])
PQ.expire_zone_partitions(spark, z, ["year"], keep=lambda t: int(t[0]) >= 2024)
time.sleep(0.05)
append(z, [(2023, 3)])
step("stale.s1", lambda: S.snapshot_zone(spark, z))
os.remove(sorted(glob.glob(f"{z}/year=2023/*.parquet"))[0])
step("stale.read0", lambda: S.read_zone_snapshot(spark, z, 1))
time.sleep(0.05)
PQ.expire_zone_partitions(spark, z, ["year"], keep=lambda t: False)
step("stale.read1", lambda: S.read_zone_snapshot(spark, z, 1))

# 9. diffs verify like snapshot reads: retired resolution, expiry
z = f"{d}/dverify"
append(z, [(2023, 0)])
step("dverify.s1", lambda: S.snapshot_zone(spark, z))
append(z, [(2024, 1), (2024, 2)])
step("dverify.s2", lambda: S.snapshot_zone(spark, z))
step("dverify.compact", lambda: PQ.compact_zone(spark, z, partition_by=["year"]))
step("dverify.diff", lambda: S.read_zone_snapshot_diff(spark, z, 1, 2), True)
time.sleep(0.05)
PQ.expire_zone_partitions(spark, z, ["year"], keep=lambda t: int(t[0]) != 2024)
step("dverify.diff_expired_live", lambda: S.read_zone_snapshot_diff(spark, z, 1, 2), True)
step("dverify.retire", lambda: S.retire_pinning_snapshots(spark, z, under=["year=2024"]))
z = f"{d}/dverify2"
append(z, [(2023, 0)])
step("dverify2.s1", lambda: S.snapshot_zone(spark, z))
append(z, [(2024, 1)])
step("dverify2.s2", lambda: S.snapshot_zone(spark, z))
time.sleep(0.05)
PQ.expire_zone_partitions(spark, z, ["year"], keep=lambda t: int(t[0]) != 2024)
step("dverify2.diff", lambda: S.read_zone_snapshot_diff(spark, z, 1, 2))
step("dverify2.diff_strict", lambda: S.read_zone_snapshot_diff(spark, z, 1, 2, strict=True))

# 10. erasure retires pinning snapshots
z = f"{d}/erase"
append(z, [(2023, 1, "pii"), (2023, 2, "pii"), (2024, 3, "ok")], "year int, id long, v string")
step("erase.s1", lambda: S.snapshot_zone(spark, z))
step("erase.compact", lambda: PQ.compact_zone(spark, z, partition_by=["year"]))
step("erase.delete", lambda: PQ.delete_from_zone(
    spark, z, frame([(1, 2023), (2, 2023)], "id long, year int"), ["id"], ["year"],
    retire_snapshots=True))
step("erase.ids", lambda: S.snapshot_ids(spark, z))
step("erase.s2", lambda: S.snapshot_zone(spark, z))
step("erase.delete_again", lambda: PQ.delete_from_zone(
    spark, z, frame([(9, 2023)], "id long, year int"), ["id"], ["year"],
    retire_snapshots=True))
step("erase.read_s2", lambda: S.read_zone_snapshot(spark, z, 2), True)
step("erase.retire_all", lambda: S.retire_pinning_snapshots(spark, z))

# 11. one verification path: green, retired, damaged retired copy
z = f"{d}/verify"
append(z, [(y, i) for y in (2023, 2024) for i in range(3)])
step("verify.s1", lambda: S.snapshot_zone(spark, z))
step("verify.read0", lambda: S.read_zone_snapshot(spark, z, 1), True)
step("verify.compact", lambda: PQ.compact_zone(spark, z, partition_by=["year"]))
step("verify.read1", lambda: S.read_zone_snapshot(spark, z, 1), True)
step("verify.s2", lambda: S.snapshot_zone(spark, z))
os.remove(sorted(glob.glob(f"{z}/_retired/year=2023/*.parquet"))[0])
step("verify.read_damaged", lambda: S.read_zone_snapshot(spark, z, 1))
step("verify.read_s2", lambda: S.read_zone_snapshot(spark, z, 2), True)

# 12. unpartitioned, clustered and dest compaction of snapshotted zones
z = f"{d}/flat"
spark.range(12).selectExpr("id AS v").repartition(4).write.parquet(z)
step("flat.s1", lambda: S.snapshot_zone(spark, z))
step("flat.compact", lambda: PQ.compact_zone(spark, z))
step("flat.ids", lambda: S.snapshot_ids(spark, z))
step("flat.live", lambda: spark.read.parquet(z), True)
step("flat.read_s1", lambda: S.read_zone_snapshot(spark, z, 1), True)
step("flat.s2", lambda: S.snapshot_zone(spark, z))
step("flat.expire", lambda: S.expire_snapshots(spark, z, keep_last=1))
step("flat.gc", lambda: S.gc_retired_files(spark, z))
step("flat.read_s2", lambda: S.read_zone_snapshot(spark, z, 2), True)
z = f"{d}/clustered"
frame([(i % 5, i) for i in range(20)], "k int, v long").repartition(4).write.parquet(z)
step("clustered.s1", lambda: S.snapshot_zone(spark, z))
step("clustered.compact", lambda: PQ.compact_zone(spark, z, sort_by=("k",)))
step("clustered.live", lambda: spark.read.parquet(z), True)
step("clustered.read_s1", lambda: S.read_zone_snapshot(spark, z, 1), True)
step("clustered.dest", lambda: PQ.compact_zone(spark, z, dest=f"{d}/clustered_copy"))
step("clustered.dest_sorted", lambda: PQ.compact_zone(
    spark, z, sort_by=("v",), dest=f"{d}/clustered_copy2"))
step("clustered.dest_part", lambda: PQ.compact_zone(
    spark, z, partition_by=["k"], dest=f"{d}/clustered_copy3"))
step("clustered.copies", lambda: [
    spark.read.parquet(f"{d}/clustered_copy{x}").count() for x in ("", "2", "3")])
step("clustered.dest_ids", lambda: S.snapshot_ids(spark, z))
z = f"{d}/never"
spark.range(10).selectExpr("id AS v").repartition(3).write.parquet(z)
step("never.compact", lambda: PQ.compact_zone(spark, z))
step("never.live", lambda: spark.read.parquet(z), True)
step("never.retired", lambda: os.path.exists(f"{z}/_retired"))

# 13. the swap's crash recovery
z = f"{d}/swap"
spark.range(6).selectExpr("id AS v").repartition(2).write.parquet(z)
olds = PQ._top_level_data_entries(spark, z)
spark.range(200, 206).selectExpr("id AS v").coalesce(1).write.parquet(f"{z}/_compacting")
PQ._write_text_file(spark, f"{z}/_compacting/_SWAP_READY", "\n".join(olds))
os.remove(f"{z}/{olds[0]}")
step("swap.compact", lambda: PQ.compact_zone(spark, z))
step("swap.live", lambda: spark.read.parquet(z), True)
step("swap.pending", lambda: PQ.complete_pending_compaction(spark, z))

# 14. retention floor and monotonic ids
z = f"{d}/floor"
for i in range(3):
    spark.range(3).write.mode("append").parquet(z)
    step(f"floor.s{i + 1}", lambda: S.snapshot_zone(spark, z))
step("floor.expire", lambda: S.expire_snapshots(spark, z, keep_last=1, keep_ids=[1]))
step("floor.ids", lambda: S.snapshot_ids(spark, z))
step("floor.read_s1", lambda: S.read_zone_snapshot(spark, z, 1), True)
step("floor.expire_all", lambda: S.expire_snapshots(spark, z, keep_last=0))
step("floor.s4", lambda: S.snapshot_zone(spark, z))
step("floor.bad_keep", lambda: S.expire_snapshots(spark, z, keep_last=-1))

# 15. multi-table publication and its retention
root = f"{d}/estate"
zo, zc = f"{root}/gold_orders", f"{root}/gold_custs"
append(zo, [(2024, 1, 10.0)], "year int, id long, amt double")
append(zc, [(1, "gold")], "id long, tier string", ())
step("pub.none", lambda: P.read_published(spark, root, "orders"))
step("pub.empty_zones", lambda: P.publish_tables(spark, root, {}))
step("pub.p1", lambda: P.publish_tables(spark, root, {"orders": zo, "custs": zc}))
step("pub.read_orders", lambda: P.read_published(spark, root, "orders"), True)
step("pub.read_custs", lambda: P.read_published(spark, root, "custs"), True)
append(zo, [(2024, 2, 20.0)], "year int, id long, amt double")
append(zc, [(2, "silver")], "id long, tier string", ())
step("pub.compact", lambda: PQ.compact_zone(spark, zo, partition_by=["year"]))
step("pub.p2", lambda: P.publish_tables(spark, root, {"orders": zo, "custs": zc}))
step("pub.read_p1", lambda: P.read_published(spark, root, "orders", 1), True)
step("pub.read_p2", lambda: P.read_published(spark, root, "orders", 2), True)
frame([("orders", zo, 99)], "table string, zone string, snapshot_id int").write.parquet(
    f"{root}/_publications/p3/manifest")
step("pub.ids", lambda: P.publication_ids(spark, root))
step("pub.read_torn", lambda: P.read_published(spark, root, "orders", 3))
step("pub.p3", lambda: P.publish_tables(spark, root, {"orders": zo, "custs": zc}))
step("pub.read_nope", lambda: P.read_published(spark, root, "nope", 3))
step("pub.pinned", lambda: {norm(k): sorted(v) for k, v in sorted(
    P.publication_pinned_snapshots(spark, root).items())})
step("pub.expire", lambda: P.expire_publications(spark, root, keep_last=2))
step("pub.pinned2", lambda: {norm(k): sorted(v) for k, v in sorted(
    P.publication_pinned_snapshots(spark, root).items())})
step("pub.gc", lambda: norm(repr(P.gc_published_estate(spark, root, 1))))
step("pub.read_latest", lambda: P.read_published(spark, root, "orders"), True)
step("pub.zone_ids", lambda: [S.snapshot_ids(spark, zo), S.snapshot_ids(spark, zc)])

# 16. a manifest written without the mtime column (pre-mtime generation)
z = f"{d}/premtime"
append(z, [(2023, 0), (2023, 1)])
step("premtime.s1", lambda: S.snapshot_zone(spark, z))
append(z, [(2024, 2)])
step("premtime.s2", lambda: S.snapshot_zone(spark, z))
for sid in (1, 2):
    man = f"{z}/_snapshots/s{sid}/manifest"
    t = pq.read_table(man).drop(["mtime"])
    shutil.rmtree(man)
    os.makedirs(man)
    pq.write_table(t, f"{man}/part-00000.parquet")
step("premtime.read_s1", lambda: S.read_zone_snapshot(spark, z, 1), True)
step("premtime.pinned", lambda: S.snapshot_pinned_files(spark, z))
step("premtime.diff_files", lambda: S.snapshot_diff_files(spark, z, 1, 2))
step("premtime.diff", lambda: S.read_zone_snapshot_diff(spark, z, 1, 2, strict=True), True)
victim = sorted(glob.glob(f"{z}/year=2023/*.parquet"))[0]
st = os.stat(victim)
os.utime(victim, (st.st_atime + 10, st.st_mtime + 10))
step("premtime.read_touched", lambda: S.read_zone_snapshot(spark, z, 1), True)
step("premtime.s3", lambda: S.snapshot_zone(spark, z))
step("premtime.diff23", lambda: S.snapshot_diff_files(spark, z, 2, 3))
step("premtime.lost13", lambda: S.snapshot_lost_files(spark, z, 1, 3))
step("premtime.compact", lambda: PQ.compact_zone(spark, z, partition_by=["year"]))
step("premtime.read_s2", lambda: S.read_zone_snapshot(spark, z, 2), True)
os.remove(sorted(glob.glob(f"{z}/_retired/year=2024/*.parquet"))[0])
step("premtime.read_broken", lambda: S.read_zone_snapshot(spark, z, 2))

# 17. incremental gold refresh from snapshot diffs
silver, gold_path = f"{d}/silver", f"{d}/gold"


def txn(i: int, month: int) -> tuple:
    return (f"txn_{i:08d}", f"cust_{i % 7:06d}", 50.0 + i,
            f"2024-{month:02d}-{(i % 28) + 1:02d} 09:00:00", "purchase",
            "merchant_001", "credit_card", "USD", "completed", "books")


def stage_silver(rows):
    bronze = frame(rows, "transaction_id string, customer_id string, amount double, "
                   "transaction_date string, transaction_type string, merchant_id string, "
                   "payment_method string, currency string, status string, category string")
    clock = F.lit("2026-01-01 00:00:00").cast("timestamp")
    PQ.write_zone(transform_bronze(bronze, clock=clock), silver,
                  partition_by=("year", "month", "day"), mode="append")


stage_silver([txn(i, 5) for i in range(40)])
step("gold.refresh1", lambda: gold.refresh_insights_from_snapshot_diff(spark, silver, gold_path))
stage_silver([txn(i, 6) for i in range(100, 130)])
step("gold.refresh2", lambda: gold.refresh_insights_from_snapshot_diff(spark, silver, gold_path))
step("gold.refresh_empty", lambda: gold.refresh_insights_from_snapshot_diff(spark, silver, gold_path))
stage_silver([txn(i, 7) for i in range(200, 210)])
step("gold.refresh3", lambda: gold.refresh_insights_from_snapshot_diff(spark, silver, gold_path))
step("gold.table", lambda: gold.read_customer_insights_incremental(spark, gold_path), True)

spark.stop()
shutil.rmtree(d, ignore_errors=True)
with open(out_path, "w") as f:
    f.write("{\n" + ",\n".join(
        f"{json.dumps(k)}: {json.dumps(v, ensure_ascii=False)}" for k, v in res.items()
    ) + "\n}\n")
print(f"{len(res)} steps, {sum('error' in r for r in res.values())} raised, "
      f"{sum(r['jobs'] for r in res.values())} jobs")
