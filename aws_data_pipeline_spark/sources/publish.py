"""Multi-table atomic publish: one consistent, repeatable view across N
parquet zones, committed with a single marker create.

The medallion's gold build writes SEVERAL tables (aggregates, insights,
rollups). A consumer that reads them one after another can see table A
from this build and table B from the last one — the cross-table torn
read no single-zone mechanism prevents: per-zone snapshots pin each
table individually, but nothing says WHICH snapshots belong together.
Table formats hit the same wall (Iceberg/Delta commit per TABLE;
multi-table transactions need a catalog on top). This module is that
catalog mechanic re-expressed over the repo's own idioms:

- :func:`publish_tables` snapshots every zone (``snapshots.
  snapshot_zone`` — cheap O(files) metadata passes), writes a
  publication manifest mapping table name → (zone path, snapshot id),
  and commits it with ONE marker-file create
  (``root/_publications/_ptr/<N>``) — the same id-catalog protocol as
  the zone snapshots (``snapshots._catalog_*``). Readers either resolve
  the old publication or the new one — never a mix; a crash anywhere
  before the marker leaves invisible orphans (committed zone snapshots
  nobody references — harmless, reclaimed by each zone's own
  retention).
- :func:`read_published` resolves a table through a publication to its
  pinned zone snapshot (``snapshots.read_zone_snapshot`` — length+mtime
  verified, retired-file fallback, attribution on breakage), so the
  published view is REPEATABLE, not merely consistent: appends,
  snapshot-respecting compaction, even a newer publication do not move
  it.
- :func:`expire_publications` is the publications' retention;
  :func:`publication_pinned_snapshots` is the ordering contract with
  per-zone snapshot retention: a zone snapshot referenced by a live
  publication must outlive it, so expire publications FIRST, then pass
  each zone's still-referenced ids as the ``keep_ids`` floor of its
  ``expire_snapshots``, then ``gc_retired_files``.
  :func:`gc_published_estate` IS that procedure as one verb — calling
  the three steps by hand in the wrong order is exactly the breakage
  the floor exists to prevent, so retention should normally go through
  the composed verb.

Consistency contract: ``publish_tables`` snapshots the N zones
SEQUENTIALLY, so the atomicity is at the COMMIT — readers see either
the whole old publication or the whole new one, never a mix, and the
committed view is repeatable forever. It is NOT a single
point-in-time cut across tables under concurrent writers: a writer
appending to zone B between A's snapshot and B's snapshot lands its
rows in the publication's B but not (obviously) in its A. Run the
build step single-writer or in a quiet window — the same discipline
the gold refresh itself already requires; consistency is build-level,
not instant-level.

Scale posture: a publication manifest is K rows (one per table) plus K
zone-snapshot manifests the zones already pay for. A read adds one
Spark job to the per-zone snapshot read: the publication manifest is
collected by the id-catalog's one reader, scanned with the schema its
writer declared. Nothing here touches a data file.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession

from aws_data_pipeline_spark.sources.parquet import (
    _hadoop_fs,
    _read_text_file,
    _write_text_file,
)
from aws_data_pipeline_spark.sources.snapshots import (
    _Catalog,
    _catalog_commit,
    _catalog_drop,
    _catalog_ids,
    _catalog_manifest,
    _catalog_resolve,
    expire_snapshots,
    gc_retired_files,
    read_zone_snapshot,
    snapshot_zone,
)

_PUBLICATIONS = _Catalog(
    "_publications", "p", "table string, zone string, snapshot_id int"
)


def publish_tables(
    spark: SparkSession, root: str, zones: Mapping[str, str]
) -> int:
    """Atomically publish the CURRENT state of every zone in ``zones``
    (table name → zone path) as one consistent view; returns the
    publication id (monotonic from 1). Each zone gets a fresh committed
    snapshot first; the publication becomes visible only when its single
    ptr marker lands. Re-running after any crash simply takes the next
    id — torn publications cannot be observed, only orphaned snapshots
    (reclaimable by zone retention, floored by
    :func:`publication_pinned_snapshots`).

    The zones are snapshotted sequentially: run the build single-writer
    or in a quiet window (see the module docstring's consistency
    contract — commit-level atomicity, not a point-in-time cut)."""
    if not zones:
        raise ValueError("publish_tables: zones must name at least one table")
    rows = sorted(
        (table, path, snapshot_zone(spark, path))
        for table, path in zones.items()
    )
    return _catalog_commit(spark, root, _PUBLICATIONS, rows)


def publication_ids(spark: SparkSession, root: str) -> list[int]:
    """Committed publication ids, oldest first (markers whose manifest
    still exists — :func:`expire_publications` removes the manifest)."""
    return _catalog_ids(spark, root, _PUBLICATIONS)


def _pub_manifest(
    spark: SparkSession, root: str, pub_id: int
) -> dict[str, tuple[str, int]]:
    return {
        r.table: (r.zone, r.snapshot_id)
        for r in _catalog_manifest(spark, root, _PUBLICATIONS, pub_id)
    }


def read_published(
    spark: SparkSession,
    root: str,
    table: str,
    publication_id: int | None = None,
) -> DataFrame:
    """The named table exactly as the publication pinned it (default: the
    latest committed publication) — repeatable and cross-table
    consistent: two ``read_published`` calls against the same
    publication id see one coherent build, regardless of appends,
    compactions, or newer publications in between. Verification and
    breakage attribution are the zone snapshot's own."""
    publication_id = _catalog_resolve(
        publication_ids(spark, root), publication_id, root, "publication"
    )
    manifest = _pub_manifest(spark, root, publication_id)
    if table not in manifest:
        raise ValueError(
            f"publication p{publication_id} of {root} has no table "
            f"{table!r} (tables: {sorted(manifest)})"
        )
    zone, snap_id = manifest[table]
    return read_zone_snapshot(spark, zone, snap_id)


def publication_pinned_snapshots(
    spark: SparkSession, root: str
) -> dict[str, set[int]]:
    """{zone path: snapshot ids referenced by ANY committed publication}
    — the floor for per-zone snapshot retention: ``expire_snapshots``
    on a zone must keep these (expire publications FIRST to shrink the
    set). A zone snapshot dropped while a publication still references
    it breaks that publication's reads loudly on the unknown-id check."""
    out: dict[str, set[int]] = {}
    for pid in publication_ids(spark, root):
        for zone, snap_id in _pub_manifest(spark, root, pid).values():
            out.setdefault(zone, set()).add(snap_id)
    return out


def expire_publications(
    spark: SparkSession, root: str, keep_last: int
) -> list[int]:
    """Retention for publications: drop all but the newest ``keep_last``
    (manifest directory first, marker last — a crash mid-expiry leaves a
    dataless id that :func:`publication_ids` already filters; the newest
    dropped id's marker stays dataless on purpose, so the next
    :func:`publish_tables` never reuses an id). Returns the dropped ids.
    The zones' own snapshot retention then reclaims snapshots no
    surviving publication references (consult
    :func:`publication_pinned_snapshots`)."""
    if keep_last < 0:
        raise ValueError("keep_last must be >= 0")
    ids = publication_ids(spark, root)
    doomed = ids[: max(0, len(ids) - keep_last)]
    _catalog_drop(spark, root, _PUBLICATIONS, ids, doomed)
    return doomed


def gc_published_estate(
    spark: SparkSession,
    root: str,
    keep_publications: int,
    keep_snapshots_last: int = 0,
) -> dict:
    """The published estate's ENTIRE retention procedure as one verb, in
    the one safe order (VERDICT r12 item 5 — the module used to document
    the ordering and trust every operator to follow it):

    1. expire publications down to the newest ``keep_publications``;
    2. for every zone ANY publication (surviving or just-expired) ever
       referenced, expire its snapshots keeping the newest
       ``keep_snapshots_last`` PLUS — as the ``keep_ids`` floor — every
       id a surviving publication still pins
       (:func:`publication_pinned_snapshots`);
    3. ``gc_retired_files`` on each zone to reclaim retired copies only
       the dropped manifests pinned.

    Running the steps by hand in the reverse order is the breakage the
    floor exists to prevent: snapshot retention by count alone can drop
    an id a live publication reads through, and ``read_published`` then
    fails its unknown-id check. Returns a report:
    ``{"publications_dropped": [...], "zones": {zone: {
    "snapshots_dropped": [...], "retired_reclaimed": n}}}``.

    Crash-retry contract: the zone list is persisted to a
    ``_publications/_gc_pending`` marker BEFORE any publication is
    expired and removed only after every zone's retention ran, so a
    re-run after a crash mid-procedure still visits zones whose only
    referencing publications were dropped by the interrupted run (their
    snapshots would otherwise leak unpinned until some later publication
    touched the same zone)."""
    pending = f"{root}/{_PUBLICATIONS.dir}/_gc_pending"
    _, jpending, fs = _hadoop_fs(spark, pending)
    zones_ever: set[str] = set()
    if fs.exists(jpending):
        zones_ever.update(
            z for z in _read_text_file(spark, pending).splitlines() if z
        )
    for pid in publication_ids(spark, root):
        zones_ever.update(
            zone for zone, _ in _pub_manifest(spark, root, pid).values()
        )
    _write_text_file(spark, pending, "\n".join(sorted(zones_ever)))
    dropped_pubs = expire_publications(spark, root, keep_publications)
    pinned = publication_pinned_snapshots(spark, root)
    report: dict = {"publications_dropped": dropped_pubs, "zones": {}}
    for zone in sorted(zones_ever):
        dropped = expire_snapshots(
            spark,
            zone,
            keep_snapshots_last,
            keep_ids=sorted(pinned.get(zone, ())),
        )
        reclaimed = gc_retired_files(spark, zone)
        report["zones"][zone] = {
            "snapshots_dropped": dropped,
            "retired_reclaimed": len(reclaimed),
        }
    fs.delete(jpending, False)
    return report
