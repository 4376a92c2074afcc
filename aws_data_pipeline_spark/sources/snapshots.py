"""Zone snapshots: manifest-pinned repeatable reads over plain parquet
zones — poor-man's time travel for the medallion estate.

A plain hive-parquet zone under continuous ingest has no stable read
point: two scans of the same path straddling an append (or a dynamic
partition overwrite) see different rows, which breaks any consumer that
needs a REPEATABLE input — a training run that must be restartable
against the exact corpus it started on, an audit that must re-score the
rows it scored last week, an incremental diff between "the zone as of
the last gold build" and now. Table formats solve this with committed
manifests (Iceberg snapshots, Delta versions); this module is that
mechanic re-expressed over the repo's own commit idioms, with zero new
dependencies:

- :func:`snapshot_zone` lists the zone's COMMITTED data files once (the
  committed-file walk ``parquet._walk_files`` that ``zone_exists`` and
  ``zone_listing_state`` share: ``_``/``.``-prefixed components
  excluded) and writes the (file, length, mtime) manifest as parquet
  under ``path/_snapshots/s<N>/``, committing it with the
  single-file-create marker idiom (``path/_snapshots/_ptr/<N>`` —
  atomic on HDFS/local, one PUT on object stores). Snapshot ids and
  ``publish``'s publication ids are one id-catalog (``_catalog_*``
  below): next id, manifest write and read, marker commit, listing,
  retention drop and id resolution are written once for both, and each
  catalog declares its manifest schema once — the writer writes it and
  every reader scans with it (no schema inference). Verification is
  (name, length, mtime): length catches truncation and most rewrites,
  the recorded modification time catches the same-length in-place
  rewrite that length alone would serve silently. (Not a content
  checksum — an adversarial writer that also forges mtimes defeats it;
  the threat model is the engine's own verbs and operational
  accidents.)
- :func:`read_zone_snapshot` reads EXACTLY the manifest's files
  (``spark.read.option("basePath", zone)`` so hive partition columns
  survive the explicit file list) after verifying every pinned file
  against one fresh listing. A pinned file no longer live is served
  from the zone's RETIRED area (``path/_retired/<rel>`` — where
  snapshot-respecting compaction parks originals, length-verified;
  the copy's mtime is the copy's, so retired verification is
  name+length) before being declared broken.
- A broken snapshot raises :class:`SnapshotBrokenError` with
  ATTRIBUTION: missing files under a partition whose retention
  tombstone POSTDATES the snapshot report as deliberate expiry;
  anything else — including a tombstone that predates the snapshot,
  i.e. a partition expired, re-ingested, pinned, and then damaged —
  reports as compaction/erasure/corruption. Comparing the tombstone's
  and the snapshot commit marker's timestamps is what stops a stale
  tombstone from laundering later, genuine data loss.
- :func:`expire_snapshots` is the manifests' own retention policy
  (keep the last K); :func:`snapshot_pinned_files` is the
  do-not-delete input for maintenance; :func:`gc_retired_files`
  removes retired copies no surviving manifest pins;
  :func:`retire_pinning_snapshots` is the erasure companion — a
  right-to-be-forgotten run MUST break the snapshots that pin the
  forgotten rows, and this verb retires those manifests (and any
  retired copies under the scrubbed partitions) in the same motion,
  so "time travel to the forgotten rows" stops being offered at all.

Scale posture: snapshot creation is one recursive listing (O(files)
metadata calls, the zone_listing_state class — no data file is read) and
a driver-side manifest write of one row per file. A read collects each
manifest it needs once — one pinned-schema scan, one Spark job — and
verifies it against ONE fresh recursive listing (again O(files)), not a
per-file RPC storm, as one driver dict compare. The pinned set, the
listing and the explicit file list the scan itself needs are all
O(files) driver strings, the same class as Spark's own in-memory file
index for any scan. A manifest written before ``mtime`` was recorded
reads it as null, and its files verify by name and length.

Interplay with the maintenance verbs, stated plainly: appends never
break snapshots (old files are untouched); in-place ``compact_zone``
copies pinned originals into ``_retired`` before rewriting, so
committed snapshots stay readable across compaction — Iceberg-style
safe time travel; ``merge_into_zone``
/ ``delete_from_zone`` / index-estate erasure REWRITE files without
retiring them and so break any snapshot pinning them (by design —
erasure MUST break snapshots that pin the forgotten rows, or the
erasure was cosmetic; parking forgotten rows in ``_retired`` would be
worse than cosmetic. The loud SnapshotBrokenError is the GDPR-correct
behavior, and ``delete_from_zone(..., retire_snapshots=True)`` /
:func:`retire_pinning_snapshots` retire the pinning manifests in the
same verb); ``expire_zone_partitions`` breaks them attributably via
its timestamped tombstones.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession

from aws_data_pipeline_spark.operators import arrow_frame
from aws_data_pipeline_spark.sources.parquet import (
    _PTR_DIR,
    _create_marker,
    _hadoop_fs,
    _max_numeric_marker,
    _numeric_markers,
    _walk_files,
    qualified_path,
)

_RETIRED_DIR = "_retired"


class SnapshotBrokenError(RuntimeError):
    """A pinned file is gone or changed. ``broken`` maps each affected
    relative path to its attribution: ``"expired"`` (a retention
    tombstone NEWER than the snapshot covers its partition —
    deliberate, scheduled), or ``"rewritten-or-corrupt"`` (compaction
    without snapshot respect / erasure / overwrite / actual data loss —
    investigate)."""

    def __init__(self, zone: str, snapshot_id: int, broken: dict[str, str]):
        self.zone = zone
        self.snapshot_id = snapshot_id
        self.broken = broken
        lines = ", ".join(f"{p} [{why}]" for p, why in sorted(broken.items()))
        super().__init__(
            f"snapshot s{snapshot_id} of {zone} is broken — "
            f"{len(broken)} pinned file(s) unavailable: {lines}"
        )


# -- Id-catalog ------------------------------------------------------------
# Snapshots (``zone/_snapshots``, prefix ``s``) and publications
# (``root/_publications``, prefix ``p``) share one layout: a committed id
# N is a ``<catalog>/_ptr/<N>`` marker whose ``<catalog>/<prefix><N>/
# manifest`` parquet exists. The manifest is written first and the marker
# commits it, so a crash leaves an invisible orphan, never a torn entry.


class _Catalog(NamedTuple):
    """One id-catalog: its directory under the owning path, the prefix of
    its manifest directories, and the manifest schema (DDL) that
    :func:`_catalog_commit` writes and :func:`_catalog_manifest` reads."""

    dir: str
    prefix: str
    schema: str


_SNAPSHOTS = _Catalog("_snapshots", "s", "file string, length long, mtime long")


def _catalog_commit(
    spark: SparkSession, owner: str, cat: _Catalog, rows: list
) -> int:
    """Write ``rows`` as the next id's manifest, then commit it with the
    single marker create; returns the id. The next id is one past EVERY
    marker, the dataless high-water marker :func:`_catalog_drop` keeps
    included, so ids stay monotonic across retention."""
    catalog = f"{owner}/{cat.dir}"
    new_id = (_max_numeric_marker(spark, f"{catalog}/{_PTR_DIR}") or 0) + 1
    arrow_frame(spark, rows, cat.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{catalog}/{cat.prefix}{new_id}/manifest")
    _create_marker(spark, f"{catalog}/{_PTR_DIR}", new_id)
    return new_id


def _catalog_manifest(
    spark: SparkSession, owner: str, cat: _Catalog, n: int
) -> list[Row]:
    """The rows of id ``n``'s manifest: one scan with the catalog's
    declared schema and one collect — a single Spark job, no footer
    inference. A column an older writer did not record reads as null."""
    return (
        spark.read.schema(cat.schema)
        .parquet(f"{owner}/{cat.dir}/{cat.prefix}{n}/manifest")
        .collect()
    )


def _catalog_ids(spark: SparkSession, owner: str, cat: _Catalog) -> list[int]:
    """Committed ids, oldest first: markers whose manifest still exists
    (a dataless marker — expiry's high-water mark, or a crash mid-drop —
    is not an id)."""
    catalog = f"{owner}/{cat.dir}"
    jvm, _, fs = _hadoop_fs(spark, catalog)
    return sorted(
        n
        for n in _numeric_markers(spark, f"{catalog}/{_PTR_DIR}")
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{catalog}/{cat.prefix}{n}/manifest")
        )
    )


def _catalog_resolve(
    ids: list[int], wanted: int | None, owner: str, kind: str
) -> int:
    """``wanted`` if committed, the latest id when ``wanted`` is None;
    ValueError otherwise."""
    if wanted is None:
        if not ids:
            raise ValueError(f"no {kind}s committed under {owner}")
        return ids[-1]
    if wanted not in ids:
        raise ValueError(f"unknown {kind} id {wanted} for {owner} (have {ids})")
    return wanted


def _catalog_drop(
    spark: SparkSession,
    owner: str,
    cat: _Catalog,
    ids: Sequence[int],
    doomed: Sequence[int],
) -> None:
    """Drop ``doomed`` of the committed ``ids``: manifest directory first,
    marker last, so a crash leaves a dataless marker the listing already
    filters. When the newest committed id is dropped its marker stays as
    a dataless HIGH-WATER mark, so the next commit does not reuse the id
    (consumers key replay guards on ids; reuse would alias two different
    manifests). Dataless markers below it (an earlier high-water mark,
    crash leftovers) are then never needed again and go too."""
    catalog = f"{owner}/{cat.dir}"
    jvm, _, fs = _hadoop_fs(spark, catalog)
    high_water = ids[-1] if ids and ids[-1] in doomed else None
    for n in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{catalog}/{cat.prefix}{n}"), True)
        if n != high_water:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{catalog}/{_PTR_DIR}/{n}"), False
            )
    if high_water is not None:
        for n, marker in _numeric_markers(spark, f"{catalog}/{_PTR_DIR}").items():
            if n < high_water and n not in ids:
                fs.delete(marker, False)


def _committed_files(
    spark: SparkSession, path: str
) -> dict[str, tuple[int, int]]:
    """{zone-relative path: (length, mtime_ms)} of every committed data
    file — the shared committed-file walk, keeping identities instead of
    totals."""
    return {
        rel: (int(st.getLen()), int(st.getModificationTime()))
        for rel, st in _walk_files(spark, path)
    }


def snapshot_zone(spark: SparkSession, path: str) -> int:
    """Commit a snapshot of the zone's current committed file set and
    return its id (monotonically increasing from 1). An empty zone
    snapshots as an empty manifest — "the corpus was empty then" is a
    recordable state, not an error. Crash posture: the manifest directory
    is written BEFORE the ptr marker commits it, so a crash between the
    two leaves an invisible orphan (never a half-snapshot); re-running
    takes the next id."""
    rows = sorted(
        (f, ln, mt) for f, (ln, mt) in _committed_files(spark, path).items()
    )
    return _catalog_commit(spark, path, _SNAPSHOTS, rows)


def snapshot_ids(spark: SparkSession, path: str) -> list[int]:
    """Committed snapshot ids, oldest first (ptr markers whose manifest
    directory still exists — :func:`expire_snapshots` removes the
    manifest)."""
    return _catalog_ids(spark, path, _SNAPSHOTS)


def _snapshot_commit_ms(spark: SparkSession, path: str, snap_id: int) -> int:
    """Commit time of a snapshot = its ptr marker's modification time —
    FS metadata, recorded atomically with the commit itself, available
    for every snapshot ever committed (no manifest-schema dependency)."""
    _, marker, fs = _hadoop_fs(
        spark, f"{path}/{_SNAPSHOTS.dir}/{_PTR_DIR}/{snap_id}"
    )
    return int(fs.getFileStatus(marker).getModificationTime())


def _manifest(
    spark: SparkSession, path: str, snap_id: int
) -> dict[str, tuple[int, int | None]]:
    """{file: (length, mtime)} pinned by snapshot ``snap_id``; mtime is
    None in a manifest written before it was recorded."""
    return {
        r.file: (r.length, r.mtime)
        for r in _catalog_manifest(spark, path, _SNAPSHOTS, snap_id)
    }


def _manifests(
    spark: SparkSession, path: str, from_id: int, to_id: int
) -> tuple[dict, dict]:
    """The manifests of two committed snapshots, each collected once."""
    ids = snapshot_ids(spark, path)
    from_id, to_id = (
        _catalog_resolve(ids, sid, path, "snapshot") for sid in (from_id, to_id)
    )
    return _manifest(spark, path, from_id), _manifest(spark, path, to_id)


def _tombstoned_relpaths(spark: SparkSession, path: str) -> dict[str, int]:
    """{escaped relative partition path: tombstone mtime_ms} for every
    ``_expiring`` marker under ``path/_expired`` — one recursive walk of
    the (tiny) tombstone tree, paths taken verbatim from the marker
    locations so they compare byte-for-byte against pinned data-file
    directory prefixes. The marker's modification time is when that
    expiry ran (re-expiring a re-ingested partition overwrites the
    marker, refreshing it) — the timestamp attribution compares against
    the snapshot's commit time, so a STALE tombstone (expiry, then
    re-ingest, then snapshot) cannot launder later real damage."""
    return {
        rel.rpartition("/")[0]: int(st.getModificationTime())
        for rel, st in _walk_files(spark, f"{path}/_expired", committed=False)
        if st.getPath().getName() == "_expiring"
    }


def _attribute(
    spark: SparkSession, path: str, snap_id: int, broken_rels: Sequence[str]
) -> dict[str, str]:
    """Per-file attribution for a (bounded) broken set: ``expired`` iff
    the file's partition has a retention tombstone NEWER than the
    snapshot's commit. The set holds ESCAPED relative partition paths
    read straight off the marker files' locations — never inferred from
    one broken file's shape (a root-level broken file would infer zero
    partition columns and misattribute every expired partitioned file)
    and never round-tripped through unescape/re-escape (values
    containing '/' or '=' would corrupt a string-joined key)."""
    tombstoned = _tombstoned_relpaths(spark, path)
    snap_ms = _snapshot_commit_ms(spark, path, snap_id)
    out: dict[str, str] = {}
    for rel in broken_rels:
        pdir = "/".join(rel.split("/")[:-1])
        out[rel] = (
            "expired"
            if pdir and tombstoned.get(pdir, -1) >= snap_ms
            else "rewritten-or-corrupt"
        )
    return out


def _verify_and_split(
    spark: SparkSession,
    path: str,
    snap_id: int,
    pinned: dict[str, tuple[int, int | None]],
) -> tuple[list[str], list[str]]:
    """Verify ``pinned`` files of snapshot ``snap_id`` (all of its
    manifest, or a diff's delta) against one fresh live listing plus the
    retired area, and split them into (live, retired) relative paths for
    the scan.

    A pinned file verifies when the LIVE zone serves it at the pinned
    length and — for mtime-recording manifests — the pinned mtime (the
    same-length in-place rewrite guard), or failing that when
    ``_retired/<rel>`` serves it at the pinned length (the copy's mtime
    is the copy's own, so the retired check is name+length; the retired
    area is engine-written, content-preserving by construction).
    Everything else is broken and raises with attribution."""
    current = _committed_files(spark, path)
    retired: dict[str, tuple[int, int]] | None = None  # lazy: rarely needed
    live_rels, ret_rels, broken_rels = [], [], []
    for rel, (length, mtime) in sorted(pinned.items()):
        cur = current.get(rel)
        if cur is not None and cur[0] == length and (
            mtime is None or cur[1] == mtime
        ):
            live_rels.append(rel)
            continue
        if retired is None:
            retired = _committed_files(spark, f"{path}/{_RETIRED_DIR}")
        r = retired.get(rel)
        if r is not None and r[0] == length:
            ret_rels.append(rel)
        else:
            broken_rels.append(rel)
    if broken_rels:
        raise SnapshotBrokenError(
            path, snap_id, _attribute(spark, path, snap_id, broken_rels)
        )
    return live_rels, ret_rels


def _scan(
    spark: SparkSession, path: str, live: Sequence[str], retired: Sequence[str]
) -> DataFrame:
    """Explicit-file-list scan of live + retired pinned files. Each side
    gets its own ``basePath`` (the retired tree preserves the zone's
    relative layout underneath ``_retired``, so hive partition columns
    derive identically); the union is by name."""
    parts = []
    if live:
        base = qualified_path(spark, path)
        parts.append(
            spark.read.option("basePath", base).parquet(
                *[f"{base}/{rel}" for rel in live]
            )
        )
    if retired:
        base = qualified_path(spark, f"{path}/{_RETIRED_DIR}")
        parts.append(
            spark.read.option("basePath", base).parquet(
                *[f"{base}/{rel}" for rel in retired]
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_zone_snapshot(
    spark: SparkSession, path: str, snapshot_id: int | None = None
) -> DataFrame:
    """The zone exactly as it was at ``snapshot_id`` (default: the latest
    snapshot). Verifies every pinned file against one fresh listing
    (live at pinned length+mtime, else retired at pinned length — see
    ``_verify_and_split``), then scans the explicit file list with
    ``basePath`` set so hive partition columns are derived exactly as a
    whole-zone scan would. Raises :class:`SnapshotBrokenError` (with
    per-file, tombstone-timestamp-aware attribution) rather than
    returning a silently partial or mixed-generation result; raises
    ``ValueError`` for an unknown id."""
    snapshot_id = _catalog_resolve(
        snapshot_ids(spark, path), snapshot_id, path, "snapshot"
    )
    live, retired = _verify_and_split(
        spark, path, snapshot_id, _manifest(spark, path, snapshot_id)
    )
    if not live and not retired:
        raise ValueError(
            f"snapshot s{snapshot_id} of {path} pinned an empty zone — "
            "there is no schema to scan; handle the empty state explicitly"
        )
    return _scan(spark, path, live, retired)


def snapshot_pinned_files(spark: SparkSession, path: str) -> set[str]:
    """Union of zone-relative file paths pinned by ANY committed snapshot
    — the do-not-delete set a compaction/GC job consults to keep
    time-travel intact. In-place ``compact_zone`` copies exactly these
    into ``_retired`` before rewriting; a maintenance job
    that deletes a pinned file without retiring it breaks the pinning
    snapshot loudly on its next read."""
    out: set[str] = set()
    for sid in snapshot_ids(spark, path):
        out.update(_manifest(spark, path, sid))
    return out


def retire_originals(
    spark: SparkSession, path: str, rels: Sequence[str]
) -> int:
    """Copy the named zone-relative files into ``path/_retired/<rel>``
    (idempotent overwrite; COPY, never rename — the originals keep
    serving the live zone until the caller's rewrite commits, so a crash
    at any point here leaves both the live zone and the retired copies
    whole). The ``_``-prefixed area is invisible to live scans and to
    snapshot manifests. Returns the number copied."""
    if not rels:
        return 0
    jvm, _, fs = _hadoop_fs(spark, path)
    conf = spark._jsc.hadoopConfiguration()
    futil = jvm.org.apache.hadoop.fs.FileUtil
    n = 0
    for rel in rels:
        src = jvm.org.apache.hadoop.fs.Path(f"{path}/{rel}")
        dst = jvm.org.apache.hadoop.fs.Path(f"{path}/{_RETIRED_DIR}/{rel}")
        if not fs.exists(src):
            continue
        fs.mkdirs(dst.getParent())
        futil.copy(fs, src, fs, dst, False, True, conf)
        n += 1
    return n


def gc_retired_files(spark: SparkSession, path: str) -> list[str]:
    """Delete retired copies that no surviving committed snapshot pins —
    run after :func:`expire_snapshots` retires old manifests. Returns
    the removed relative paths. (Metadata-only: one walk of the retired
    tree + the manifests' pinned union.)"""
    retired = _committed_files(spark, f"{path}/{_RETIRED_DIR}")
    if not retired:
        return []
    pinned = snapshot_pinned_files(spark, path)
    doomed = sorted(set(retired) - pinned)
    jvm, _, fs = _hadoop_fs(spark, path)
    for rel in doomed:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{path}/{_RETIRED_DIR}/{rel}"), False
        )
    return doomed


def expire_snapshots(
    spark: SparkSession,
    path: str,
    keep_last: int,
    keep_ids: Sequence[int] = (),
) -> list[int]:
    """Retention for the manifests themselves: drop all but the newest
    ``keep_last`` snapshots (manifest directory, then ptr marker — a
    crash mid-expiry leaves a listable-but-dataless id that
    :func:`snapshot_ids` already filters out; the newest dropped id's
    marker stays as that same dataless state on purpose, so the next
    :func:`snapshot_zone` never reuses an id). Returns the dropped
    ids. Follow with :func:`gc_retired_files` to reclaim retired copies
    only the dropped manifests pinned. This is also the erasure-run
    companion: after forgetting rows, expire the snapshots that pinned
    them (or use :func:`retire_pinning_snapshots` to target exactly
    those).

    ``keep_ids`` is the retention FLOOR: ids in it are never dropped
    regardless of ``keep_last`` — the ordering contract with
    multi-table publications (``publish.publication_pinned_snapshots``
    supplies each zone's still-referenced ids; a count alone could
    expire a snapshot a live publication still reads through, breaking
    ``read_published`` for that publication). A count-only caller is
    unchanged: the floor defaults empty."""
    if keep_last < 0:
        raise ValueError("keep_last must be >= 0")
    floor = set(keep_ids)
    ids = snapshot_ids(spark, path)
    doomed = [
        sid for sid in ids[: max(0, len(ids) - keep_last)]
        if sid not in floor
    ]
    _catalog_drop(spark, path, _SNAPSHOTS, ids, doomed)
    return doomed


def retire_pinning_snapshots(
    spark: SparkSession, path: str, under: Sequence[str] | None = None
) -> list[int]:
    """The erasure companion, one verb: drop every committed snapshot
    that pins ANY file under the given ESCAPED relative partition-path
    prefixes (``under=None`` drops them all), and delete the retired
    copies under those prefixes too — a right-to-be-forgotten run that
    rewrote partitions must stop offering time travel to the forgotten
    rows, including copies compaction parked in ``_retired``. Returns
    the dropped snapshot ids. ``delete_from_zone(retire_snapshots=True)``
    calls this with its touched partitions."""
    prefixes = None if under is None else tuple(
        p.rstrip("/") + "/" for p in under
    )

    def hit(rel: str) -> bool:
        return prefixes is None or rel.startswith(prefixes)

    ids = snapshot_ids(spark, path)
    doomed = [
        sid for sid in ids if any(hit(rel) for rel in _manifest(spark, path, sid))
    ]
    _catalog_drop(spark, path, _SNAPSHOTS, ids, doomed)
    jvm, _, fs = _hadoop_fs(spark, path)
    for rel in sorted(_committed_files(spark, f"{path}/{_RETIRED_DIR}")):
        if hit(rel):
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{path}/{_RETIRED_DIR}/{rel}"),
                False,
            )
    return doomed


def snapshot_diff_files(
    spark: SparkSession, path: str, from_id: int, to_id: int
) -> list[str]:
    """Zone-relative paths of files pinned by ``to_id`` but not by
    ``from_id`` — the file-level delta between two snapshots. A file that
    changed LENGTH OR MTIME under the same name (a rewrite recycling a
    name — mtime catches the same-length case) is reported as new:
    serving its old generation is impossible (parquet files are
    immutable only until someone overwrites the path), so the diff must
    surface it rather than skip it. Mtimes compare only when both
    manifests record them (pre-mtime manifests fall back to length)."""
    before, after = _manifests(spark, path, from_id, to_id)
    return _unmatched(after, before)


def snapshot_lost_files(
    spark: SparkSession, path: str, from_id: int, to_id: int
) -> list[str]:
    """Files pinned by ``from_id`` that ``to_id`` no longer pins at the
    same (length, mtime) — non-empty means the zone was NOT append-only
    between the snapshots (compaction / erasure / rewrite happened), so
    a (from, to] diff may re-serve rewritten rows. The strict diff mode
    refuses on this; probe it directly to decide between the strict and
    at-least-once consumption modes."""
    before, after = _manifests(spark, path, from_id, to_id)
    return _unmatched(before, after)


def _unmatched(side: dict, other: dict) -> list[str]:
    """The mirrored manifest comparison behind both diff probes: files
    ``side`` pins that ``other`` does not pin at the same length (and
    mtime, when both manifests record it) — the to-manifest's side for
    the delta, the from-manifest's side for lost files."""

    def unmatched(rel: str, length: int, mtime: int | None) -> bool:
        o = other.get(rel)
        if o is None or o[0] != length:
            return True
        return o[1] is not None and mtime is not None and o[1] != mtime

    return sorted(
        rel for rel, (length, mtime) in side.items()
        if unmatched(rel, length, mtime)
    )


def read_zone_snapshot_diff(
    spark: SparkSession,
    path: str,
    from_id: int,
    to_id: int,
    strict: bool = False,
) -> DataFrame:
    """Only the rows ADDED between two snapshots of an append-only zone —
    exactly-once incremental batch consumption WITHOUT a streaming
    checkpoint: snapshot after each producer run, and the consumer reads
    the (from, to] delta as a plain scan of the new files (basePath keeps
    hive partition columns). Correct for append-only producers, which is
    what write_zone's silver contract produces; a zone under rewrites
    (compaction, erasure) surfaces rewritten files in the delta — re-read
    rows there are possible and the caller's idempotency key (the
    incremental-ingest anti-join discipline) deduplicates them, the same
    at-least-once posture every checkpointed consumer here already has.
    Verifies the delta files exactly like :func:`read_zone_snapshot` —
    same live/retired resolution, same tombstone-timestamp attribution
    on failure (a delta broken by post-snapshot retention expiry reports
    ``expired``, not corruption).

    ``strict=True`` makes the append-only assumption LOUD instead of
    documented: the read REFUSES (ValueError naming the rewritten
    files) whenever the from-manifest lost files by ``to_id`` — the
    fingerprint of a rewrite between the snapshots — rather than
    re-serving rewritten rows for the caller's idempotency key to
    deduplicate. Use it for consumers with no such key.

    The two manifests are collected once; the lost-file check, the delta
    and its verification all compare those same two dicts."""
    before, after = _manifests(spark, path, from_id, to_id)
    if strict:
        gone = _unmatched(before, after)
        if gone:
            some = ", ".join(gone[:5]) + ("…" if len(gone) > 5 else "")
            raise ValueError(
                f"strict diff s{from_id}..s{to_id} of {path} refused: the "
                f"zone was rewritten between the snapshots ({len(gone)} "
                f"file(s) pinned by s{from_id} lost by s{to_id}: {some}) — "
                "rows in the delta may be re-served copies; consume with "
                "an idempotency key (strict=False) or re-baseline"
            )
    delta = _unmatched(after, before)
    if not delta:
        raise ValueError(
            f"snapshots s{from_id}..s{to_id} of {path} differ by no files — "
            "an empty delta has no schema; probe snapshot_diff_files first"
        )
    live, retired = _verify_and_split(
        spark, path, to_id, {rel: after[rel] for rel in delta}
    )
    return _scan(spark, path, live, retired)
