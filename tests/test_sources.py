"""Source/sink roundtrips: CSV and ORC carry the same rows and schema as the
parquet original; ORC predicate pushdown reaches the scan."""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from aws_data_pipeline_spark.catalog import SCHEMAS, load
from aws_data_pipeline_spark.sources.delimited import (
    read_csv,
    read_orc,
    write_csv,
    write_orc,
)
from tests.conftest import _sub, job_names


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    o = load(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_csv")
    write_csv(o, path)
    back = read_csv(spark, path, SCHEMAS["orders"])
    # names+types; nullability differs by format, and the parquet original is
    # timestamp_ntz where the engine schema says timestamp (equal under the
    # session's fixed UTC zone)
    norm = lambda dt: [(n, t.replace("timestamp_ntz", "timestamp")) for n, t in dt]
    assert norm(back.dtypes) == norm(o.dtypes)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, o.collect()))


def test_csv_failfast_on_malformed(spark, tmp_path):
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "x.csv").write_text("a,b\n1,2\nnot_a_number,3\n")
    schema = "a int, b int"
    from pyspark.sql.types import IntegerType, StructField, StructType

    s = StructType([StructField("a", IntegerType()), StructField("b", IntegerType())])
    with pytest.raises(Exception):
        read_csv(spark, str(bad), s).collect()


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    li = load(spark, sf_dir, "lineitem")
    path = str(tmp_path / "li_orc")
    write_orc(li, path)
    back = read_orc(spark, path, li.schema)  # ntz stays ntz: ORC refuses an ntz->ltz cast
    assert back.count() == li.count()
    filtered = back.filter(F.col("l_quantity") < 5).select("l_orderkey", "l_quantity")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,5.0)]" in plan
    # column pruning: only the 2 selected columns in the read schema
    assert "struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_text_corpus_whole_file(spark, tmp_path):
    """One doc per file, stable path-hash ids, feeds text operators."""
    from aws_data_pipeline_spark.operators import text as tx
    from aws_data_pipeline_spark.sources.textfile import read_text_corpus

    (tmp_path / "sub").mkdir()
    (tmp_path / "a.txt").write_text("the quick brown fox")
    (tmp_path / "sub" / "b.txt").write_text("jumps over the lazy dog")
    docs = read_text_corpus(spark, str(tmp_path))
    rows = {r.source.rsplit("/", 1)[-1]: r for r in docs.collect()}
    assert set(rows) == {"a.txt", "b.txt"}
    assert rows["a.txt"].text == "the quick brown fox"
    # ids deterministic across re-reads
    again = {r.source.rsplit("/", 1)[-1]: r.doc_id
             for r in read_text_corpus(spark, str(tmp_path)).collect()}
    assert {k: v.doc_id for k, v in rows.items()} == again
    # downstream operators accept the frame as-is
    stats = tx.token_stats(docs).collect()
    assert {r.n_tokens for r in stats} == {4, 5}


def test_text_corpus_per_line(spark, tmp_path):
    from aws_data_pipeline_spark.sources.textfile import read_text_corpus

    (tmp_path / "c.txt").write_text("line one\nline two\nline one\n")
    docs = read_text_corpus(spark, str(tmp_path), whole_file=False)
    rows = docs.collect()
    assert len(rows) == 3
    # duplicate lines share an id (exact dedup collapses them downstream)
    ids = [r.doc_id for r in rows if r.text == "line one"]
    assert len(ids) == 2 and len(set(ids)) == 1


def test_csv_quarantine_splits_good_and_bad(spark, tmp_path):
    """read_csv_quarantine: malformed lines land in the quarantine frame with
    their raw text; good rows parse to exactly the declared schema."""
    from aws_data_pipeline_spark.sources.delimited import read_csv_quarantine

    bad_dir = tmp_path / "mixed"
    bad_dir.mkdir()
    # corruption planted in DIFFERENT columns: the quarantine scan must
    # parse every column, or rows malformed past the first one vanish
    # from BOTH frames (CSV flags corruption only in parsed columns)
    (bad_dir / "x.csv").write_text(
        "a,b,c\n1,2,3\nnot_a_number,3,9\n4,notanint,6\n7,8\n4,5,6\n"
    )
    from pyspark.sql.types import IntegerType, StructField, StructType

    s = StructType(
        [
            StructField("a", IntegerType()),
            StructField("b", IntegerType()),
            StructField("c", IntegerType()),
        ]
    )
    good, bad = read_csv_quarantine(spark, str(bad_dir), s)
    good_rows = sorted(map(tuple, good.collect()))
    assert good_rows == [(1, 2, 3), (4, 5, 6)]
    assert good.columns == ["a", "b", "c"]
    bad_rows = sorted(r._corrupt_record for r in bad.collect())
    assert bad_rows == ["4,notanint,6", "7,8", "not_a_number,3,9"]
    assert len(good_rows) + bad.count() == 5  # nothing lost (full-width read)


def test_read_zone_merge_schema_reconciles_evolved_files(spark, tmp_path):
    """A zone whose later files carry an added column reads whole with
    merge_schema=True (old files surface the column as null); the default
    scan stays cheap and serves the footer-sampled schema."""
    from aws_data_pipeline_spark.sources.parquet import read_zone, write_zone

    path = str(tmp_path / "zone")
    v1 = spark.createDataFrame(
        [(1, 10.0, 2024), (2, 20.0, 2024)], "id long, amount double, year int"
    )
    write_zone(v1, path, partition_by=("year",), mode="append")
    v2 = spark.createDataFrame(
        [(3, 30.0, "web", 2025)],
        "id long, amount double, channel string, year int",
    )
    write_zone(v2, path, partition_by=("year",), mode="append")

    merged = read_zone(spark, path, merge_schema=True)
    assert "channel" in merged.columns
    rows = {r.id: r for r in merged.collect()}
    assert len(rows) == 3
    assert rows[1].channel is None and rows[3].channel == "web"
    # default read still works (partition discovery unaffected)
    assert read_zone(spark, path).count() == 3


def test_jsonl_quarantine_splits_good_and_bad(spark, tmp_path):
    """read_jsonl_quarantine: unparseable lines land in the dead-letter
    frame with their raw text (the plain PERMISSIVE read would null them
    anonymously); good rows parse to exactly the declared schema."""
    from aws_data_pipeline_spark.sources.jsonl import read_jsonl, read_jsonl_quarantine
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    d = tmp_path / "feed"
    d.mkdir()
    (d / "x.jsonl").write_text(
        '{"id": 1, "name": "ok"}\n'
        "this is not json at all\n"
        '{"id": 2, "name": "also ok"}\n'
        '{"id": "NaN-ish", "name": 3}\n'
    )
    s = StructType([StructField("id", LongType()), StructField("name", StringType())])
    good, bad = read_jsonl_quarantine(spark, str(d), s)
    assert sorted(map(tuple, good.collect())) == [(1, "ok"), (2, "also ok")]
    assert good.columns == ["id", "name"]
    bad_rows = sorted(r._corrupt_record for r in bad.collect())
    assert bad_rows == ["this is not json at all", '{"id": "NaN-ish", "name": 3}']
    # contrast: the plain read swallows both bad lines as null rows
    plain = read_jsonl(spark, str(d), s)
    assert plain.count() == 4


def test_zone_exists_ignores_uncommitted_droppings(spark, tmp_path):
    """A run that crashes mid-first-write leaves the zone directory with
    only _temporary/_SUCCESS-style droppings; the probe must report NO
    zone (a bare path check would wedge every later run's idempotency
    anti-join into an unreadable parquet scan), then flip true once a
    committed data file exists. Every consumer of the committed-file
    rule gives the same verdict — zone_exists, zone_listing_state and
    snapshot_zone's manifest — on _temporary, _SUCCESS, .crc and nested
    year=…/_temporary droppings, before and after real data lands."""
    from aws_data_pipeline_spark.sources import snapshots as S
    from aws_data_pipeline_spark.sources.parquet import (
        write_zone,
        zone_exists,
        zone_listing_state,
    )

    zone = tmp_path / "silver"
    droppings = [
        "_temporary/attempt_x/part-000",
        "_SUCCESS",
        ".part-000.crc",
        "year=2024/_temporary/attempt_y/part-001.parquet",
        "year=2024/.part-002.parquet.crc",
    ]

    def drop():
        for rel in droppings:
            (zone / rel).parent.mkdir(parents=True, exist_ok=True)
            (zone / rel).write_text("junk")

    def verdicts():
        sid = S.snapshot_zone(spark, str(zone))
        manifest = {
            rel: ln for rel, (ln, _) in S._manifest(spark, str(zone), sid).items()
        }
        state = zone_listing_state(spark, str(zone))
        return zone_exists(spark, str(zone)), state[:2], manifest

    assert not zone_exists(spark, str(zone))  # absent
    drop()
    assert verdicts() == (False, (0, 0), {})  # exists, but no data

    df = spark.createDataFrame([(2024, i) for i in range(3)], "year int, x long")
    write_zone(df, str(zone), partition_by=["year"])
    drop()  # fresh droppings beside the committed files
    committed = {
        str(f.relative_to(zone)): f.stat().st_size
        for f in zone.rglob("*.parquet")
        if not any(p.startswith(("_", ".")) for p in f.relative_to(zone).parts)
    }
    assert committed
    assert verdicts() == (
        True,
        (len(committed), sum(committed.values())),
        committed,
    )


def test_zone_exists_relative_path_droppings(spark, tmp_path):
    """Same contract for a RELATIVE zone path: FS listing statuses come
    back fully qualified, so the hidden-component check must qualify the
    base first or the prefix slice lands mid-path and _temporary
    droppings probe true. Relative paths resolve against the JVM's
    working directory, so the test derives the relative spelling from
    java user.dir (chdir-ing the Python process wouldn't move Hadoop)."""
    import os

    from aws_data_pipeline_spark.sources.parquet import write_zone, zone_exists

    jvm_cwd = spark._jvm.java.lang.System.getProperty("user.dir")
    zone_abs = tmp_path / "relzone"
    zone = os.path.relpath(str(zone_abs), jvm_cwd)  # e.g. ../../tmp/.../relzone
    assert not zone_exists(spark, zone)
    os.makedirs(zone_abs / "_temporary" / "attempt_x")
    (zone_abs / "_temporary" / "attempt_x" / "part-0").write_text("junk")
    (zone_abs / "_SUCCESS").write_text("")
    assert not zone_exists(spark, zone)  # droppings only — still no zone
    write_zone(spark.range(3).select(F.col("id").alias("x")), str(zone_abs))
    assert zone_exists(spark, zone)  # committed data flips it true


def test_zone_fingerprint_counts_committed_bytes(spark, tmp_path):
    """(files, bytes) of zone_listing_state over committed data only:
    hidden/_temporary components don't count, and rewriting the same rows
    into different files changes them — the property index staleness
    markers rely on to catch a regenerated source at identical row count."""
    import os

    from aws_data_pipeline_spark.sources.parquet import (
        write_zone,
        zone_listing_state,
    )

    zone = tmp_path / "z"
    assert zone_listing_state(spark, str(zone))[:2] == (0, 0)
    df = spark.range(100).select(F.col("id").alias("x"))
    write_zone(df.coalesce(1), str(zone))
    os.makedirs(zone / "_temporary")
    (zone / "_temporary" / "junk").write_text("x" * 1000)
    n_files, n_bytes, _ = zone_listing_state(spark, str(zone))
    assert n_files == 1 and n_bytes > 0
    # same rows, different layout => different (files, bytes)
    df.repartition(4).write.mode("overwrite").parquet(str(zone))
    nf2, nb2, _ = zone_listing_state(spark, str(zone))
    assert nf2 > 1 and (nf2, nb2) != (n_files, n_bytes)


def test_zorder_key_matches_python_model(spark):
    """The Morton interleave as a JVM expression equals the reference
    bit-interleave for random quantized inputs: two columns keep all 16
    bits each, four columns keep the top 15 bits of each (63 // 4)."""
    import random

    from pyspark.sql import functions as F

    from aws_data_pipeline_spark.functions.zorder import zorder_key

    rng = random.Random(7)

    def model(qs, bits):
        k = 0
        for i in range(bits):
            for d, q in enumerate(qs):
                k |= ((q >> (16 - bits + i)) & 1) << (i * len(qs) + d)
        return k

    for names, bits in (("xy", 16), ("abcd", 15)):
        rows = [
            tuple(rng.randrange(1 << 16) for _ in names) for _ in range(200)
        ]
        df = spark.createDataFrame(rows, ", ".join(f"{c} long" for c in names))
        got = df.select(
            *names, zorder_key([F.col(c) for c in names]).alias("k")
        ).collect()
        for r in got:
            qs = [r[c] for c in names]
            assert r.k == model(qs, bits), qs
        if len(names) == 4:
            assert max(r.k for r in got) < 1 << 60  # 4 x 15 bits


def test_zorder_cluster_narrows_rowgroups_on_both_dims(spark, tmp_path):
    """The scale claim, measured: after Z-order clustering, BOTH columns'
    per-file value spans are narrow; after lexicographic clustering only
    the leading column's are. (Files stand in for row groups at this
    size — parquet stats are per-row-group, file min/max via footers.)"""
    import pyarrow.parquet as pq
    import random

    from aws_data_pipeline_spark.functions.zorder import zorder_cluster_zone
    from aws_data_pipeline_spark.sources.parquet import compact_zone

    rng = random.Random(42)
    rows = [(rng.randrange(100_000), rng.randrange(100_000)) for _ in range(60_000)]
    zpath = str(tmp_path / "zord")
    lpath = str(tmp_path / "lex")
    df = spark.createDataFrame(rows, "x long, y long")
    df.write.parquet(zpath)
    df.write.parquet(lpath)

    zorder_cluster_zone(spark, zpath, ["x", "y"], target_file_bytes=64 * 1024)
    compact_zone(spark, lpath, sort_by=("x", "y"), target_file_bytes=64 * 1024)

    def mean_span(path, col):
        import glob as g

        spans = []
        for f in g.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo = min(
                md.row_group(i).column(
                    [md.schema.column(j).name for j in range(md.num_columns)].index(col)
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(
                    [md.schema.column(j).name for j in range(md.num_columns)].index(col)
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            spans.append(hi - lo)
        assert spans
        return sum(spans) / len(spans)

    # leading dim: both layouts narrow
    assert mean_span(zpath, "x") < 0.7 * 100_000
    assert mean_span(lpath, "x") < 0.7 * 100_000
    # second dim: z-order narrow, lexicographic ~full-range
    zy, ly = mean_span(zpath, "y"), mean_span(lpath, "y")
    assert ly > 0.8 * 100_000  # lexicographic can't skip on y
    assert zy < 0.6 * ly  # z-order can


def test_zorder_clusters_date_string_dims(spark, tmp_path):
    """VERDICT r7 item 6: non-numeric dimensions route through
    zorder_proxy (date -> epoch day, string -> first-8-byte big-endian
    integer), so a (date, string) key clusters directly — measured the
    same way as the numeric test: after Z-order both dims' per-file
    spans are narrow; after lexicographic clustering the second (string)
    dim stays ~full-range."""
    import datetime
    import glob as g
    import random

    import pyarrow.parquet as pq

    from aws_data_pipeline_spark.functions.zorder import zorder_cluster_zone
    from aws_data_pipeline_spark.sources.parquet import compact_zone

    rng = random.Random(11)
    base = datetime.date(2020, 1, 1)
    letters = "abcdefghijklmnopqrstuvwxyz"
    rows = [
        (
            base + datetime.timedelta(days=rng.randrange(1000)),
            "".join(rng.choice(letters) for _ in range(8)),
        )
        for _ in range(60_000)
    ]
    zpath, lpath = str(tmp_path / "zord"), str(tmp_path / "lex")
    df = spark.createDataFrame(rows, "d date, s string")
    df.write.parquet(zpath)
    df.write.parquet(lpath)
    zorder_cluster_zone(spark, zpath, ["d", "s"], target_file_bytes=64 * 1024)
    compact_zone(spark, lpath, sort_by=("d", "s"), target_file_bytes=64 * 1024)

    def rank(col, v):
        if col == "d":
            if isinstance(v, str):
                v = datetime.date.fromisoformat(v)
            elif hasattr(v, "date") and not isinstance(v, datetime.date):
                v = v.date()
            return v.toordinal()
        raw = v if isinstance(v, bytes) else str(v).encode()
        return int.from_bytes(raw[:8].ljust(8, b"\0"), "big")

    def mean_span(path, col):
        spans = []
        for f in g.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(j).name for j in range(md.num_columns)]
            j = names.index(col)
            los, his = [], []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(j).statistics
                los.append(rank(col, st.min))
                his.append(rank(col, st.max))
            spans.append(max(his) - min(los))
        assert spans
        return sum(spans) / len(spans)

    d_full = 1000.0
    s_full = float(
        rank("s", b"zzzzzzzz") - rank("s", b"aaaaaaaa")
    )
    # leading (date) dim: both layouts narrow
    assert mean_span(zpath, "d") < 0.7 * d_full
    assert mean_span(lpath, "d") < 0.7 * d_full
    # second (string) dim: z-order narrow, lexicographic ~full-range
    zs, ls = mean_span(zpath, "s"), mean_span(lpath, "s")
    assert ls > 0.8 * s_full
    assert zs < 0.6 * ls


def test_expire_zone_partitions_drops_aged_dirs_only(spark, tmp_path):
    """Retention expiry: partitions failing the keep predicate are removed
    whole (directory level, no data reads), survivors' FILES are
    byte-identical afterwards, escaped partition values round-trip
    through the predicate unescaped, an empty match is a no-op, and
    re-runs are idempotent."""
    import glob

    from pyspark.sql import functions as F

    from aws_data_pipeline_spark.sources.parquet import expire_zone_partitions

    zone = str(tmp_path / "zone")
    df = spark.createDataFrame(
        [(y, m, i) for y in (2023, 2024) for m in (1, 2) for i in range(5)],
        "year int, month int, v long",
    )
    df.write.partitionBy("year", "month").parquet(zone)
    before = sorted(glob.glob(f"{zone}/year=2024/month=1/*.parquet"))

    dropped = expire_zone_partitions(
        spark, zone, ["year", "month"],
        keep=lambda t: (int(t[0]), int(t[1])) >= (2024, 1),
    )
    assert dropped == [("2023", "1"), ("2023", "2")]
    got = spark.read.parquet(zone)
    assert got.count() == 10 and got.agg(F.min("year")).collect()[0][0] == 2024
    assert sorted(glob.glob(f"{zone}/year=2024/month=1/*.parquet")) == before
    # idempotent; nothing else ages out
    assert expire_zone_partitions(
        spark, zone, ["year", "month"],
        keep=lambda t: (int(t[0]), int(t[1])) >= (2024, 1),
    ) == []

    # escaped string partition values reach the predicate unescaped
    z2 = str(tmp_path / "zone2")
    spark.createDataFrame(
        [("a b", 1), ("c:d", 2)], "src string, v long"
    ).write.partitionBy("src").parquet(z2)
    dropped2 = expire_zone_partitions(
        spark, z2, ["src"], keep=lambda t: t[0] != "c:d"
    )
    assert dropped2 == [("c:d",)]
    assert {r.src for r in spark.read.parquet(z2).collect()} == {"a b"}


def test_expiry_tombstones_distinguish_expiry_from_corruption(
    spark, tmp_path
):
    """The retention race contract (VERDICT r10 item 6): every expired
    partition leaves a persistent ``_expired`` tombstone, written BEFORE
    the directory removal, so each state of the race window is
    attributable — tombstone + directory gone = expired; tombstone for
    an escaped key round-trips unescaped; never-expired partitions have
    no tombstone (missing files there would be real corruption); the
    ``_``-prefixed tombstone root is invisible to scans; re-expiry is
    idempotent over the existing tombstone."""
    import os

    from pyspark.sql import functions as F

    from aws_data_pipeline_spark.sources.parquet import (
        expire_zone_partitions,
        expired_tombstones,
    )

    zone = str(tmp_path / "zone")
    spark.createDataFrame(
        [(y, m, i) for y in (2023, 2024) for m in (1, 2) for i in range(3)],
        "year int, month int, v long",
    ).write.partitionBy("year", "month").parquet(zone)

    assert expired_tombstones(spark, zone, ["year", "month"]) == []
    dropped = expire_zone_partitions(
        spark, zone, ["year", "month"],
        keep=lambda t: int(t[0]) >= 2024,
    )
    assert dropped == [("2023", "1"), ("2023", "2")]
    # tombstones persist after the removal and list exactly the dropped keys
    assert expired_tombstones(spark, zone, ["year", "month"]) == dropped
    assert os.path.exists(f"{zone}/year=2024/month=1")
    assert not os.path.exists(f"{zone}/year=2023/month=1")
    assert not os.path.exists(f"{zone}/year=2023/month=2")
    assert os.path.exists(f"{zone}/_expired/year=2023/month=1/_expiring")
    # scans never see the tombstone root: schema and rows are clean
    got = spark.read.parquet(zone)
    assert got.columns == ["v", "year", "month"] and got.count() == 6
    assert got.agg(F.min("year")).collect()[0][0] == 2024
    # idempotent re-run: no new drops, tombstones unchanged
    assert expire_zone_partitions(
        spark, zone, ["year", "month"], keep=lambda t: int(t[0]) >= 2024
    ) == []
    assert expired_tombstones(spark, zone, ["year", "month"]) == dropped

    # escaped partition values round-trip through the tombstone listing
    z2 = str(tmp_path / "zone2")
    spark.createDataFrame(
        [("a b", 1), ("c:d", 2)], "src string, v long"
    ).write.partitionBy("src").parquet(z2)
    expire_zone_partitions(spark, z2, ["src"], keep=lambda t: t[0] != "c:d")
    assert expired_tombstones(spark, z2, ["src"]) == [("c:d",)]


def test_zone_snapshots_pin_repeatable_reads(spark, tmp_path):
    """Manifest-pinned time travel: a snapshot read returns the zone
    exactly as of the snapshot (appends invisible, partition columns
    intact), ids are monotonic, the latest-by-default read follows new
    snapshots, the pinned-file union covers every committed snapshot,
    and manifest retention drops oldest-first."""
    from pyspark.sql import functions as F

    from aws_data_pipeline_spark.sources import snapshots as S

    zone = str(tmp_path / "zone")
    spark.createDataFrame(
        [(2023, i) for i in range(4)], "year int, v long"
    ).write.partitionBy("year").parquet(zone)

    s1 = S.snapshot_zone(spark, zone)
    assert s1 == 1 and S.snapshot_ids(spark, zone) == [1]

    spark.createDataFrame(
        [(2024, i) for i in range(3)], "year int, v long"
    ).write.mode("append").partitionBy("year").parquet(zone)
    s2 = S.snapshot_zone(spark, zone)
    assert s2 == 2

    old = S.read_zone_snapshot(spark, zone, s1)
    assert old.count() == 4
    # hive partition columns survive the explicit file-list scan
    assert set(old.columns) == {"v", "year"}
    assert old.agg(F.max("year")).collect()[0][0] == 2023
    assert S.read_zone_snapshot(spark, zone, s2).count() == 7
    assert S.read_zone_snapshot(spark, zone).count() == 7  # latest default
    # the whole-zone scan and the pinned scan agree row-for-row
    assert sorted(
        map(tuple, S.read_zone_snapshot(spark, zone, s2).collect())
    ) == sorted(map(tuple, spark.read.parquet(zone).collect()))

    pinned = S.snapshot_pinned_files(spark, zone)
    assert any(p.startswith("year=2023/") for p in pinned)
    assert any(p.startswith("year=2024/") for p in pinned)

    assert S.expire_snapshots(spark, zone, keep_last=1) == [1]
    assert S.snapshot_ids(spark, zone) == [2]
    import pytest

    with pytest.raises(ValueError, match="unknown snapshot id 1"):
        S.read_zone_snapshot(spark, zone, 1)


def test_broken_snapshots_attribute_expiry_vs_rewrite(spark, tmp_path):
    """The attribution contract: a snapshot broken by retention expiry
    names the tombstoned files as 'expired'; one broken by an in-place
    rewrite (compaction/erasure class) reports 'rewritten-or-corrupt';
    an intact snapshot keeps reading after OTHER partitions expire."""
    import pytest

    from aws_data_pipeline_spark.sources import snapshots as S
    from aws_data_pipeline_spark.sources.parquet import (
        expire_zone_partitions,
        merge_into_zone,
    )

    zone = str(tmp_path / "zone")
    spark.createDataFrame(
        [(y, i) for y in (2023, 2024) for i in range(4)],
        "year int, v long",
    ).write.partitionBy("year").parquet(zone)
    s1 = S.snapshot_zone(spark, zone)

    # expire 2023 -> the snapshot breaks, attributably
    expire_zone_partitions(
        spark, zone, ["year"], keep=lambda t: int(t[0]) >= 2024
    )
    with pytest.raises(S.SnapshotBrokenError) as ei:
        S.read_zone_snapshot(spark, zone, s1)
    assert ei.value.snapshot_id == s1
    assert ei.value.broken and all(
        why == "expired" and rel.startswith("year=2023/")
        for rel, why in ei.value.broken.items()
    )

    # a fresh snapshot of the post-expiry state reads fine...
    s2 = S.snapshot_zone(spark, zone)
    assert S.read_zone_snapshot(spark, zone, s2).count() == 4
    # ...until a rewrite that does not retire files (a merge of an
    # unchanged row rewrites its whole partition) replaces its files
    merge_into_zone(
        spark, zone, spark.createDataFrame([(2024, 0)], "year int, v long"),
        ["v"], ["year"],
    )
    with pytest.raises(S.SnapshotBrokenError) as ei2:
        S.read_zone_snapshot(spark, zone, s2)
    assert all(
        why == "rewritten-or-corrupt" for why in ei2.value.broken.values()
    )
    # the zone itself is fine — only the pinned generation is gone
    assert spark.read.parquet(zone).count() == 4


def test_empty_zone_snapshot_and_crash_orphan(spark, tmp_path):
    """Edge states: an empty zone snapshots (recordable state) but reading
    it is an explicit error, not an empty-schema scan; a crash between
    manifest write and ptr commit leaves an invisible orphan that the
    next snapshot does not collide with."""
    import pytest

    from aws_data_pipeline_spark.sources import snapshots as S

    zone = str(tmp_path / "zone")
    spark.createDataFrame([(1,)], "v long").write.parquet(zone)
    s1 = S.snapshot_zone(spark, zone)

    # simulate the crash: manifest for s2 written, ptr never committed
    spark.createDataFrame(
        [("x.parquet", 1)], "file string, length long"
    ).write.parquet(f"{zone}/_snapshots/s{s1 + 1}/manifest")
    assert S.snapshot_ids(spark, zone) == [s1]  # orphan invisible
    # note: the next snapshot_zone re-uses the orphan's slot via
    # mode("overwrite") — ids come from committed ptr markers only
    s2 = S.snapshot_zone(spark, zone)
    assert s2 == s1 + 1 and S.snapshot_ids(spark, zone) == [s1, s2]
    assert S.read_zone_snapshot(spark, zone, s2).count() == 1

    # a zone with no committed data files (nothing ever written) still
    # snapshots — "the corpus was empty then" is recordable — but
    # reading that snapshot is an explicit error, not an empty scan
    empty = str(tmp_path / "empty")
    sid = S.snapshot_zone(spark, empty)
    with pytest.raises(ValueError, match="pinned an empty zone"):
        S.read_zone_snapshot(spark, empty, sid)


def test_snapshot_diff_reads_only_the_appended_batch(spark, tmp_path):
    """Incremental consumption via snapshot deltas: with a snapshot after
    each producer run, the (from, to] diff scan returns exactly the
    appended rows (partition columns intact), the empty delta is an
    explicit probe-first error, and the three-way union of deltas equals
    the latest snapshot."""
    import pytest

    from aws_data_pipeline_spark.sources import snapshots as S

    zone = str(tmp_path / "zone")
    batches = [
        [(2023, 0), (2023, 1)],
        [(2024, 2)],
        [(2024, 3), (2025, 4)],
    ]
    sids = []
    for b in batches:
        spark.createDataFrame(b, "year int, v long").write.mode(
            "append"
        ).partitionBy("year").parquet(zone)
        sids.append(S.snapshot_zone(spark, zone))

    d12 = S.read_zone_snapshot_diff(spark, zone, sids[0], sids[1])
    assert sorted((r.year, r.v) for r in d12.collect()) == batches[1]
    d23 = S.read_zone_snapshot_diff(spark, zone, sids[1], sids[2])
    assert sorted((r.year, r.v) for r in d23.collect()) == batches[2]
    assert set(d23.columns) == {"v", "year"}

    assert S.snapshot_diff_files(spark, zone, sids[2], sids[2]) == []
    with pytest.raises(ValueError, match="differ by no files"):
        S.read_zone_snapshot_diff(spark, zone, sids[2], sids[2])

    # batch1 + delta12 + delta23 == the full latest snapshot
    full = sorted(
        (r.year, r.v)
        for r in S.read_zone_snapshot(spark, zone, sids[2]).collect()
    )
    assert full == sorted(batches[0] + batches[1] + batches[2])


def test_snapshot_attribution_with_mixed_depth_and_escaped_values(
    spark, tmp_path
):
    """Attribution must come from the tombstone tree itself, not from one
    broken file's inferred shape: a zone with BOTH a root-level file and
    hive partitions, where the root file is rewritten and a partition
    (with an escaping-hostile value) is expired, reports each breakage
    with its own cause."""
    import pytest

    from pyspark.sql import functions as F

    from aws_data_pipeline_spark.sources import snapshots as S
    from aws_data_pipeline_spark.sources.parquet import (
        expire_zone_partitions,
    )

    # partitioned side, with a value that hive-escapes (':')
    zone = str(tmp_path / "zone")
    spark.createDataFrame(
        [("a:b", 1), ("keep", 2)], "src string, v long"
    ).write.partitionBy("src").parquet(zone)
    # root-level file beside the partitions (mixed-depth zones are
    # degenerate but must not corrupt attribution for everyone else)
    spark.createDataFrame([(99,)], "v long").write.mode("append").parquet(
        zone
    )
    sid = S.snapshot_zone(spark, zone)

    expire_zone_partitions(spark, zone, ["src"], keep=lambda t: t[0] != "a:b")
    # rewrite the root-level file (same name space, new bytes): delete
    # one root parquet file to simulate the rewritten/corrupt class
    import glob as g
    import os

    root_files = [
        p for p in g.glob(f"{zone}/*.parquet") if os.path.isfile(p)
    ]
    os.remove(root_files[0])

    with pytest.raises(S.SnapshotBrokenError) as ei:
        S.read_zone_snapshot(spark, zone, sid)
    causes = {}
    for rel, why in ei.value.broken.items():
        causes.setdefault(why, []).append(rel)
    assert all(r.startswith("src=a%3Ab/") for r in causes["expired"])
    assert all("/" not in r for r in causes["rewritten-or-corrupt"])
    assert len(causes["rewritten-or-corrupt"]) == 1


def test_compact_after_snapshot_keeps_time_travel(spark, tmp_path):
    """VERDICT r11 item 4: snapshot-respecting compaction (the default)
    parks pinned originals in _retired before rewriting, so the old
    snapshot keeps reading its exact generation while the live zone
    serves the compacted one; expire + gc reclaims the retired copies."""
    from aws_data_pipeline_spark.sources import snapshots as S
    from aws_data_pipeline_spark.sources.parquet import compact_zone

    zone = str(tmp_path / "zone")
    spark.createDataFrame(
        [(y, i) for y in (2023, 2024) for i in range(6)],
        "year int, v long",
    ).repartition(3).write.partitionBy("year").parquet(zone)
    before = sorted(
        (r.year, r.v) for r in spark.read.parquet(zone).collect()
    )
    s1 = S.snapshot_zone(spark, zone)

    compact_zone(spark, zone, partition_by=["year"])
    # live zone: identical rows, compacted layout
    assert sorted(
        (r.year, r.v) for r in spark.read.parquet(zone).collect()
    ) == before
    # the old snapshot still reads its EXACT pinned generation (from
    # _retired), partition columns intact
    old = S.read_zone_snapshot(spark, zone, s1)
    assert sorted((r.year, r.v) for r in old.collect()) == before
    assert set(old.columns) == {"year", "v"}

    # a post-compaction snapshot pins the live files; gc with both
    # manifests alive reclaims nothing
    s2 = S.snapshot_zone(spark, zone)
    assert S.gc_retired_files(spark, zone) == []
    # retiring the old manifest frees its retired copies
    assert S.expire_snapshots(spark, zone, keep_last=1) == [s1]
    removed = S.gc_retired_files(spark, zone)
    assert removed and all(r.startswith("year=") for r in removed)
    assert S.gc_retired_files(spark, zone) == []  # idempotent
    assert S.read_zone_snapshot(spark, zone, s2).count() == 12


def test_same_length_rewrite_detected_by_mtime(spark, tmp_path):
    """ADVICE r11: name+length verification alone serves a same-length
    in-place rewrite silently; the manifest now records mtime, so a
    touched pinned file (simulated with utime — byte length unchanged)
    breaks the snapshot loudly as rewritten-or-corrupt."""
    import glob as g
    import os

    import pytest

    from aws_data_pipeline_spark.sources import snapshots as S

    zone = str(tmp_path / "zone")
    spark.createDataFrame(
        [(2024, i) for i in range(4)], "year int, v long"
    ).write.partitionBy("year").parquet(zone)
    sid = S.snapshot_zone(spark, zone)
    assert S.read_zone_snapshot(spark, zone, sid).count() == 4

    victim = g.glob(f"{zone}/year=2024/*.parquet")[0]
    st = os.stat(victim)
    os.utime(victim, (st.st_atime + 10, st.st_mtime + 10))
    with pytest.raises(S.SnapshotBrokenError) as ei:
        S.read_zone_snapshot(spark, zone, sid)
    assert list(ei.value.broken.values()) == ["rewritten-or-corrupt"]


def test_stale_tombstone_does_not_launder_corruption(spark, tmp_path):
    """ADVICE r11: a partition expired, RE-INGESTED, pinned by a new
    snapshot, and then genuinely damaged must attribute as
    rewritten-or-corrupt — the old tombstone predates the snapshot and
    cannot explain the loss. A fresh expiry (tombstone newer than the
    snapshot) attributes as expired again."""
    import time

    import pytest

    from aws_data_pipeline_spark.sources import snapshots as S
    from aws_data_pipeline_spark.sources.parquet import (
        expire_zone_partitions,
    )

    zone = str(tmp_path / "zone")
    spark.createDataFrame(
        [(2023, 1), (2024, 2)], "year int, v long"
    ).write.partitionBy("year").parquet(zone)
    expire_zone_partitions(
        spark, zone, ["year"], keep=lambda t: int(t[0]) >= 2024
    )
    time.sleep(0.05)  # distinct mtimes: tombstone strictly older

    # re-ingest 2023, snapshot the re-ingested state
    spark.createDataFrame([(2023, 3)], "year int, v long").write.mode(
        "append"
    ).partitionBy("year").parquet(zone)
    sid = S.snapshot_zone(spark, zone)
    assert S.read_zone_snapshot(spark, zone, sid).count() == 2

    # genuine damage to the re-ingested partition: NOT expiry
    import glob as g
    import os

    os.remove(g.glob(f"{zone}/year=2023/*.parquet")[0])
    with pytest.raises(S.SnapshotBrokenError) as ei:
        S.read_zone_snapshot(spark, zone, sid)
    assert all(
        why == "rewritten-or-corrupt" for why in ei.value.broken.values()
    ), ei.value.broken

    # a REAL second expiry refreshes the tombstone past the snapshot:
    # the remaining 2024 pin breaks attributably as expired
    time.sleep(0.05)
    expire_zone_partitions(spark, zone, ["year"], keep=lambda t: False)
    with pytest.raises(S.SnapshotBrokenError) as ei2:
        S.read_zone_snapshot(spark, zone, sid)
    assert ei2.value.broken["year=2024/" + sorted(
        r.split("/", 1)[1] for r in ei2.value.broken if r.startswith("year=2024/")
    )[0]] == "expired"


def test_diff_verifies_like_snapshot_reads(spark, tmp_path):
    """ADVICE r11: the diff read shares the snapshot read's verification
    — a delta broken by post-snapshot retention expiry attributes
    'expired' (not hardcoded corruption), and a delta whose files were
    compacted away resolves from _retired instead of breaking."""
    import pytest

    from aws_data_pipeline_spark.sources import snapshots as S
    from aws_data_pipeline_spark.sources.parquet import (
        compact_zone,
        expire_zone_partitions,
    )

    zone = str(tmp_path / "zone")
    spark.createDataFrame([(2023, 0)], "year int, v long").write.mode(
        "append"
    ).partitionBy("year").parquet(zone)
    s1 = S.snapshot_zone(spark, zone)
    spark.createDataFrame(
        [(2024, 1), (2024, 2)], "year int, v long"
    ).write.mode("append").partitionBy("year").parquet(zone)
    s2 = S.snapshot_zone(spark, zone)

    # compaction rewrites everything; the (s1, s2] delta resolves from
    # the retired copies
    compact_zone(spark, zone, partition_by=["year"])
    d = S.read_zone_snapshot_diff(spark, zone, s1, s2)
    assert sorted((r.year, r.v) for r in d.collect()) == [(2024, 1), (2024, 2)]

    # deliberate expiry of the delta's partition AFTER s2: attributed
    import time

    time.sleep(0.05)
    expire_zone_partitions(
        spark, zone, ["year"], keep=lambda t: int(t[0]) != 2024
    )
    # the retired copies still serve the delta (expiry removed live
    # dirs only), so ALSO retire them to expose the broken path
    S.retire_pinning_snapshots(spark, zone, under=["year=2024"])
    # s2's manifest is gone with the retirement — rebuild the scenario
    # where the manifest survives but files are expired: fresh zone
    zone2 = str(tmp_path / "zone2")
    spark.createDataFrame([(2023, 0)], "year int, v long").write.mode(
        "append"
    ).partitionBy("year").parquet(zone2)
    t1 = S.snapshot_zone(spark, zone2)
    spark.createDataFrame([(2024, 1)], "year int, v long").write.mode(
        "append"
    ).partitionBy("year").parquet(zone2)
    t2 = S.snapshot_zone(spark, zone2)
    time.sleep(0.05)
    expire_zone_partitions(
        spark, zone2, ["year"], keep=lambda t: int(t[0]) != 2024
    )
    with pytest.raises(S.SnapshotBrokenError) as ei:
        S.read_zone_snapshot_diff(spark, zone2, t1, t2)
    assert all(why == "expired" for why in ei.value.broken.values())


def test_erasure_retires_pinning_snapshots(spark, tmp_path):
    """VERDICT r11 item 4 (erasure half): delete_from_zone with
    retire_snapshots=True drops every snapshot pinning the touched
    partitions AND the retired copies parked there — time travel to the
    forgotten rows stops being offered; snapshots that pin nothing under
    the touched partitions survive."""
    from aws_data_pipeline_spark.sources import snapshots as S
    from aws_data_pipeline_spark.sources.parquet import (
        compact_zone,
        delete_from_zone,
    )

    zone = str(tmp_path / "zone")
    spark.createDataFrame(
        [(2023, 1, "pii"), (2023, 2, "pii"), (2024, 3, "ok")],
        "year int, id long, v string",
    ).write.partitionBy("year").parquet(zone)
    s1 = S.snapshot_zone(spark, zone)
    compact_zone(spark, zone, partition_by=["year"])  # parks s1's files

    # erase ALL 2023 rows (the partition empties), retiring s1
    doomed = spark.createDataFrame([(1, 2023), (2, 2023)], "id long, year int")
    delete_from_zone(
        spark, zone, doomed, ["id"], ["year"], retire_snapshots=True
    )
    assert S.snapshot_ids(spark, zone) == []  # s1 pinned 2023 -> gone
    assert s1 not in S.snapshot_ids(spark, zone)
    # no retired copy under the scrubbed partition survives
    import glob as g

    assert g.glob(f"{zone}/_retired/year=2023/*") == []
    assert sorted(
        (r.year, r.id) for r in spark.read.parquet(zone).collect()
    ) == [(2024, 3)]

    # a post-erasure snapshot pins only 2024; erasing 2023 again (a
    # replayed erasure) touches nothing it pins -> it survives
    s2 = S.snapshot_zone(spark, zone)
    delete_from_zone(
        spark, zone,
        spark.createDataFrame([(9, 2023)], "id long, year int"),
        ["id"], ["year"], retire_snapshots=True,
    )
    assert S.snapshot_ids(spark, zone) == [s2]
    assert S.read_zone_snapshot(spark, zone, s2).count() == 1


def test_snapshot_verification_resolves_retired_copies(spark, tmp_path):
    """The one verification path: a green read, retired resolution after
    compaction, a damaged retired copy reported as rewritten-or-corrupt,
    and the live snapshot unaffected."""
    import glob as g
    import os

    import pytest

    from aws_data_pipeline_spark.sources import snapshots as S
    from aws_data_pipeline_spark.sources.parquet import compact_zone

    zone = str(tmp_path / "zone")
    spark.createDataFrame(
        [(y, i) for y in (2023, 2024) for i in range(3)],
        "year int, v long",
    ).write.partitionBy("year").parquet(zone)
    s1 = S.snapshot_zone(spark, zone)

    got = S.read_zone_snapshot(spark, zone, s1)
    assert sorted((r.year, r.v) for r in got.collect()) == [
        (2023, 0), (2023, 1), (2023, 2), (2024, 0), (2024, 1), (2024, 2)
    ]

    # retired resolution
    compact_zone(spark, zone, partition_by=["year"])
    again = S.read_zone_snapshot(spark, zone, s1)
    assert again.count() == 6

    # broken detection + attribution: damage a retired copy (the only
    # generation serving s1's 2023 files)
    s2 = S.snapshot_zone(spark, zone)
    victim = g.glob(f"{zone}/_retired/year=2023/*.parquet")[0]
    os.remove(victim)
    with pytest.raises(S.SnapshotBrokenError) as ei:
        S.read_zone_snapshot(spark, zone, s1)
    assert all(
        why == "rewritten-or-corrupt" for why in ei.value.broken.values()
    )
    # the live snapshot is unaffected
    assert S.read_zone_snapshot(spark, zone, s2).count() == 6


def test_snapshot_reads_one_job_per_manifest(spark, tmp_path):
    """Every manifest a read needs is collected once, with the schema its
    writer declared (one Spark job, no footer inference): a snapshot
    read is its manifest plus the scan's own schema job, a diff reads
    its two manifests once whether strict or not, a publication read
    adds only the publication manifest, and the pinned-set probes cost
    one job per manifest."""
    from aws_data_pipeline_spark.sources import publish as P
    from aws_data_pipeline_spark.sources import snapshots as S

    zone = str(tmp_path / "zone")
    root = str(tmp_path / "estate")
    for y in (2023, 2024):
        spark.createDataFrame(
            [(y, i) for i in range(3)], "year int, v long"
        ).write.mode("append").partitionBy("year").parquet(zone)
        S.snapshot_zone(spark, zone)
    P.publish_tables(spark, root, {"t": zone})  # the zone's s3

    def jobs(group, fn):
        return len(job_names(spark, group, fn))

    got = {
        "read": jobs("snap-read", lambda: S.read_zone_snapshot(spark, zone, 1)),
        "diff": jobs(
            "snap-diff", lambda: S.read_zone_snapshot_diff(spark, zone, 1, 2)
        ),
        "strict": jobs(
            "snap-strict",
            lambda: S.read_zone_snapshot_diff(spark, zone, 1, 2, strict=True),
        ),
        "published": jobs(
            "pub-read", lambda: P.read_published(spark, root, "t")
        ),
        "pinned": jobs(
            "snap-pinned", lambda: S.snapshot_pinned_files(spark, zone)
        ),
        "pub_pinned": jobs(
            "pub-pinned", lambda: P.publication_pinned_snapshots(spark, root)
        ),
    }
    bound = {
        "read": 2, "diff": 3, "strict": 3, "published": 3,
        "pinned": 3, "pub_pinned": 1,
    }
    assert all(got[k] <= bound[k] for k in bound), got


def test_strict_diff_refuses_rewritten_zones(spark, tmp_path):
    """VERDICT r11 advisory 3: strict diff mode refuses a (from, to]
    read when the from-manifest lost files by to — the rewrite
    fingerprint — instead of re-serving rewritten rows; an append-only
    history reads identically under both modes."""
    import pytest

    from aws_data_pipeline_spark.sources import snapshots as S
    from aws_data_pipeline_spark.sources.parquet import compact_zone

    zone = str(tmp_path / "zone")
    spark.createDataFrame([(2023, 0)], "year int, v long").write.mode(
        "append"
    ).partitionBy("year").parquet(zone)
    s1 = S.snapshot_zone(spark, zone)
    spark.createDataFrame([(2024, 1)], "year int, v long").write.mode(
        "append"
    ).partitionBy("year").parquet(zone)
    s2 = S.snapshot_zone(spark, zone)
    # append-only so far: strict and default agree
    assert S.snapshot_lost_files(spark, zone, s1, s2) == []
    assert (
        S.read_zone_snapshot_diff(spark, zone, s1, s2, strict=True).count()
        == 1
    )

    # a rewrite between s2 and s3 (compaction) recycles every file
    compact_zone(spark, zone, partition_by=["year"])
    s3 = S.snapshot_zone(spark, zone)
    assert S.snapshot_lost_files(spark, zone, s2, s3)
    with pytest.raises(ValueError, match="strict diff .* refused"):
        S.read_zone_snapshot_diff(spark, zone, s2, s3, strict=True)
    # the at-least-once mode still serves (idempotency-key consumers)
    assert S.read_zone_snapshot_diff(spark, zone, s2, s3).count() == 2


def test_multi_table_publish_is_atomic_and_repeatable(spark, tmp_path):
    """Multi-table atomic publish: readers of one publication id see one
    coherent cross-table build — appends, snapshot-respecting
    compaction, and NEWER publications do not move it; a torn publish
    (manifest written, marker never created) is invisible; retention
    expires old publications and reports the snapshot floor for the
    zones' own retention."""
    import pytest

    from aws_data_pipeline_spark.sources import publish as P
    from aws_data_pipeline_spark.sources.parquet import compact_zone

    root = str(tmp_path)
    zo = str(tmp_path / "gold_orders")
    zc = str(tmp_path / "gold_custs")
    spark.createDataFrame([(2024, 1, 10.0)], "year int, id long, amt double").write.partitionBy("year").parquet(zo)
    spark.createDataFrame([(1, "gold")], "id long, tier string").write.parquet(zc)

    p1 = P.publish_tables(spark, root, {"orders": zo, "custs": zc})
    assert p1 == 1 and P.publication_ids(spark, root) == [1]
    assert P.read_published(spark, root, "orders").count() == 1
    assert P.read_published(spark, root, "custs").count() == 1

    # the next build lands + compaction rewrites zone files: publication
    # 1 still serves the OLD coherent view (retired-file fallback)
    spark.createDataFrame([(2024, 2, 20.0)], "year int, id long, amt double").write.mode("append").partitionBy("year").parquet(zo)
    spark.createDataFrame([(2, "silver")], "id long, tier string").write.mode("append").parquet(zc)
    compact_zone(spark, zo, partition_by=["year"])
    p2 = P.publish_tables(spark, root, {"orders": zo, "custs": zc})
    assert P.read_published(spark, root, "orders", p1).count() == 1
    assert P.read_published(spark, root, "custs", p1).count() == 1
    assert P.read_published(spark, root, "orders", p2).count() == 2
    assert P.read_published(spark, root, "orders").count() == 2  # latest

    # torn publish: manifest for p3 exists, marker never created
    spark.createDataFrame(
        [("orders", zo, 99)], "table string, zone string, snapshot_id int"
    ).write.parquet(f"{root}/_publications/p{p2 + 1}/manifest")
    assert P.publication_ids(spark, root) == [p1, p2]  # invisible
    with pytest.raises(ValueError, match="unknown publication id"):
        P.read_published(spark, root, "orders", p2 + 1)
    # the NEXT publish takes the orphan's slot (ids come from markers)
    p3 = P.publish_tables(spark, root, {"orders": zo, "custs": zc})
    assert p3 == p2 + 1

    # unknown table fails loudly
    with pytest.raises(ValueError, match="no table 'nope'"):
        P.read_published(spark, root, "nope", p3)

    # retention: drop p1, the snapshot floor shrinks accordingly
    pinned_before = P.publication_pinned_snapshots(spark, root)
    assert {zo, zc} == set(pinned_before)
    assert P.expire_publications(spark, root, keep_last=2) == [p1]
    assert P.publication_ids(spark, root) == [p2, p3]
    pinned = P.publication_pinned_snapshots(spark, root)
    assert pinned[zo] == {2, 3} and pinned[zc] == {2, 3}
    with pytest.raises(ValueError, match="unknown publication id"):
        P.read_published(spark, root, "orders", p1)


def test_compact_unpartitioned_snapshotted_zone_keeps_time_travel(
    spark, tmp_path
):
    """The r12 ADVICE high: in-place compaction of an UNPARTITIONED
    snapshotted zone used to static-overwrite the whole directory,
    silently destroying _snapshots and _retired. The _compacting swap
    protocol never truncates the zone dir: the old snapshot keeps
    reading its exact generation, the live zone serves the compacted
    one, and retention reclaims the retired copies."""
    from aws_data_pipeline_spark.sources import snapshots as S
    from aws_data_pipeline_spark.sources.parquet import compact_zone

    zone = str(tmp_path / "zone")
    spark.range(12).selectExpr("id AS v").repartition(4).write.parquet(zone)
    before = sorted(r.v for r in spark.read.parquet(zone).collect())
    s1 = S.snapshot_zone(spark, zone)

    compact_zone(spark, zone)  # unpartitioned, in place, default respect
    assert S.snapshot_ids(spark, zone) == [s1]  # manifests survived
    assert sorted(r.v for r in spark.read.parquet(zone).collect()) == before
    old = S.read_zone_snapshot(spark, zone, s1)
    assert sorted(r.v for r in old.collect()) == before

    s2 = S.snapshot_zone(spark, zone)
    assert S.expire_snapshots(spark, zone, keep_last=1) == [s1]
    assert S.gc_retired_files(spark, zone)  # s1's parked copies freed
    assert S.read_zone_snapshot(spark, zone, s2).count() == 12


def test_clustered_compact_snapshotted_zone_keeps_time_travel(
    spark, tmp_path
):
    """Same contract for the sort_by (clustered) in-place branch, which
    shares the swap protocol through clustered_rewrite."""
    from aws_data_pipeline_spark.sources import snapshots as S
    from aws_data_pipeline_spark.sources.parquet import compact_zone

    zone = str(tmp_path / "zone")
    spark.createDataFrame(
        [(i % 5, i) for i in range(20)], "k int, v long"
    ).repartition(4).write.parquet(zone)
    before = sorted((r.k, r.v) for r in spark.read.parquet(zone).collect())
    s1 = S.snapshot_zone(spark, zone)

    compact_zone(spark, zone, sort_by=("k",))
    assert S.snapshot_ids(spark, zone) == [s1]
    assert sorted(
        (r.k, r.v) for r in spark.read.parquet(zone).collect()
    ) == before
    assert sorted(
        (r.k, r.v) for r in S.read_zone_snapshot(spark, zone, s1).collect()
    ) == before


def test_compaction_swap_crash_recovery(spark, tmp_path):
    """The swap's three crash states, replayed from constructed on-disk
    wreckage: (a) _compacting without the marker = write never finished,
    discarded, live zone untouched; (b) marker present with olds not yet
    deleted, and (c) marker present with olds partially deleted — both
    complete to exactly the compacted generation on the next
    compact_zone (re-run IS the recovery procedure)."""
    from aws_data_pipeline_spark.sources.parquet import (
        _COMPACT_TMP_DIR,
        _SWAP_READY_MARKER,
        _top_level_data_entries,
        _write_text_file,
        complete_pending_compaction,
        compact_zone,
    )

    # (a) incomplete write: temp dir, no marker
    za = str(tmp_path / "za")
    spark.range(6).write.parquet(za)
    spark.range(3).write.parquet(f"{za}/{_COMPACT_TMP_DIR}")
    assert complete_pending_compaction(spark, za) is False
    assert spark.read.parquet(za).count() == 6  # live zone untouched
    assert _COMPACT_TMP_DIR not in [
        p.split("/")[0] for p in _top_level_data_entries(spark, za)
    ]

    # (b) marker present, no olds deleted yet
    zb = str(tmp_path / "zb")
    spark.range(6).selectExpr("id AS v").write.parquet(zb)
    olds = _top_level_data_entries(spark, zb)
    tmp = f"{zb}/{_COMPACT_TMP_DIR}"
    spark.range(100, 106).selectExpr("id AS v").coalesce(1).write.parquet(tmp)
    _write_text_file(spark, f"{tmp}/{_SWAP_READY_MARKER}", "\n".join(olds))
    assert complete_pending_compaction(spark, zb) is True
    assert sorted(r.v for r in spark.read.parquet(zb).collect()) == list(
        range(100, 106)
    )

    # (c) marker present, olds PARTIALLY deleted (crash mid-swap), then
    # recovery driven through compact_zone's entry hook
    zc = str(tmp_path / "zc")
    spark.range(6).selectExpr("id AS v").repartition(2).write.parquet(zc)
    olds = _top_level_data_entries(spark, zc)
    tmp = f"{zc}/{_COMPACT_TMP_DIR}"
    spark.range(200, 206).selectExpr("id AS v").coalesce(1).write.parquet(tmp)
    _write_text_file(spark, f"{tmp}/{_SWAP_READY_MARKER}", "\n".join(olds))
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(zc).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{zc}/{olds[0]}"), False)
    compact_zone(spark, zc)  # heals, then recompacts the healed zone
    assert sorted(r.v for r in spark.read.parquet(zc).collect()) == list(
        range(200, 206)
    )


def test_expire_snapshots_keep_ids_floor(spark, tmp_path):
    """keep_ids is a retention floor: a count that would drop a
    publication-pinned id skips it (and only it)."""
    from aws_data_pipeline_spark.sources import snapshots as S

    zone = str(tmp_path / "zone")
    spark.range(3).write.parquet(zone)
    s1 = S.snapshot_zone(spark, zone)
    spark.range(3).write.mode("append").parquet(zone)
    s2 = S.snapshot_zone(spark, zone)
    spark.range(3).write.mode("append").parquet(zone)
    s3 = S.snapshot_zone(spark, zone)

    # keep_last=1 alone would drop s1 AND s2; the floor saves s1
    assert S.expire_snapshots(spark, zone, keep_last=1, keep_ids=[s1]) == [s2]
    assert S.snapshot_ids(spark, zone) == [s1, s3]
    assert S.read_zone_snapshot(spark, zone, s1).count() == 3


def test_catalog_ids_stay_monotonic_across_retention(spark, tmp_path):
    """Snapshot and publication ids never repeat, even after retention
    dropped every committed id: the newest dropped id's marker stays as
    a dataless high-water mark (invisible to the id listings; an older
    mark is cleared by the next draining drop), so a consumer keyed on
    ids never sees one id name two different manifests."""
    import os

    from aws_data_pipeline_spark.sources import publish as P
    from aws_data_pipeline_spark.sources import snapshots as S

    def markers(catalog):
        return sorted(n for n in os.listdir(f"{catalog}/_ptr") if n.isdigit())

    zone = str(tmp_path / "zone")
    spark.range(3).write.parquet(zone)
    assert [S.snapshot_zone(spark, zone) for _ in range(2)] == [1, 2]
    assert S.expire_snapshots(spark, zone, keep_last=0) == [1, 2]
    assert S.snapshot_ids(spark, zone) == []
    assert markers(f"{zone}/_snapshots") == ["2"]
    assert S.snapshot_zone(spark, zone) == 3
    assert S.snapshot_ids(spark, zone) == [3]
    # the erasure drop shares the rule, and clears the older mark
    assert S.retire_pinning_snapshots(spark, zone) == [3]
    assert markers(f"{zone}/_snapshots") == ["3"]
    assert S.snapshot_zone(spark, zone) == 4
    assert S.read_zone_snapshot(spark, zone).count() == 3

    root = str(tmp_path / "estate")
    pubs = [P.publish_tables(spark, root, {"t": zone}) for _ in range(2)]
    assert pubs == [1, 2]
    assert P.expire_publications(spark, root, 0) == [1, 2]
    assert P.publication_ids(spark, root) == []
    assert markers(f"{root}/_publications") == ["2"]
    with pytest.raises(ValueError, match="no publications committed"):
        P.read_published(spark, root, "t")
    assert P.publish_tables(spark, root, {"t": zone}) == 3
    assert P.read_published(spark, root, "t").count() == 3


def test_one_filesystem_acquisition_site():
    """The package acquires a Hadoop FileSystem in exactly one place,
    ``sources.parquet._hadoop_fs``; every other site routes through it,
    so path parsing and scheme resolution cannot fork again."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "aws_data_pipeline_spark"
    pattern = re.compile(r"getFileSystem\(|FileSystem\.get\(")
    allowed: list[tuple[str, int, int]] = []
    hits: list[tuple[str, int]] = []
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        src = f.read_text()
        if rel == "sources/parquet.py":
            allowed += [
                (rel, n.lineno, n.end_lineno)
                for n in ast.walk(ast.parse(src))
                if isinstance(n, ast.FunctionDef) and n.name == "_hadoop_fs"
            ]
        hits += [
            (rel, i)
            for i, line in enumerate(src.splitlines(), 1)
            if pattern.search(line)
        ]
    assert len(allowed) == 1
    outside = [
        h for h in hits
        if not any(h[0] == r and a <= h[1] <= b for r, a, b in allowed)
    ]
    assert outside == [], f"FileSystem acquired outside _hadoop_fs: {outside}"
    assert len(hits) == 1


def test_one_module_spells_the_index_layout():
    """The versioned index store's on-disk spelling — the ``_ptr`` marker
    directory and the ``v<N>`` version directories — appears in package
    code only inside ``sources/parquet.py``; every other module reaches
    the layout through its functions (``index_root``, ``index_next_root``,
    ``finish_index_build``...), so the layout cannot fork again. Scans
    code strings (docstrings are prose) and ``startswith``-style probes
    for a ``v`` prefix."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "aws_data_pipeline_spark"
    version_dir = re.compile(r"/v(\d+)?(/|$)")
    hits = []
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        if rel == "sources/parquet.py":
            continue
        tree = ast.parse(f.read_text())
        docs = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(
                n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
            )
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in docs
                and ("_ptr" in n.value or version_dir.search(n.value))
            ):
                hits.append((rel, n.lineno, n.value))
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("startswith", "removeprefix")
                and n.args
                and isinstance(n.args[0], ast.Constant)
                and str(n.args[0].value).lstrip("/").startswith("v")
            ):
                hits.append((rel, n.lineno, n.func.attr))
    assert hits == [], f"index layout spelled outside sources/parquet.py: {hits}"


def test_medallion_reads_silver_without_schema_inference():
    """The batch and streaming medallion modules never probe the
    ``.schema`` of an inferred parquet read: silver's schema is
    ``pipeline.medallion.silver_schema``, pinned on every read, so no
    read starts a footer-inference job. A ``merge_schema=True`` read is
    the one exemption: its footer union IS the evolved schema the widen
    type-conflict guard checks against."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "aws_data_pipeline_spark"

    def inferred_read(call) -> bool:
        f = call.func
        if isinstance(f, ast.Name) and f.id == "read_zone":
            return not any(
                k.arg == "merge_schema"
                and isinstance(k.value, ast.Constant)
                and k.value.value is True
                for k in call.keywords
            )
        return (
            isinstance(f, ast.Attribute)
            and f.attr == "parquet"
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "read"
        )

    hits = []
    for rel in ("pipeline/medallion.py", "streaming/ingest.py", "streaming/gold.py"):
        hits += [
            (rel, n.lineno)
            for n in ast.walk(ast.parse((pkg / rel).read_text()))
            if isinstance(n, ast.Attribute)
            and n.attr == "schema"
            and isinstance(n.value, ast.Call)
            and inferred_read(n.value)
        ]
    assert hits == [], f"schema probe of an inferred silver read: {hits}"


def test_gc_published_estate_safe_order(spark, tmp_path):
    """VERDICT r12 item 5: the composed retention verb. Construct the
    exact state where the unsafe order breaks — a publication pinning a
    snapshot that count-only zone retention WOULD drop — and show the
    verb expires publications first, floors zone retention on the
    survivors' pins, and every surviving published read still works."""
    import pytest

    from aws_data_pipeline_spark.sources import publish as P
    from aws_data_pipeline_spark.sources import snapshots as S

    root = str(tmp_path / "estate")
    zo = str(tmp_path / "orders")
    zc = str(tmp_path / "custs")
    spark.range(4).write.parquet(zo)
    spark.range(2).write.parquet(zc)
    p1 = P.publish_tables(spark, root, {"orders": zo, "custs": zc})
    spark.range(4, 8).write.mode("append").parquet(zo)
    p2 = P.publish_tables(spark, root, {"orders": zo, "custs": zc})
    spark.range(8, 9).write.mode("append").parquet(zo)
    s_extra = S.snapshot_zone(spark, zo)  # zone-local, unpinned

    # the hazard is real: count-only keep_last=1 on zo would drop p2's
    # pinned id (only s_extra would survive)
    pinned_zo = P.publication_pinned_snapshots(spark, root)[zo]
    assert max(pinned_zo) in S.snapshot_ids(spark, zo)[:-1]

    report = P.gc_published_estate(
        spark, root, keep_publications=1, keep_snapshots_last=1
    )
    assert report["publications_dropped"] == [p1]
    # p2's pins survived the floor; p1-only snapshots are gone
    assert P.read_published(spark, root, "orders", p2).count() == 8
    assert P.read_published(spark, root, "custs", p2).count() == 2
    with pytest.raises(ValueError):
        P.read_published(spark, root, "orders", p1)
    # the newest zone-local snapshot also survived (keep_snapshots_last)
    assert s_extra in S.snapshot_ids(spark, zo)


def test_family_verdict_load_attributed_arm(tmp_path):
    """The mechanized ambient-load ruling (VERDICT r12 item 2): a driver
    singleton past the envelope is LOAD-ATTRIBUTED — not FLAGged — when
    the recorded boot loadavg shows a loaded host AND the whole suite
    moved by one common factor; with an idle-host load record the same
    numbers FLAG."""
    import json
    import subprocess
    import sys

    queries = [f"fam_q{i}" for i in range(3)] + [f"other_q{i}" for i in range(9)]

    def write(root, load1):
        (root / "evidence").mkdir()
        env = {
            "queries": {q: 1.0 for q in queries},
            "dispersion": {
                q: {"min": 0.9, "median": 1.0, "max": 1.1, "reps": 3}
                for q in queries
            },
        }
        (root / "evidence" / "bench_r12_run1.json").write_text(json.dumps(env))
        # driver run: EVERY query uniformly 1.6x the envelope
        drv = {
            "parsed": {
                "queries": {q: 1.6 for q in queries},
                "dispersion": {
                    q: {"min": 1.5, "median": 1.6, "max": 1.7, "reps": 3}
                    for q in queries
                },
                "loadavg": {
                    "boot": [load1, load1, load1],
                    "start": [load1, load1, load1],
                    "end": [load1, load1, load1],
                    "ncpus": 32,
                },
            }
        }
        (root / "BENCH_r12.json").write_text(json.dumps(drv))

    loaded = tmp_path / "loaded"
    loaded.mkdir()
    write(loaded, load1=40.0)  # 1.25 load per cpu — saturated host
    r = subprocess.run(
        [sys.executable, "scripts/family_verdict.py", "--family", "fam_",
         "--rounds", "12", "--driver-round", "12",
         "--root", str(loaded)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "LOAD-ATTRIBUTED" in r.stdout

    idle = tmp_path / "idle"
    idle.mkdir()
    write(idle, load1=0.5)  # idle host: the same slowdown is REAL
    r = subprocess.run(
        [sys.executable, "scripts/family_verdict.py", "--family", "fam_",
         "--rounds", "12", "--driver-round", "12",
         "--root", str(idle)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 1
    assert "REGRESSION-SUSPECT" in r.stdout


def test_family_verdict_steal_attributed_arm(tmp_path):
    """The r13 steal arm: loadavg cannot see hypervisor contention (a
    clean-boot run on a stolen host reads load ~0 yet runs uniformly
    slow — observed at 10-19% steal of busy ticks), so a uniform suite
    shift with recorded steal_pct_busy at or above --steal-threshold is
    LOAD-ATTRIBUTED even on an idle loadavg; the same numbers with low
    steal stay a REGRESSION-SUSPECT."""
    import json
    import subprocess
    import sys

    queries = [f"fam_q{i}" for i in range(3)] + [f"other_q{i}" for i in range(9)]

    def write(root, steal_pct):
        (root / "evidence").mkdir()
        env = {
            "queries": {q: 1.0 for q in queries},
            "dispersion": {
                q: {"min": 0.9, "median": 1.0, "max": 1.1, "reps": 3}
                for q in queries
            },
        }
        (root / "evidence" / "bench_r12_run1.json").write_text(json.dumps(env))
        drv = {
            "parsed": {
                "queries": {q: 1.6 for q in queries},
                "dispersion": {
                    q: {"min": 1.5, "median": 1.6, "max": 1.7, "reps": 3}
                    for q in queries
                },
                "loadavg": {
                    "boot": [0.05, 0.05, 0.05],  # CLEAN loadavg
                    "start": [0.05, 0.05, 0.05],
                    "end": [8.0, 5.0, 3.0],
                    "ncpus": 32,
                    "cpustat": {
                        "busy_ticks": 100000,
                        "idle_ticks": 900000,
                        "steal_ticks": int(1000 * steal_pct),
                        "steal_pct_busy": steal_pct,
                    },
                },
            }
        }
        (root / "BENCH_r12.json").write_text(json.dumps(drv))

    stolen = tmp_path / "stolen"
    stolen.mkdir()
    write(stolen, steal_pct=15.0)  # the observed contaminated regime
    r = subprocess.run(
        [sys.executable, "scripts/family_verdict.py", "--family", "fam_",
         "--rounds", "12", "--driver-round", "12",
         "--root", str(stolen)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "LOAD-ATTRIBUTED" in r.stdout and "steal 15.0%" in r.stdout

    quiet = tmp_path / "quiet"
    quiet.mkdir()
    write(quiet, steal_pct=2.0)  # quiet-window steal: slowdown is REAL
    r = subprocess.run(
        [sys.executable, "scripts/family_verdict.py", "--family", "fam_",
         "--rounds", "12", "--driver-round", "12",
         "--root", str(quiet)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 1
    assert "REGRESSION-SUSPECT" in r.stdout


def test_gc_published_estate_crash_retry_marker(spark, tmp_path):
    """The _gc_pending marker closes the crash window between expiring
    publications and running zone retention: a re-run still visits zones
    whose only referencing publications the interrupted run dropped.
    Simulated by handing the verb a marker naming a zone NO publication
    references (exactly the post-crash state)."""
    from aws_data_pipeline_spark.sources import publish as P
    from aws_data_pipeline_spark.sources import snapshots as S
    from aws_data_pipeline_spark.sources.parquet import _write_text_file

    root = str(tmp_path / "estate")
    zlive = str(tmp_path / "live")
    zorphan = str(tmp_path / "orphan")
    spark.range(2).write.parquet(zlive)
    spark.range(2).write.parquet(zorphan)
    p1 = P.publish_tables(spark, root, {"live": zlive})
    s_orphan = S.snapshot_zone(spark, zorphan)  # pinned only by the
    # publication the interrupted run already dropped

    _write_text_file(spark, f"{root}/_publications/_gc_pending", zorphan)
    report = P.gc_published_estate(
        spark, root, keep_publications=1, keep_snapshots_last=0
    )
    # the orphaned zone was visited and its unpinned snapshot expired
    assert report["zones"][zorphan]["snapshots_dropped"] == [s_orphan]
    assert S.snapshot_ids(spark, zorphan) == []
    # the live publication's pins survived; the marker is gone
    assert P.read_published(spark, root, "live", p1).count() == 2
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(root).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    assert not fs.exists(
        jvm.org.apache.hadoop.fs.Path(f"{root}/_publications/_gc_pending")
    )


def test_read_pinned_memoizes_schema_and_rereads_values(spark, tmp_path):
    """read_pinned: the first read infers and memoizes the schema; later
    reads of the same path serve the SAME schema but fresh VALUES (the
    memo pins planning metadata, never data) — the r13 footer-inference
    optimization's core contract."""
    from aws_data_pipeline_spark.sources.parquet import _APP_MEMO, read_pinned

    zone = str(tmp_path / "pinz")
    spark.range(5).select(F.col("id").alias("a")).write.parquet(zone)
    df1 = read_pinned(spark, zone)
    key = (spark.sparkContext.applicationId, ("schema", zone), None)
    assert key in _APP_MEMO
    assert df1.schema == _APP_MEMO[key]
    # an append lands new values under the same schema; the pinned read
    # must see them (listing happens per read — only inference is pinned)
    spark.range(5, 8).select(F.col("id").alias("a")).write.mode(
        "append"
    ).parquet(zone)
    df2 = read_pinned(spark, zone)
    assert df2.schema == df1.schema
    assert df2.count() == 8


def test_read_pinned_partitioned_zone_roundtrip(spark, tmp_path):
    """Pinned re-reads of a hive-partitioned zone (the ivfpq cell-codes
    shape) keep the partition column and its values."""
    from aws_data_pipeline_spark.sources.parquet import read_pinned

    zone = str(tmp_path / "cellz")
    spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1)], "id long, cell int"
    ).write.partitionBy("cell").parquet(zone)
    first = read_pinned(spark, zone)
    again = read_pinned(spark, zone)
    assert again.schema == first.schema
    assert sorted((r.id, r.cell) for r in again.collect()) == [
        (1, 0), (2, 0), (3, 1),
    ]
    # partition pruning still resolves against the pinned schema
    assert again.filter(F.col("cell") == 0).count() == 2


def test_delete_zone_evicts_pinned_schema(spark, tmp_path):
    """delete_zone must evict read_pinned and artifact_memo entries under
    the deleted path: a legal same-path rebuild after an explicit delete
    may carry different columns, and a stale pinned schema would misread
    it."""
    from aws_data_pipeline_spark.sources.parquet import (
        artifact_memo,
        delete_zone,
        read_pinned,
    )

    zone = str(tmp_path / "rebz")
    spark.range(3).select(F.col("id").alias("a")).write.parquet(zone)
    assert read_pinned(spark, zone).columns == ["a"]
    assert artifact_memo(spark, f"{zone}/sub", lambda: "old") == "old"
    assert artifact_memo(spark, f"{zone}/sub", lambda: "new") == "old"
    delete_zone(spark, zone)
    spark.range(3).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    ).write.parquet(zone)
    assert set(read_pinned(spark, zone).columns) == {"a", "b"}
    assert artifact_memo(spark, f"{zone}/sub", lambda: "new") == "new"


def test_zone_listing_state_mtime_tracks_rewrites(spark, tmp_path):
    """zone_listing_state: (files, bytes, max mtime) — a rewrite at
    identical (files, bytes) still flips the triple via mtime, which is
    what lets a build-once registry index key on the listing alone."""
    import os
    import time

    from aws_data_pipeline_spark.sources.parquet import zone_listing_state

    zone = tmp_path / "mz"
    assert zone_listing_state(spark, str(zone)) == (0, 0, 0)
    df = spark.range(10).select(F.col("id").alias("x"))
    df.coalesce(1).write.parquet(str(zone))
    s1 = zone_listing_state(spark, str(zone))
    assert s1[0] == 1 and s1[1] > 0 and s1[2] > 0
    # bump every committed file's mtime without touching content —
    # the byte-identical-rewrite case fingerprints alone cannot see
    time.sleep(0.01)
    for name in os.listdir(zone):
        if not name.startswith(("_", ".")):
            os.utime(zone / name)
    s2 = zone_listing_state(spark, str(zone))
    assert (s2[0], s2[1]) == (s1[0], s1[1]) and s2[2] > s1[2]


def test_arrow_frame_is_the_only_create_dataframe_call():
    """Every driver-built frame in the package goes through
    ``operators.arrow_frame``: ``createDataFrame`` over a Python list is a
    pickled Python RDD whose scan forks a ``pyspark.daemon`` and one
    worker per task, resident for the rest of the session."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "aws_data_pipeline_spark"
    allowed: list[tuple[str, int, int]] = []
    hits: list[tuple[str, int]] = []
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        tree = ast.parse(f.read_text())
        if rel == "operators/__init__.py":
            allowed += [
                (rel, n.lineno, n.end_lineno)
                for n in ast.walk(tree)
                if isinstance(n, ast.FunctionDef) and n.name == "arrow_frame"
            ]
        hits += [
            (rel, n.lineno)
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
        ]
    assert len(allowed) == 1
    outside = [
        h for h in hits
        if not any(h[0] == r and a <= h[1] <= b for r, a, b in allowed)
    ]
    assert outside == [], f"createDataFrame outside arrow_frame: {outside}"
    assert len(hits) == 1


_ARROW_FRAME_DDL = "id long, v array<double>, x double, ok boolean, s string"
_ARROW_FRAME_ROWS = [
    (1, [0.5, -0.0, 1e300], 1.25, True, "a"),
    (2, [], None, None, None),
    (3, None, float("nan"), False, "é'\\"),
    (None, [None, 2.0], -3.5, True, ""),
]


@pytest.mark.parametrize("rows", [_ARROW_FRAME_ROWS, []], ids=["rows", "empty"])
@pytest.mark.parametrize("as_ddl", [True, False], ids=["ddl", "struct"])
def test_arrow_frame_matches_list_path(spark, rows, as_ddl):
    """arrow_frame holds the same values, types and nullability as the
    ``createDataFrame(<list>, schema)`` path it replaces, for a DDL
    string and a StructType schema alike, empty ``rows`` included."""
    import math

    from pyspark.sql.types import StructField, StructType

    from aws_data_pipeline_spark.operators import arrow_frame

    struct = StructType.fromDDL(_ARROW_FRAME_DDL)
    if not as_ddl:
        # a non-nullable field must stay non-nullable
        struct = StructType(
            [StructField("id", struct["id"].dataType, False), *struct.fields[1:]]
        )
        rows = [r for r in rows if r[0] is not None]
    schema = _ARROW_FRAME_DDL if as_ddl else struct
    got = arrow_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema == struct

    def key(r):
        # NaN != NaN: compare its repr instead
        return tuple(
            repr(x) if isinstance(x, float) and math.isnan(x) else x
            for x in r
        )

    def rows_of(df):
        return sorted((key(r) for r in df.collect()), key=repr)

    assert rows_of(got) == rows_of(ref) == sorted(map(key, rows), key=repr)


def test_index_and_metadata_writes_start_no_python_rdd(
    spark, tmp_path, monkeypatch
):
    """Index builds, drift baselines, snapshot and publication commits
    and a BPE merge table plan no Python RDD: with
    ``SparkContext.parallelize`` made to raise, all of them still run."""
    from pyspark import SparkContext

    from aws_data_pipeline_spark.operators import arrow_frame, bpe, dedup
    from aws_data_pipeline_spark.operators import quality as Q
    from aws_data_pipeline_spark.operators import similarity as S
    from aws_data_pipeline_spark.sources import publish as P
    from aws_data_pipeline_spark.sources import snapshots as SN

    def no_python_rdd(*_a, **_k):
        raise AssertionError("SparkContext.parallelize called")

    monkeypatch.setattr(SparkContext, "parallelize", no_python_rdd)
    d = str(tmp_path)
    vecs = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (j + 1) + j) for j in range(8)]).alias(
            "embedding"
        ),
        (F.col("id") % 3).cast("string").alias("c"),
    )
    S.build_embedding_lsh_index(vecs, f"{d}/lsh", bands=4, rows_per_band=2, dim=8)
    S.build_pq_index(vecs, f"{d}/pq", m=2, ks=4)
    S.build_sq8_index(vecs, f"{d}/sq8")
    S.build_ivf_index(vecs, f"{d}/ivf", n_cells=2)
    S.build_ivfpq_cell_codes(spark, f"{d}/ivf", f"{d}/pq", f"{d}/cc")

    docs = arrow_frame(
        spark,
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog")
         for i in range(6)],
        "doc_id long, text string",
    )
    dedup.build_lsh_text_index(docs, f"{d}/tlsh")
    dedup.build_kgram_index(docs, f"{d}/kgram", k=3)
    Q.build_drift_baseline(
        vecs.select(F.col("vec_id").cast("double").alias("v"), "c"),
        f"{d}/base", value_col="v", cat_col="c", bins=4,
    )

    zone = f"{d}/zone"
    docs.write.parquet(zone)
    snap = SN.snapshot_zone(spark, zone)
    pinned = SN.read_zone_snapshot(spark, zone, snap)
    assert pinned.count() == 6
    assert P.publish_tables(spark, d, {"docs": zone}) == 1

    merges = bpe.learn_bpe(docs, n_merges=3).merges_df()
    assert merges.count() == 3
    for idx, sub in (("lsh", "meta"), ("pq", "codebooks"), ("sq8", "stats"),
                     ("ivf", "centroids"), ("cc", "meta"), ("tlsh", "meta"),
                     ("kgram", "meta")):
        assert spark.read.parquet(_sub(spark, f"{d}/{idx}", sub)).count() > 0
    assert spark.read.parquet(f"{d}/base/meta").count() > 0


def test_events_nanos_read_is_pinned_and_round_trips(spark, tmp_path):
    """An ``events`` table whose ``ts`` is parquet TIMESTAMP(NANOS) loads
    as µs timestamps, truncated as DuckDB does; the second load reuses the
    schema inferred by the first (no footer-inference job) and reads the
    same rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_data_pipeline_spark.sources.parquet import _APP_MEMO

    sf = str(tmp_path)
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, None]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["view", "click", None]),
            "value": pa.array([1.5, None, 2.0]),
            "props": pa.array(["{}", None, '{"a":1}']),
        }),
        f"{sf}/events.parquet",
        version="2.6",
        coerce_timestamps=None,
    )
    assert pq.read_schema(f"{sf}/events.parquet").field("ts").type.unit == "ns"

    first = load(spark, sf, "events")
    key = (spark.sparkContext.applicationId, ("schema", f"{sf}/events.parquet"), None)
    assert key in _APP_MEMO
    again = load(spark, sf, "events")
    assert again.schema == first.schema
    assert first.schema["ts"].dataType.typeName() == "timestamp"
    assert sorted(first.collect()) == sorted(again.collect())
    micros = first.orderBy("event_id").select(F.unix_micros("ts").alias("us"))
    assert [r.us for r in micros.collect()] == [
        None if n is None else n // 1000 for n in ns
    ]
    # the scoped legacy conf is restored after each load
    conf = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    assert conf in (None, "false")
