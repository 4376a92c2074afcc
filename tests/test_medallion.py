"""End-to-end medallion pipeline tests: JSONL fixture (reference generator
schema, FIXTURES.md §A1 edge rows) -> bronze -> silver -> gold on local FS,
values asserted against DuckDB recomputation; idempotency on re-run."""

from __future__ import annotations

import json
import pathlib

import duckdb
import pytest
from pyspark.sql import functions as F

from aws_data_pipeline_spark.pipeline import medallion
from aws_data_pipeline_spark.pipeline.medallion import (
    PipelineConfig,
    bronze_to_silver,
    dedup_against_silver,
    run_pipeline,
    silver_to_gold,
)
from tests.conftest import job_names

CLOCK = "2026-01-01 00:00:00"


def make_fixture(path):
    """Transactions JSONL incl. the SURVEY.md §5.2-2 edge rows."""
    rows = []
    for i in range(200):
        rows.append(
            {
                "transaction_id": f"txn_{i:08d}",
                "customer_id": f"cust_{i % 20:06d}",
                "amount": round(10 + (i * 37.77) % 4990, 2),
                "transaction_date": f"2024-03-{(i % 28) + 1:02d} 10:{i % 60:02d}:00",
                "transaction_type": ["purchase", "refund", "adjustment"][i % 3],
                "merchant_id": f"merchant_{i % 5:03d}",
                "payment_method": "credit_card",
                "currency": "USD",
                "status": "completed",
                "category": "books",
            }
        )
    # edge rows: duplicate id, null keys, non-positive amounts, bad timestamp,
    # exact bucket boundaries (100/1000 -> medium/large), integral amount
    dup = dict(rows[0])
    dup["amount"] = 999.99
    rows.append(dup)
    rows.append({**rows[1], "transaction_id": None})
    rows.append({**rows[2], "transaction_id": "txn_null_amount", "amount": None})
    rows.append({**rows[3], "transaction_id": "txn_zero", "amount": 0})
    rows.append({**rows[4], "transaction_id": "txn_neg", "amount": -5.0})
    rows.append({**rows[5], "transaction_id": "txn_badts", "transaction_date": "not-a-date"})
    rows.append({**rows[6], "transaction_id": "txn_b100", "amount": 100.0})
    rows.append({**rows[7], "transaction_id": "txn_b1000", "amount": 1000.0})
    rows.append({**rows[8], "transaction_id": "txn_int", "amount": 250.0})
    (path / "batch_1.json").write_text(
        "\n".join(json.dumps(r) for r in rows[:100])
    )
    (path / "batch_2.json").write_text(
        "\n".join(json.dumps(r) for r in rows[100:])
    )
    return rows


@pytest.fixture()
def cfg(tmp_path):
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    make_fixture(bronze)
    return PipelineConfig(
        bronze_path=str(bronze),
        silver_path=str(tmp_path / "silver"),
        gold_path=str(tmp_path / "gold"),
        backoff_seconds=0.01,
    )


def test_pipeline_end_to_end(spark, cfg):
    notifications = []
    cfg.notifier = lambda status, msg: notifications.append(status)
    res = run_pipeline(spark, cfg, clock=F.lit(CLOCK).cast("timestamp"))

    # 200 valid rows + boundary/integral edge rows - dropped bad rows;
    # duplicate txn id deduped deterministically
    assert res["bronze_to_silver"]["rows_written"] == 203
    assert res["silver_to_gold"]["gold_tables"] == 3
    assert notifications == ["success"]

    silver = spark.read.parquet(cfg.silver_path)
    assert silver.count() == 203
    # partition layout exists (hive-style year/month/day)
    assert (
        silver.filter(
            (F.col("year") == 2024) & (F.col("month") == 3) & (F.col("day") == 1)
        ).count()
        > 0
    )
    # boundary semantics: strict < boundaries -> 100 is medium, 1000 is large
    cats = {
        r.transaction_id: r.amount_category
        for r in silver.filter(
            F.col("transaction_id").isin("txn_b100", "txn_b1000", "txn_int")
        ).collect()
    }
    assert cats["txn_b100"] == "medium"
    assert cats["txn_b1000"] == "large"
    types = {
        r.transaction_id: r.transaction_type_derived
        for r in silver.filter(F.col("transaction_id").isin("txn_int", "txn_b100")).collect()
    }
    assert types["txn_int"] == "whole_number"

    # dropped rows: null id, null amount, zero, negative, bad timestamp
    ids = {r.transaction_id for r in silver.select("transaction_id").collect()}
    assert {"txn_null_amount", "txn_zero", "txn_neg", "txn_badts"}.isdisjoint(ids)

    # gold vs duckdb recomputation over the actual silver parquet
    con = duckdb.connect()
    expected = con.execute(
        f"""
        SELECT customer_id, COUNT(*) AS n,
               CAST(SUM(CAST(amount AS DECIMAL(30,2))) AS DOUBLE) AS lv
        FROM read_parquet('{cfg.silver_path}/**/*.parquet', hive_partitioning=1)
        GROUP BY customer_id
        """
    ).df()
    insights = (
        spark.read.parquet(f"{cfg.gold_path}/customer_insights")
        .select("customer_id", "lifetime_transactions", "lifetime_value")
        .toPandas()
    )
    merged = expected.merge(insights, on="customer_id")
    assert len(merged) == len(expected) == 20
    assert (merged["n"] == merged["lifetime_transactions"]).all()
    assert (merged["lv"] == merged["lifetime_value"]).all()


def test_pipeline_idempotent_rerun(spark, cfg):
    clock = F.lit(CLOCK).cast("timestamp")
    run_pipeline(spark, cfg, clock=clock)
    first = spark.read.parquet(cfg.silver_path).count()
    res2 = run_pipeline(spark, cfg, clock=clock)  # same input re-delivered
    assert res2["bronze_to_silver"]["rows_written"] == 0
    assert spark.read.parquet(cfg.silver_path).count() == first


def test_retry_and_failure_notification(spark, tmp_path):
    cfg = PipelineConfig(
        bronze_path=str(tmp_path / "missing"),
        silver_path=str(tmp_path / "silver"),
        gold_path=str(tmp_path / "gold"),
        backoff_seconds=0.01,
    )
    notes = []
    cfg.notifier = lambda status, msg: notes.append(status)
    with pytest.raises(Exception):
        run_pipeline(spark, cfg)
    assert notes == ["failure"]


def test_cross_run_dedup_is_partition_pruned(spark, tmp_path):
    """VERDICT r3 item 1: the idempotency anti-join must read only the
    partitions the incoming batch touches (PartitionFilters in the plan),
    never the full silver history."""
    from aws_data_pipeline_spark.pipeline.medallion import dedup_against_silver
    from aws_data_pipeline_spark.sources.parquet import read_partition_slice

    silver_path = str(tmp_path / "silver")
    seed = spark.createDataFrame(
        [("txn_a", 2024, 3, 1), ("txn_b", 2024, 3, 2)],
        "transaction_id string, year int, month int, day int",
    )
    seed.write.partitionBy("year", "month", "day").parquet(silver_path)

    batch = spark.createDataFrame(
        [("txn_a", 2024, 3, 1), ("txn_new", 2024, 3, 1)],
        "transaction_id string, year int, month int, day int",
    )
    out = dedup_against_silver(batch, silver_path)
    assert {r.transaction_id for r in out.collect()} == {"txn_new"}

    # the existing-silver read resolves the key disjunction to
    # PartitionFilters — directory pruning, not a full scan + filter
    plan = (
        read_partition_slice(spark, silver_path, [(2024, 3, 1)])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:400]
    assert "year" in seg and "month" in seg and "day" in seg

    # a 30-day batch: one struct IN over the key columns, still resolved
    # to PartitionFilters, reading exactly the listed days' rows
    days = [(2024, m, d) for m in (3, 4) for d in range(1, 16)]
    month = spark.createDataFrame(
        [(f"txn_{m}_{d}", 2024, m, d) for m in (3, 4, 5) for d in range(1, 29)],
        "transaction_id string, year int, month int, day int",
    )
    month.write.mode("append").partitionBy("year", "month", "day").parquet(
        silver_path
    )
    wide = read_partition_slice(spark, silver_path, days)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters", 1)[1][:400]
    assert "struct(year" in seg and ("IN" in seg or "INSET" in seg)
    got = {(r.year, r.month, r.day) for r in wide.collect()}
    assert got == set(days)
    assert wide.count() == 30 + 2  # one row per day, plus txn_a and txn_b


def test_schema_evolution_widen(spark, tmp_path):
    """VERDICT r12 item 4: batch N+1 carries a producer-added column.
    Under the default pin policy it is (documented) dropped; under
    schema_policy='widen' it lands in silver, older rows surface it as
    null through the mergeSchema read contract, and the incremental gold
    build survives the widened zone."""
    from aws_data_pipeline_spark.pipeline.medallion import (
        bronze_to_silver,
        silver_to_gold,
    )
    from aws_data_pipeline_spark.sources.parquet import read_zone

    base = {
        "customer_id": "cust_000001",
        "amount": 50.0,
        "transaction_date": "2024-03-01 10:00:00",
        "transaction_type": "purchase",
        "merchant_id": "m1",
        "payment_method": "credit_card",
        "currency": "USD",
        "status": "completed",
        "category": "books",
    }
    b1 = tmp_path / "b1"
    b1.mkdir()
    b1.joinpath("batch_1.json").write_text(
        "\n".join(
            json.dumps({**base, "transaction_id": f"txn_{i:08d}"})
            for i in range(5)
        )
    )
    cfg1 = PipelineConfig(
        bronze_path=str(b1),
        silver_path=str(tmp_path / "silver"),
        gold_path=str(tmp_path / "gold"),
        backoff_seconds=0.01,
    )
    clock = F.lit(CLOCK).cast("timestamp")
    bronze_to_silver(spark, cfg1, clock=clock)

    # batch 2: the producer added loyalty_tier
    b2 = tmp_path / "b2"
    b2.mkdir()
    b2.joinpath("batch_2.json").write_text(
        "\n".join(
            json.dumps(
                {
                    **base,
                    "transaction_id": f"txn_1{i:07d}",
                    "loyalty_tier": "gold",
                }
            )
            for i in range(3)
        )
    )
    cfg2 = PipelineConfig(
        bronze_path=str(b2),
        silver_path=cfg1.silver_path,
        gold_path=cfg1.gold_path,
        backoff_seconds=0.01,
    )
    bronze_to_silver(spark, cfg2, clock=clock, schema_policy="widen")

    # the widened zone's read contract: mergeSchema surfaces the new
    # column, null for the pre-evolution rows
    silver = read_zone(spark, cfg1.silver_path, merge_schema=True)
    assert "loyalty_tier" in silver.columns
    tiers = {
        (r.transaction_id, r.loyalty_tier)
        for r in silver.select("transaction_id", "loyalty_tier").collect()
    }
    assert sum(1 for _, t in tiers if t == "gold") == 3
    assert sum(1 for _, t in tiers if t is None) == 5

    # the incremental gold build survives the widened silver
    metrics = silver_to_gold(spark, cfg2)
    assert metrics["gold_tables"] == 3
    daily = read_zone(spark, f"{cfg2.gold_path}/daily_aggregations")
    assert daily.agg(F.sum("transaction_count")).collect()[0][0] == 8

    # and the unknown-key edge verbs see exactly the evolution
    from aws_data_pipeline_spark.catalog import TXN_SCHEMA
    from aws_data_pipeline_spark.sources.jsonl import (
        evolved_schema,
        unknown_key_split,
    )

    good, unknown = unknown_key_split(spark, str(b2), TXN_SCHEMA)
    assert good.count() == 0 and unknown.count() == 3  # all rows evolved
    ev = evolved_schema(spark, str(b2), TXN_SCHEMA)
    assert ev.fieldNames()[-1] == "loyalty_tier"
    assert ev.fieldNames()[: len(TXN_SCHEMA)] == list(TXN_SCHEMA.fieldNames())
    g2, u2 = unknown_key_split(spark, str(b1), TXN_SCHEMA)
    assert g2.count() == 5 and u2.count() == 0


def test_schema_evolution_widen_type_conflict_fails_at_ingest(
    spark, tmp_path
):
    """A producer that re-types an evolved column between batches must be
    stopped AT THE INGEST (clear error naming the column and both types),
    not discovered later when a mergeSchema read fails to reconcile
    footers."""
    import pytest

    from aws_data_pipeline_spark.pipeline.medallion import bronze_to_silver

    base = {
        "customer_id": "cust_000001",
        "amount": 50.0,
        "transaction_date": "2024-03-01 10:00:00",
        "transaction_type": "purchase",
        "merchant_id": "m1",
        "payment_method": "credit_card",
        "currency": "USD",
        "status": "completed",
        "category": "books",
    }

    def batch(d, rows):
        d.mkdir()
        d.joinpath("b.json").write_text("\n".join(json.dumps(r) for r in rows))
        return PipelineConfig(
            bronze_path=str(d),
            silver_path=str(tmp_path / "silver"),
            gold_path=str(tmp_path / "gold"),
            backoff_seconds=0.01,
        )

    clock = F.lit(CLOCK).cast("timestamp")
    c1 = batch(
        tmp_path / "b1",
        [{**base, "transaction_id": "txn_1", "loyalty_tier": "gold"}],
    )
    bronze_to_silver(spark, c1, clock=clock, schema_policy="widen")

    c2 = batch(
        tmp_path / "b2",
        [{**base, "transaction_id": "txn_2", "loyalty_tier": 3}],
    )
    with pytest.raises(ValueError, match="loyalty_tier"):
        bronze_to_silver(spark, c2, clock=clock, schema_policy="widen")


def _silver_files(silver_path):
    """{(year, month, day): {parquet file names}} under a hive-partitioned
    silver zone."""
    out: dict[tuple[int, int, int], set[str]] = {}
    for f in pathlib.Path(silver_path).rglob("*.parquet"):
        parts = dict(p.split("=", 1) for p in f.parent.parts if "=" in p)
        key = (int(parts["year"]), int(parts["month"]), int(parts["day"]))
        out.setdefault(key, set()).add(f.name)
    return out


def _new_files_per_day(before, after):
    added = {k: v - before.get(k, set()) for k, v in after.items()}
    return {k: len(v) for k, v in added.items() if v}


def _append_batch_rows(fixture_rows):
    """A follow-up delivery: every 10th fixture row re-delivered, plus 24
    new rows on each of two days (2024-03-05 and 2024-03-06) — enough
    rows per day that an 8-way hash split of the batch would scatter them
    over several append tasks."""
    redelivered = fixture_rows[:200:10]
    new = [
        {
            **fixture_rows[0],
            "transaction_id": f"txn_new_{d}_{i:03d}",
            "customer_id": f"cust_{i % 20:06d}",
            "amount": 20.0 + i,
            "transaction_date": f"2024-03-{d:02d} 12:{i:02d}:00",
        }
        for d in (5, 6)
        for i in range(24)
    ]
    return redelivered, new


def test_batch_append_writes_one_file_per_touched_partition(spark, cfg):
    """A small follow-up batch appends at most one parquet file to each
    (year, month, day) it touches: the persisted batch is sized by AQE,
    not fanned out over spark.sql.shuffle.partitions append tasks. Every
    silver file carries the S4 codec, snappy (session.DEFAULT_CONF)."""
    bronze = pathlib.Path(cfg.bronze_path)
    rows = make_fixture(bronze)  # rewrites the fixture's files unchanged
    clock = F.lit(CLOCK).cast("timestamp")
    run_pipeline(spark, cfg, clock=clock)
    before = _silver_files(cfg.silver_path)

    redelivered, new = _append_batch_rows(rows)
    (bronze / "batch_3.json").write_text(
        "\n".join(json.dumps(r) for r in redelivered + new)
    )
    res = run_pipeline(spark, cfg, clock=clock)
    assert res["bronze_to_silver"]["rows_written"] == len(new)

    after = _silver_files(cfg.silver_path)
    added = _new_files_per_day(before, after)
    assert set(added) == {(2024, 3, 5), (2024, 3, 6)}
    assert all(n == 1 for n in added.values()), added
    names = [n for day in after.values() for n in day]
    assert names and all(n.endswith(".snappy.parquet") for n in names), names


@pytest.mark.parametrize("zone_dir", ["silver", "silver zone"])
def test_streaming_sink_writes_one_file_per_touched_partition(
    spark, tmp_path, zone_dir
):
    """The foreachBatch body (``ingest_sink``) appends with the same layout
    as the batch path: one file per touched day over an existing zone.
    The spaced zone name covers the guard's ``zone_exists`` filesystem
    handle, which must parse paths the way Spark's own writer does (a
    raw ``URI.create`` rejects the space and fails the batch)."""
    from aws_data_pipeline_spark.catalog import TXN_SCHEMA
    from aws_data_pipeline_spark.streaming.ingest import ingest_sink

    bronze = tmp_path / "bronze"
    bronze.mkdir()
    rows = make_fixture(bronze)
    silver_path = str(tmp_path / zone_dir)
    clock = F.lit(CLOCK).cast("timestamp")
    first = spark.read.schema(TXN_SCHEMA).json(str(bronze))
    ingest_sink(first, 0, silver_path, clock)
    before = _silver_files(silver_path)

    redelivered, new = _append_batch_rows(rows)
    batch = spark.createDataFrame(
        [tuple(r[f.name] for f in TXN_SCHEMA.fields) for r in redelivered + new],
        TXN_SCHEMA,
    )
    ingest_sink(batch, 1, silver_path, clock)

    added = _new_files_per_day(before, _silver_files(silver_path))
    assert set(added) == {(2024, 3, 5), (2024, 3, 6)}
    assert all(n == 1 for n in added.values()), added
    assert spark.read.parquet(silver_path).count() == 203 + len(new)


def test_streaming_sink_replay_appends_nothing(spark, tmp_path):
    """A crash after the parquet append but before the checkpoint commit
    makes Spark re-drive the same batch under the same ``batch_id``. The
    sink's partition-pruned anti-join finds the batch's rows already in
    silver, so the replay appends nothing and writes no file."""
    from aws_data_pipeline_spark.catalog import TXN_SCHEMA
    from aws_data_pipeline_spark.streaming.ingest import ingest_sink

    bronze = tmp_path / "bronze"
    bronze.mkdir()
    make_fixture(bronze)
    silver_path = str(tmp_path / "silver")
    clock = F.lit(CLOCK).cast("timestamp")
    batch = spark.read.schema(TXN_SCHEMA).json(str(bronze))
    ingest_sink(batch, 7, silver_path, clock)  # the attempt that crashed
    landed = spark.read.parquet(silver_path).count()
    before = _silver_files(silver_path)
    ingest_sink(batch, 7, silver_path, clock)  # the replay
    assert spark.read.parquet(silver_path).count() == landed == 203
    assert _silver_files(silver_path) == before


# ---------------------------------------------------------------------------
# One silver contract: pinned read schema, no footer-inference job
# ---------------------------------------------------------------------------


def test_silver_schema_matches_the_written_zone(spark, cfg):
    """The derived read schema is exactly what an inferred read of a
    written silver zone reports (columns, order, types, nullability)."""
    run_pipeline(spark, cfg, clock=F.lit(CLOCK).cast("timestamp"))
    pinned = medallion.read_zone(
        spark, cfg.silver_path, schema=medallion.silver_schema(spark)
    )
    assert pinned.schema == spark.read.parquet(cfg.silver_path).schema
    assert pinned.count() == 203


def test_first_run_with_only_invalid_rows_writes_no_gold(spark, tmp_path):
    """A first run whose bronze holds only invalid rows leaves a silver
    directory with nothing but ``_SUCCESS``; the pinned silver read sees
    0 rows, so gold is skipped and the pipeline succeeds (an inferred read
    fails both attempts with UNABLE_TO_INFER_SCHEMA)."""
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    (bronze / "bad.json").write_text(
        json.dumps(
            {
                "transaction_id": "txn_neg",
                "customer_id": "cust_000001",
                "amount": -1.0,
                "transaction_date": "2024-03-01 10:00:00",
            }
        )
    )
    notes = []
    cfg = PipelineConfig(
        bronze_path=str(bronze),
        silver_path=str(tmp_path / "silver"),
        gold_path=str(tmp_path / "gold"),
        backoff_seconds=0.01,
        notifier=lambda status, msg: notes.append(status),
    )
    res = run_pipeline(spark, cfg, clock=F.lit(CLOCK).cast("timestamp"))
    assert res["bronze_to_silver"]["rows_written"] == 0
    assert res["silver_to_gold"] == {"gold_tables": 0}
    assert notes == ["success"]
    assert not (tmp_path / "gold").exists()


@pytest.mark.parametrize("caller", ["bronze_to_silver", "ingest_sink"])
def test_append_starts_no_footer_inference_job(spark, cfg, caller):
    """One append over an existing zone, by ``bronze_to_silver`` or by one
    streaming ``ingest_sink`` batch (both go through ``append_silver``),
    runs at most 6 Spark jobs, none of them a footer-inference ``parquet``
    job (7 with one while the anti-join's silver slice inferred its
    schema)."""
    from aws_data_pipeline_spark.catalog import TXN_SCHEMA
    from aws_data_pipeline_spark.streaming.ingest import ingest_sink

    clock = F.lit(CLOCK).cast("timestamp")
    bronze_to_silver(spark, cfg, clock=clock)
    batch = spark.read.schema(TXN_SCHEMA).json(cfg.bronze_path)
    append = {
        "bronze_to_silver": lambda: bronze_to_silver(spark, cfg, clock=clock),
        "ingest_sink": lambda: ingest_sink(batch, 0, cfg.silver_path, clock),
    }[caller]
    jobs = job_names(spark, f"{caller}-receipt", append)
    assert 0 < len(jobs) <= 6, jobs
    assert not any(n.startswith("parquet at") for n in jobs), jobs
    assert spark.read.parquet(cfg.silver_path).count() == 203


# ---------------------------------------------------------------------------
# Gold from one customer-clustered cache
# ---------------------------------------------------------------------------

_MONEY = "CAST(SUM(CAST(amount AS DECIMAL(30,2))) AS DOUBLE)"

_AGG = f"""count(*) AS transaction_count, {_MONEY} AS total_amount,
           {_MONEY} / count(amount) AS avg_amount,
           min(amount) AS min_amount, max(amount) AS max_amount,
           count(DISTINCT transaction_id) AS unique_transactions"""

_GOLD_SQL = {
    "daily_aggregations": f"""
        SELECT year, month, day, customer_id, {_AGG},
               'daily' AS aggregation_level
        FROM silver GROUP BY year, month, day, customer_id""",
    "monthly_aggregations": f"""
        SELECT year, month, customer_id, {_AGG},
               'monthly' AS aggregation_level
        FROM silver GROUP BY year, month, customer_id""",
    "customer_insights": f"""
        SELECT customer_id, count(*) AS lifetime_transactions,
               {_MONEY} AS lifetime_value,
               {_MONEY} / count(amount) AS avg_transaction_amount,
               min(transaction_date) AS first_transaction_date,
               max(transaction_date) AS last_transaction_date,
               count(DISTINCT CAST(transaction_date AS DATE)) AS active_days,
               date_diff('day', CAST(min(transaction_date) AS DATE),
                         CAST(max(transaction_date) AS DATE))
                 AS customer_tenure_days,
               CASE WHEN {_MONEY} > 10000 THEN 'high_value'
                    WHEN {_MONEY} > 5000 THEN 'medium_value'
                    ELSE 'low_value' END AS customer_segment
        FROM silver GROUP BY customer_id""",
}


def _ingest_with_amendment(spark, cfg, tmp_path):
    """The fixture's pipeline run, then a second delivery that re-dates
    ``txn_00000000`` (cust_000000, 2024-03-01) to 2024-03-15. The amended
    row lands in a partition the anti-join does not hold that id in, so
    silver keeps both rows: the customer's March then has one id on two
    days, and monthly ``unique_transactions`` differs from
    ``transaction_count``."""
    clock = F.lit(CLOCK).cast("timestamp")
    rows = make_fixture(pathlib.Path(cfg.bronze_path))
    run_pipeline(spark, cfg, clock=clock)
    amended = tmp_path / "amended"
    amended.mkdir()
    amended.joinpath("batch_1.json").write_text(
        json.dumps(
            {**rows[0], "amount": 123.45, "transaction_date": "2024-03-15 11:00:00"}
        )
    )
    res = bronze_to_silver(
        spark,
        PipelineConfig(
            bronze_path=str(amended),
            silver_path=cfg.silver_path,
            gold_path=cfg.gold_path,
        ),
        clock=clock,
    )
    assert res["rows_written"] == 1


def _gold_frames(cfg):
    """{table: (gold rows, DuckDB recomputation over silver)} as pandas."""
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW silver AS SELECT * FROM read_parquet("
            f"'{cfg.silver_path}/**/*.parquet', hive_partitioning = true)"
        )
        out = {}
        for table, sql in _GOLD_SQL.items():
            got = con.execute(
                "SELECT * FROM read_parquet("
                f"'{cfg.gold_path}/{table}/**/*.parquet', hive_partitioning = true)"
            ).df()
            out[table] = (got, con.execute(sql).df())
        return out
    finally:
        con.close()


def test_gold_matches_duckdb_recompute(spark, cfg, tmp_path, coalesced, monkeypatch):
    """All three gold tables equal a DuckDB recomputation over the written
    silver on every column, whether AQE coalesces the customer-clustered
    cache into one partition or several: the exact sums make the result
    independent of how customers are spread over tasks."""
    from tests.oracle import compare_frames

    _ingest_with_amendment(spark, cfg, tmp_path)
    partitions = []
    cluster = medallion.cluster_for_gold

    def spy(df):
        out = cluster(df)
        partitions.append(out.rdd.getNumPartitions())
        return out

    monkeypatch.setattr(medallion, "cluster_for_gold", spy)
    assert silver_to_gold(spark, cfg) == {"gold_tables": 3}
    if coalesced == "one":
        assert partitions == [1]
    else:
        assert len(partitions) == 1 and partitions[0] >= 2

    frames = _gold_frames(cfg)
    for table, (got, want) in frames.items():
        compare_frames(got, want, table)
    monthly = frames["monthly_aggregations"][0].set_index("customer_id")
    amended = monthly.loc["cust_000000"]
    assert amended.unique_transactions == amended.transaction_count - 1


def test_gold_reads_one_clustered_cache_without_exchanges(spark, cfg, monkeypatch):
    """Receipt for the one-shuffle gold build: no gold frame plans an
    exchange above the cached scan, one ``silver_to_gold`` call runs at
    most 6 Spark jobs (12 when each table's ``countDistinct`` planned its
    own two exchanges, 7 while the silver read inferred its schema from
    footers), and the ingest anti-join aggregates nothing on its silver
    side."""
    run_pipeline(spark, cfg, clock=F.lit(CLOCK).cast("timestamp"))

    plans = {}
    write = medallion.write_zone

    def spy(df, path, **kw):
        plan = df._jdf.queryExecution().executedPlan().toString()
        plans[path.rsplit("/", 1)[1]] = plan.split("InMemoryTableScan", 1)[0]
        write(df, path, **kw)

    monkeypatch.setattr(medallion, "write_zone", spy)
    silver_to_gold(spark, cfg)
    assert set(plans) == set(_GOLD_SQL)
    for table, above_cache in plans.items():
        assert "Exchange" not in above_cache, (table, above_cache)
    monkeypatch.undo()

    jobs = job_names(spark, "gold-receipt", lambda: silver_to_gold(spark, cfg))
    assert 0 < len(jobs) <= 6, jobs
    assert not any(n.startswith("parquet at") for n in jobs), jobs

    batch = spark.createDataFrame(
        [("txn_00000000", 2024, 3, 1), ("txn_new", 2024, 3, 1)],
        "transaction_id string, year int, month int, day int",
    )
    out = dedup_against_silver(batch, cfg.silver_path)
    assert [r.transaction_id for r in out.collect()] == ["txn_new"]
    assert "HashAggregate" not in out._jdf.queryExecution().executedPlan().toString()


def test_empty_silver_zone_leaves_gold_untouched(spark, cfg, tmp_path):
    """A silver zone that exists but holds no rows returns
    ``{"gold_tables": 0}`` and skips every gold overwrite."""
    run_pipeline(spark, cfg, clock=F.lit(CLOCK).cast("timestamp"))
    gold = pathlib.Path(cfg.gold_path)

    def snapshot():
        return {
            str(p.relative_to(gold)): (p.stat().st_mtime_ns, p.read_bytes())
            for p in gold.rglob("*")
            if p.is_file()
        }

    before = snapshot()
    assert any(k.endswith(".parquet") for k in before)
    empty = str(tmp_path / "empty_silver")
    spark.read.parquet(cfg.silver_path).limit(0).write.parquet(empty)
    assert spark.read.parquet(empty).isEmpty()

    res = silver_to_gold(
        spark,
        PipelineConfig(
            bronze_path=cfg.bronze_path, silver_path=empty, gold_path=cfg.gold_path
        ),
    )
    assert res == {"gold_tables": 0}
    assert snapshot() == before
