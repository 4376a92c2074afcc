"""Property-based invariants (SURVEY.md §5.2-5) over the aggregation
operators, plus the approx-distinct error bound claimed by
plans/analytics.py::approx_distinct_customers.

Hypothesis generates small transaction frames; each property must hold for
ANY input, not just the golden fixtures."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aws_data_pipeline_spark.catalog import load
from aws_data_pipeline_spark.operators import aggregate as agg_ops

AMOUNTS = st.floats(min_value=0.01, max_value=5000.0, allow_nan=False).map(
    lambda x: round(x, 2)
)

TXNS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # customer
        st.integers(min_value=1, max_value=3),  # month
        st.integers(min_value=1, max_value=28),  # day
        AMOUNTS,
    ),
    min_size=1,
    max_size=60,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _frame(spark, txns):
    rows = [
        (f"txn_{i:06d}", f"cust_{c:06d}", 2024, m, d, float(a))
        for i, (c, m, d, a) in enumerate(txns)
    ]
    return spark.createDataFrame(
        rows, "transaction_id string, customer_id string, year int, month int, day int, amount double"
    )


@given(txns=TXNS)
@_SETTINGS
def test_aggregate_invariants(spark, txns):
    df = _frame(spark, txns)
    agg = agg_ops.aggregate_transactions(
        df, ["customer_id", "month"], "amount", "transaction_id"
    ).collect()
    total = round(sum(r["total_amount"] for r in agg), 2)
    assert total == round(sum(t[3] for t in txns), 2)
    for r in agg:
        assert r["min_amount"] <= r["avg_amount"] + 1e-9
        assert r["avg_amount"] <= r["max_amount"] + 1e-9
        assert r["unique_transactions"] <= r["transaction_count"]
        assert math.isclose(
            r["avg_amount"] * r["transaction_count"], r["total_amount"], rel_tol=1e-9
        )


@given(txns=TXNS)
@_SETTINGS
def test_rollup_grains_consistent(spark, txns):
    """Each coarser GROUPING SETS grain must re-aggregate the finer one."""
    df = _frame(spark, txns)
    out = agg_ops.multi_grain_rollup(df, "customer_id", "amount", "transaction_id")
    rows = out.collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r["aggregation_level"], []).append(r)
    for level in ("daily", "monthly", "yearly", "lifetime"):
        total = round(sum(r["total_amount"] for r in by_level.get(level, [])), 2)
        count = sum(r["transaction_count"] for r in by_level.get(level, []))
        assert total == round(sum(t[3] for t in txns), 2), level
        assert count == len(txns), level


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL approx_count_distinct default rsd is 5%; assert within 3 sigma."""
    o = load(spark, sf_dir, "orders")
    exact = {
        (r["year"]): r["n"]
        for r in o.groupBy(F.year("o_orderdate").alias("year"))
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    approx = {
        (r["year"]): r["approx_customers"]
        for r in o.groupBy(F.year("o_orderdate").alias("year"))
        .agg(F.approx_count_distinct("o_custkey").alias("approx_customers"))
        .collect()
    }
    assert set(exact) == set(approx)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(3, 0.15 * n), (k, n, approx[k])


def test_approx_percentile_error_bound(spark, sf_dir):
    """With accuracy=10000 the sketch picks an actual sample value near the
    requested rank; require it within 2% relative of the exact percentile."""
    from aws_data_pipeline_spark.plans import DEMOTED, load_registry

    reg = dict(load_registry())
    reg.update(DEMOTED)  # the exact twin is demoted (round 7: bm25 swap)
    exact = {
        r["o_orderpriority"]: (r["p50"], r["p90"], r["p99"])
        for r in reg["price_percentiles_by_priority"].spark_fn(spark, sf_dir).collect()
    }
    approx = {
        r["o_orderpriority"]: (r["p50"], r["p90"], r["p99"])
        for r in reg["price_percentiles_approx"].spark_fn(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for prio in exact:
        for e, a in zip(exact[prio], approx[prio]):
            assert abs(a - e) / e < 0.02, (prio, e, a)


def test_heavy_hitters_matches_exact_vocabulary(spark, sf_dir):
    """With the sketch's 10,000 tracked items far above the distinct-token
    count the sketch is exact: top-20 items and counts must equal the exact
    vocabulary."""
    from aws_data_pipeline_spark.operators import sampling
    from aws_data_pipeline_spark.plans.common import T

    d = T(spark, sf_dir, "documents")
    exact = {
        r.token: r.token_count
        for r in sampling.vocabulary(d, top_k=20).collect()
    }
    approx = {
        r.token: r.token_count
        for r in sampling.heavy_hitters(d, k=20).collect()
    }
    # count values must agree wherever both report a token; the boundary of
    # the top-20 cut may differ only between equal-count ties
    for tok in exact.keys() & approx.keys():
        assert exact[tok] == approx[tok], tok
    assert len(approx) == 20
    boundary = min(exact.values())
    for tok in exact.keys() ^ approx.keys():
        count = exact.get(tok) or approx[tok]
        assert count == boundary, (tok, count)


def test_sessionize_deterministic_with_timestamp_ties(spark):
    """Two same-timestamp events per user: with a unique tie-breaker the
    window order is total, so session boundaries are identical across
    arbitrary input partitionings (without one, lag() pairs tied rows
    nondeterministically)."""
    from aws_data_pipeline_spark.operators import windows as W

    rows = [
        # user 1: tie at t=1000 opening the session, gap, tie at t=5000
        (1, 1000, 101),
        (1, 1000, 102),
        (1, 5000, 103),
        (1, 5000, 104),
        # user 2: tie exactly at the gap boundary
        (2, 1000, 201),
        (2, 2800, 202),
        (2, 2800, 203),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, epoch long, event_id long"
    ).withColumn("ts", F.col("epoch").cast("timestamp"))

    def run(frame):
        out = W.sessionize(
            frame, key="user_id", ts_col="ts", gap_seconds=1800, tiebreak="event_id"
        )
        return {(r.user_id, r.event_id): r.session_id for r in out.collect()}

    base = run(df)
    assert base[(1, 101)] == base[(1, 102)] == 1
    assert base[(1, 103)] == base[(1, 104)] == 2
    # 1800s gap is inclusive (> gap starts new): 2800-1000=1800 -> same session
    assert base[(2, 201)] == base[(2, 202)] == base[(2, 203)] == 1
    for n in (1, 7):
        assert run(df.repartition(n, "event_id")) == base


@given(
    txns=TXNS,
    split_at=st.integers(min_value=0, max_value=60),
)
@_SETTINGS
def test_insights_merge_equals_one_shot(spark, tmp_path_factory, txns, split_at):
    """Mergeable-state property: splitting the input at ANY point into two
    incremental merge batches yields exactly the one-shot recompute for the
    exact columns (counts, decimal sums, min/max timestamps)."""
    from aws_data_pipeline_spark.streaming.gold import merge_insights_batch

    from datetime import datetime

    rows = [
        (
            f"txn_{i:06d}",
            f"cust_{c:06d}",
            float(a),
            datetime(2024, m, d, 9, 0, 0),
        )
        for i, (c, m, d, a) in enumerate(txns)
    ]
    schema = "transaction_id string, customer_id string, amount double, transaction_date timestamp"
    split_at = min(split_at, len(rows))
    table = str(tmp_path_factory.mktemp("ci") / "tbl")
    for bid, chunk in enumerate((rows[:split_at], rows[split_at:])):
        if chunk:
            merge_insights_batch(spark.createDataFrame(chunk, schema), table, bid)
    got = {
        r.customer_id: (r.txn_count, float(r.total_amount), r.first_transaction_date,
                        r.last_transaction_date)
        for r in spark.read.parquet(table).collect()
    }
    expected = {
        r.customer_id: (r.n, float(r.s), r.lo, r.hi)
        for r in spark.createDataFrame(rows, schema)
        .groupBy("customer_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("amount").cast("decimal(38,2)")).alias("s"),
            F.min("transaction_date").alias("lo"),
            F.max("transaction_date").alias("hi"),
        )
        .collect()
    }
    assert got == expected


def test_zscore_outliers_detects_planted_extremes(spark):
    """zscore_outlier_counts must flag planted extremes and nothing in a
    tight cluster — and agree with a float recomputation away from the
    boundary."""
    from aws_data_pipeline_spark.operators.quality import zscore_outlier_counts

    rows = [("a", 100.0 + (i % 7) * 0.5) for i in range(200)]
    rows += [("a", 10_000.0)]          # blatant outlier
    rows += [("b", 50.0)] * 50         # zero-variance group: no outliers
    df = spark.createDataFrame(rows, "grp string, val double")
    got = {r.grp: (r.n_rows, r.n_outliers)
           for r in zscore_outlier_counts(df, "grp", "val").collect()}
    assert got["a"] == (201, 1)
    assert got["b"] == (50, 0)


EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # user
        st.integers(min_value=0, max_value=3600), # seconds offset
        st.booleans(),                            # is_purchase
    ),
    min_size=0,
    max_size=40,
)


@given(events=EVENTS)
@_SETTINGS
def test_interval_join_matches_bruteforce(spark, events):
    """interval_join (batch mode) must emit exactly the pairs a brute-force
    comprehension produces: same user, purchase strictly after the click,
    and within the closed window end."""
    from datetime import datetime, timedelta

    from aws_data_pipeline_spark.streaming.joins import click_purchase_pairs

    base = datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        (i, base + timedelta(seconds=off), u, "purchase" if p else "click", 0.0, None)
        for i, (u, off, p) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {(r.click_id, r.purchase_id)
           for r in click_purchase_pairs(df, window_seconds=600).collect()}
    expected = {
        (ci, pi)
        for ci, (cu, coff, cp) in enumerate(events) if not cp
        for pi, (pu, poff, pp) in enumerate(events) if pp
        if cu == pu and coff < poff <= coff + 600
    }
    assert got == expected


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x2FFF
            ),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
@_SETTINGS
def test_md5_prefix_long_matches_hashlib(spark, texts):
    """The engine-portable hash core must agree with an INDEPENDENT third
    implementation (Python hashlib) for arbitrary unicode input — the
    property every portable-hash oracle (splits, MinHash signatures, DSIR
    buckets) transitively relies on."""
    import hashlib

    from aws_data_pipeline_spark.functions.portable import md5_prefix_long

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = {
        r.s: r.h
        for r in df.select("s", md5_prefix_long(F.col("s")).alias("h")).collect()
    }
    for t in texts:
        expect = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        assert got[t] == expect, t


MERGE_OPS = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete"]),
        st.integers(min_value=0, max_value=11),   # key
        st.integers(min_value=1, max_value=3),    # day (partition)
        st.floats(min_value=1.0, max_value=99.0, allow_nan=False).map(
            lambda x: round(x, 2)
        ),
    ),
    min_size=1,
    max_size=8,
)


@given(ops=MERGE_OPS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_merge_delete_zone_matches_dict_model(spark, tmp_path_factory, ops):
    """Any sequence of partition-stable upserts and deletes applied through
    merge_into_zone/delete_from_zone must leave the zone equal to the
    trivial dict model (last write wins, delete removes)."""
    from aws_data_pipeline_spark.sources.parquet import (
        delete_from_zone,
        merge_into_zone,
        write_zone,
    )

    tmp = tmp_path_factory.mktemp("mz")
    path = str(tmp / "zone")
    schema = "k long, amount double, year int, month int, day int"
    # keys live in a FIXED partition (partition-stable requirement): day = k % 3 + 1
    base = [(k, 0.0, 2024, 1, k % 3 + 1) for k in range(6)]
    write_zone(
        spark.createDataFrame(base, schema),
        path,
        partition_by=("year", "month", "day"),
        mode="append",
    )
    model = {k: (k, 0.0, 2024, 1, k % 3 + 1) for k in range(6)}

    for op, k, _, amount in ops:
        day = k % 3 + 1  # partition-stable
        row = (k, amount, 2024, 1, day)
        if op == "upsert":
            merge_into_zone(
                spark, path, spark.createDataFrame([row], schema), ["k"]
            )
            model[k] = row
        else:
            delete_from_zone(
                spark,
                path,
                spark.createDataFrame([(k, 2024, 1, day)],
                                      "k long, year int, month int, day int"),
                ["k"],
            )
            model.pop(k, None)

    try:
        rows = spark.read.parquet(path).collect()
    except Exception:
        rows = []  # fully-emptied zone: no parquet files left to infer from
    got = {r.k: (r.k, r.amount, r.year, r.month, r.day) for r in rows}
    assert got == model


def test_rollup_twins_agree_with_planted_nulls(spark):
    """The GROUPING SETS and hierarchical rollups share one oracle, so they
    must stay value-identical even on the inputs the testdata never has:
    NULL amounts (the avg divisor is COUNT(amount), not COUNT(*)) and a
    NULL date (labeled by null-inference, colliding with the lifetime
    grain identically in both formulations)."""
    from aws_data_pipeline_spark.operators.aggregate import (
        multi_grain_rollup,
        multi_grain_rollup_hierarchical,
    )

    rows = [
        (1, 2024, 1, 3, 100.0, "t1"),
        (1, 2024, 1, 3, None, "t2"),   # NULL amount
        (1, 2024, 2, 9, 50.0, "t3"),
        (2, None, None, None, 70.0, "t4"),  # NULL date parts
        (2, 2023, 5, 1, 30.0, "t5"),
    ]
    df = spark.createDataFrame(
        rows,
        "cust long, year int, month int, day int, amount double, txn string",
    )
    def canon(out):
        rows_out = [
            (
                r.customer_id, r.year, r.month, r.day, r.aggregation_level,
                r.transaction_count, r.total_amount, r.avg_amount,
                r.min_amount, r.max_amount, r.unique_transactions,
            )
            for r in out.collect()
        ]
        return sorted(
            rows_out, key=lambda t: tuple((v is None, v) for v in t)
        )
    a = canon(multi_grain_rollup(df, "cust", "amount", "txn"))
    b = canon(multi_grain_rollup_hierarchical(df, "cust", "amount", "txn"))
    assert a == b and a


def test_asof_join_matches_python_model_random(spark):
    """Randomized as-of semantics check against a direct Python model:
    for each left row, the matched right row is the one with the greatest
    (ts, tiebreak) among right rows with the same key and ts <= left.ts;
    NULL-ts/NULL-key right rows never match; every left row survives."""
    import random
    from datetime import datetime, timedelta

    from aws_data_pipeline_spark.operators.joins import asof_join

    rng = random.Random(23)
    base = datetime(2024, 5, 1)

    for trial in range(3):
        rights = [
            (
                rng.choice([1, 2, 3, None]),
                None
                if rng.random() < 0.1
                else base + timedelta(minutes=rng.randint(0, 120)),
                rid,
            )
            for rid in range(40)
        ]
        lefts = [
            (
                rng.choice([1, 2, 3, None]),
                base + timedelta(minutes=rng.randint(0, 120)),
                100 + lid,
            )
            for lid in range(25)
        ]
        rdf = spark.createDataFrame(rights, "k int, ts timestamp, rid int")
        ldf = spark.createDataFrame(lefts, "k int, ts timestamp, lid int")
        got = {
            r.lid: r.matched_rid
            for r in asof_join(
                ldf, rdf, key="k", ts="ts", right_cols=["rid"],
                right_tiebreak="rid",
            ).collect()
        }

        def model(lk, lts):
            cands = [
                (rts, rid)
                for rk, rts, rid in rights
                if rk is not None and rts is not None and rk == lk and rts <= lts
            ]
            return max(cands)[1] if cands else None

        want = {lid: (model(lk, lts) if lk is not None else None)
                for lk, lts, lid in lefts}
        assert got == want, f"trial {trial}"
        assert len(got) == len(lefts)  # left join: every left row survives


def test_sessionize_subsecond_gap_boundaries(spark):
    """The gap computation keeps fractional seconds: events 1.9s apart with
    a 1s gap SPLIT (whole-second truncation used to merge them), events
    0.9s apart stay merged, and the result matches a Python model on
    random microsecond-grained streams."""
    import random
    from datetime import datetime, timedelta

    from aws_data_pipeline_spark.operators.windows import sessionize

    rows = [
        (1, datetime(2024, 5, 1, 0, 0, 0, 50_000), 1),
        (1, datetime(2024, 5, 1, 0, 0, 1, 950_000), 2),  # 1.9s gap: split
        (2, datetime(2024, 5, 1, 0, 0, 0, 100_000), 3),
        (2, datetime(2024, 5, 1, 0, 0, 1, 0), 4),        # 0.9s gap: merged
    ]
    df = spark.createDataFrame(rows, "u int, ts timestamp, eid int")
    got = {
        r.eid: r.session_id
        for r in sessionize(df, "u", "ts", gap_seconds=1, tiebreak="eid").collect()
    }
    assert got[1] == 1 and got[2] == 2  # split
    assert got[3] == 1 and got[4] == 1  # merged

    rng = random.Random(5)
    base = datetime(2024, 5, 1)
    stream = sorted(
        (rng.randint(1, 3), base + timedelta(milliseconds=rng.randint(0, 20_000)), i)
        for i in range(60)
    )
    sdf = spark.createDataFrame(stream, "u int, ts timestamp, eid int")
    got = {
        r.eid: (r.u, r.session_id)
        for r in sessionize(sdf, "u", "ts", gap_seconds=2, tiebreak="eid").collect()
    }
    # Python model: sort per user by (ts, eid), split on gap > 2s exactly
    from collections import defaultdict

    per_user = defaultdict(list)
    for u, ts, eid in stream:
        per_user[u].append((ts, eid))
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        sid, prev = 0, None
        for ts, eid in evs:
            if prev is None or (ts - prev).total_seconds() > 2:
                sid += 1
            want[eid] = (u, sid)
            prev = ts
    assert got == want


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # source
            st.integers(min_value=1, max_value=12),  # token count
        ),
        min_size=1,
        max_size=40,
    ),
    max_tokens=st.integers(min_value=4, max_value=20),
)
@_SETTINGS
def test_pack_sequences_matches_python_model(spark, docs, max_tokens):
    """pack_sequences (training-pack assignment by cumulative start offset)
    against a direct Python fold: per source, docs concatenated in id
    order, a doc belongs to the pack containing its START token — for any
    corpus shape and budget, not just the oracle fixture."""
    from aws_data_pipeline_spark.operators.sampling import pack_sequences

    rows = [
        (i, f"s{src}", " ".join(f"t{i}w{j}" for j in range(n)))
        for i, (src, n) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    model = {}
    cum = {}
    for i, (src, n) in enumerate(docs):  # ids ascend with i
        start = cum.get(src, 0)
        model[i] = (f"s{src}", n, start // max_tokens)
        cum[src] = start + n

    got = {
        r.doc_id: (r.source, r.n_tokens, r.pack_id)
        for r in pack_sequences(df, max_tokens=max_tokens).collect()
    }
    assert got == model


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ),
        min_size=1,
        max_size=30,
    )
)
@_SETTINGS
def test_connected_components_random_graphs_match_union_find(spark, edges):
    """Min-label propagation == union-find on ARBITRARY small graphs —
    chains, cycles, self-loops, parallel edges — not just the star-heavy
    shapes real near-dup pairs produce (those are covered on real data in
    test_llm). Every node in the pair graph must label to its component
    minimum."""
    from aws_data_pipeline_spark.operators.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u), parent.setdefault(v, v)
        parent[find(u)] = find(v)
    want = {}
    for n in parent:
        comp = find(n)
        want.setdefault(comp, []).append(n)
    expect = {n: min(ns) for comp, ns in want.items() for n in ns}

    df = spark.createDataFrame(edges, "doc1 long, doc2 long")
    got = {r.node: r.label for r in connected_components(df).collect()}
    assert got == expect  # default path (small-graph union-find here)
    forced = {
        r.node: r.label
        for r in connected_components(df, small_graph_max=0).collect()
    }
    assert forced == expect  # distributed fixpoint, fast path disabled


VECS = st.lists(
    st.lists(
        st.floats(min_value=-10.0, max_value=10.0, allow_nan=False, width=32),
        min_size=4,
        max_size=4,
    ),
    min_size=2,
    max_size=24,
)


@given(vecs=VECS)
@_SETTINGS
def test_sq8_reconstruction_error_bound(spark, vecs):
    """The SQ8 guarantee for ANY corpus: for every in-range value (and
    every corpus value is in range of its own train stats by
    construction), |reconstruct(encode(x)) - x| <= scale/2 per dimension
    — the closed-form bound the near-exact recall claim rests on. Also
    pins code-domain validity for arbitrary inputs."""
    from aws_data_pipeline_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    mins, scales = S.sq8_train_stats(df)
    out = (
        S.sq8_encode(df, mins, scales)
        .withColumn("rv", S.sq8_reconstruct(F.col("codes"), mins, scales))
        .collect()
    )
    raw = {i: v for i, v in enumerate(vecs)}
    for r in out:
        assert all(0 <= c <= 255 for c in r.codes)
        for d, (x, xr) in enumerate(zip(raw[r.id], r.rv)):
            # scale/2 plus float slop; constant dims reconstruct exactly
            assert abs(xr - x) <= scales[d] / 2 + 1e-9, (r.id, d, x, xr)


GNTILE_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),  # value (ties likely)
        st.integers(min_value=1, max_value=6),       # partition-count seed
    ),
    min_size=1,
    max_size=80,
)


@given(rows=GNTILE_ROWS, k=st.integers(min_value=1, max_value=7))
@_SETTINGS
def test_global_ntile_matches_sql_ntile_for_any_input(spark, rows, k):
    """For ANY frame, bucket count, and range-partition fan-out,
    global_ntile reproduces SQL ntile exactly — incl. heavy ties (broken
    by the id), n < k, and fan-outs larger than the row count."""
    from pyspark.sql import Window

    from aws_data_pipeline_spark.operators.windows import global_ntile

    nparts = rows[0][1]
    df = spark.createDataFrame(
        [(i, v) for i, (v, _) in enumerate(rows)], "id long, v long"
    )
    order = [F.col("v").desc(), F.col("id")]
    got = sorted(
        global_ntile(df, k, order, out_col="q", num_partitions=nparts).collect()
    )
    want = sorted(
        df.withColumn("q", F.ntile(k).over(Window.orderBy(*order))).collect()
    )
    assert got == want


# no '&'/';': entity unescape runs LAST by design, so an author-escaped
# tag ("&lt;p&gt;") correctly becomes literal "<p>" CONTENT in the output —
# stripping again would delete author-intended text, i.e. idempotency and
# tag-freeness deliberately hold only for entity-free inputs (the escaped
# single-unescape behavior is pinned in test_llm::test_strip_markup_semantics)
TEXTS = st.text(
    alphabet=st.sampled_from(list("ab <>/!npscript styleq\t\n")),
    min_size=0,
    max_size=60,
)


@given(texts=st.lists(TEXTS, min_size=1, max_size=12))
@_SETTINGS
def test_strip_markup_idempotent_and_tagfree(spark, texts):
    """For ANY entity-free input (including pathological tag-soup
    fragments), the stripped output contains no complete tag and stripping
    is idempotent — strip(strip(x)) == strip(x) — so a chain can re-run it
    safely."""
    import re

    from aws_data_pipeline_spark.operators.text import strip_markup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    once = {
        r["id"]: r["c1"]
        for r in strip_markup(df, out_col="c1").select("id", "c1").collect()
    }
    again = {
        r["id"]: r["c2"]
        for r in strip_markup(
            spark.createDataFrame(
                [(i, c) for i, c in once.items()], "id long, text string"
            ),
            out_col="c2",
        )
        .select("id", "c2")
        .collect()
    }
    for i in once:
        assert again[i] == once[i], (texts[i], once[i], again[i])
        assert not re.search(r"<[^>]*>", once[i]), (texts[i], once[i])


@given(
    n=st.integers(min_value=1, max_value=10**12),
    dim=st.integers(min_value=1, max_value=4096),
    k=st.integers(min_value=1, max_value=1000),
    target=st.floats(min_value=0.01, max_value=1.0),
    clustered=st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_choose_ivfpq_params_invariants(n, dim, k, target, clustered):
    """choose_ivfpq_params is safe on ANY corpus shape: every returned
    param is directly consumable by the builders/probe — m divides dim,
    nprobe never exceeds n_cells, the k-means training clamp holds
    (enough training points per centroid whenever the corpus allows it),
    rerank covers k, and
    raising the recall target never probes FEWER cells."""
    from aws_data_pipeline_spark.operators.similarity import (
        choose_ivfpq_params,
    )

    p = choose_ivfpq_params(n, dim, k=k, target_recall=target,
                            clustered=clustered)
    assert dim % p["m"] == 0 and 1 <= p["m"] <= dim
    assert 1 <= p["n_cells"]
    assert 1 <= p["nprobe"] <= p["n_cells"]
    if n >= 39:  # the clamp is only satisfiable when the corpus allows it
        assert n // p["n_cells"] >= 39
    assert p["rerank"] >= k
    assert p["ks"] == 16
    if target < 1.0:  # monotone in target_recall on BOTH branches
        higher = choose_ivfpq_params(n, dim, k=k,
                                     target_recall=min(1.0, target + 0.2),
                                     clustered=clustered)
        assert higher["nprobe"] >= p["nprobe"]
    if clustered and target == 1.0 and p["n_cells"] >= 2:
        # a 1.0 target's only honest cell-recall promise: probe every cell
        assert p["nprobe"] == p["n_cells"]


@given(
    seed=st.integers(min_value=0, max_value=2**32 - 1),
    n=st.integers(min_value=2, max_value=30),
    dim=st.integers(min_value=2, max_value=16),
    spread=st.floats(min_value=0.0, max_value=6.0),
)
@settings(max_examples=200, deadline=None)
def test_sq8_derived_slack_bounds_adc_error(seed, n, dim, spread):
    """The mathematical contract behind the miners' DERIVED band slack
    (sq8_error_norm): for ANY corpus — including heavy-tailed per-dim
    ranges spanning up to 6 orders of magnitude, the regime where the old
    fixed 0.05 slack fails — the asymmetric dequantized cosine deviates
    from the exact cosine by at most 2*E/||r||, E = ||scales||/2, with
    train/encode/reconstruct mirroring the engine's formulas verbatim
    (min/max train, clamp(floor((x-min)/scale + 0.5)), min + code*scale)."""
    import numpy as np

    from aws_data_pipeline_spark.operators.similarity import sq8_error_norm

    rng = np.random.default_rng(seed)
    col_scale = 10.0 ** rng.uniform(-spread / 2, spread / 2, size=dim)
    V = rng.normal(size=(n, dim)) * col_scale
    mn, mx = V.min(axis=0), V.max(axis=0)
    sc = (mx - mn) / 255.0
    safe = np.where(sc == 0.0, 1.0, sc)
    codes = np.where(
        sc == 0.0, 0.0, np.clip(np.floor((V - mn) / safe + 0.5), 0, 255)
    )
    R = mn + codes * sc
    E = sq8_error_norm(list(sc))
    q = rng.normal(size=dim)
    qn = np.linalg.norm(q)
    if qn == 0.0:
        return
    for v, r in zip(V, R):
        rn, vn = np.linalg.norm(r), np.linalg.norm(v)
        if rn == 0.0 or vn == 0.0:  # engine drops null asim rows
            continue
        sim = float(q @ v / (qn * vn))
        asim = float(q @ r / (qn * rn))
        assert abs(asim - sim) <= 2.0 * E / rn + 1e-9


@given(
    a_vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    ),
    b_vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    ),
    parts=st.integers(min_value=1, max_value=9),
)
@_SETTINGS
def test_ks_drift_matches_numpy_model(spark, a_vals, b_vals, parts):
    """ks_drift == the numpy-exact two-sample D over arbitrary integer
    samples and arbitrary range-partition counts (the statistic is a
    pure function of the two multisets, never of the partitioning)."""
    import numpy as np

    from aws_data_pipeline_spark.operators.quality import ks_drift

    a = spark.createDataFrame([(float(v),) for v in a_vals], "x double")
    b = spark.createDataFrame([(float(v),) for v in b_vals], "x double")
    row = ks_drift(a, b, "x", num_partitions=parts).collect()[0]
    av, bv = np.sort(np.array(a_vals, float)), np.sort(np.array(b_vals, float))
    pooled = np.unique(np.concatenate([av, bv]))
    fa = np.searchsorted(av, pooled, side="right") / len(av)
    fb = np.searchsorted(bv, pooled, side="right") / len(bv)
    d = np.round(np.abs(fa - fb), 9)
    assert row.ks_stat == d.max()
    assert row.at_value == pooled[int(np.argmax(d))]
    assert (row.n_base, row.n_curr) == (len(a_vals), len(b_vals))


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-500, max_value=500),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=80,
    ),
    parts=st.integers(min_value=1, max_value=9),
)
@_SETTINGS
def test_global_prefix_sum_matches_python_model(spark, rows, parts):
    """global_prefix_sum over an arbitrary frame (duplicate order keys
    allowed — the id tiebreak totalizes) equals the sequential prefix sum
    at every row, for any range-partition count; grand totals match."""
    from aws_data_pipeline_spark.operators.windows import global_prefix_sum

    df = spark.createDataFrame(
        [(i, v, w) for i, (v, w) in enumerate(rows)], "id long, v long, w long"
    )
    out, totals = global_prefix_sum(
        df, [F.col("v").asc(), F.col("id").asc()], ["w"], num_partitions=parts
    )
    got = {
        r.id: r.cum_w
        for r in out.collect()
    }
    acc = 0
    for i, (v, w) in sorted(enumerate(rows), key=lambda t: (t[1][0], t[0])):
        acc += w
        assert got[i] == acc
    assert totals == {"w": sum(w for _, w in rows)}


@given(
    vecs=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
        ).filter(lambda t: any(t)),
        min_size=3,
        max_size=10,
    ),
    k=st.integers(min_value=1, max_value=4),
)
@_SETTINGS
def test_mmr_rerank_matches_greedy_model(spark, vecs, k):
    """mmr_rerank == the sequential greedy model over arbitrary integer
    geometry (integer components keep every dot product exact, so the
    9-dp-snapped scores are bit-identical between the vectorized operator
    and the scalar model; zero vectors excluded — their cosine is 0 by
    the operator's guarded divide)."""
    import numpy as np

    from aws_data_pipeline_spark.operators import similarity as S

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)
    cand = S.brute_force_topk(q, df, k=len(rows))
    got = [
        r.neighbor_id
        for r in S.mmr_rerank(spark, q, cand, df, k=k, lambda_=0.5)
        .orderBy("mmr_rank")
        .collect()
    ]

    V = {i: np.array(v, float) for i, v in rows}
    qv = V[0]
    cand_ids = sorted(
        {r.neighbor_id for r in cand.collect()}
    )

    def sim(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return round(float(a @ b / (na * nb)), 9) if na and nb else 0.0

    selected, remaining = [], list(cand_ids)
    while remaining and len(selected) < k:
        def score(c):
            if not selected:
                return round(0.5 * sim(qv, V[c]), 9)
            red = max(sim(V[c], V[s]) for s in selected)
            return round(0.5 * sim(qv, V[c]) - 0.5 * red, 9)
        best = max(remaining, key=lambda c: (score(c), -c))
        selected.append(best)
        remaining.remove(best)
    assert got == selected


@given(
    doomed=st.sets(st.integers(min_value=0, max_value=40), max_size=12),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_delete_from_sq8_index_matches_set_model(
    spark, tmp_path_factory, doomed
):
    """delete_from_sq8_index over an arbitrary id set (absent ids, the
    empty set, everything): removed-count == |present ∩ doomed|, both
    sub-tables hold exactly the survivor set afterwards, the stored
    quantizer is untouched, and a repeat delete removes zero. The empty
    intersection is also a NO-OP structurally — no version flip."""
    from aws_data_pipeline_spark.operators import similarity as S
    from aws_data_pipeline_spark.sources.parquet import index_active_version

    tmp = tmp_path_factory.mktemp("sq8del")
    rows = [
        (i, [float((i * 13 + d * 7) % 10) for d in range(6)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp / "idx")
    S.build_sq8_index(df, idx)
    stats = S.read_sq8_stats(spark, idx)
    present = {i for i, _ in rows}
    ids = spark.createDataFrame([(i,) for i in sorted(doomed)] or [(None,)],
                                "vec_id long").where(F.col("vec_id").isNotNull())
    v_before = index_active_version(spark, idx)
    n = S.delete_from_sq8_index(spark, idx, ids)
    assert n == len(present & doomed)
    root = S.index_root(spark, idx)
    surv = present - doomed
    for sub in ("vectors", "codes"):
        got = {r.id for r in spark.read.parquet(f"{root}/{sub}").collect()}
        assert got == surv, f"{sub} mismatch"
    assert S.read_sq8_stats(spark, idx) == stats
    if n == 0:
        assert index_active_version(spark, idx) == v_before  # no churn
    assert S.delete_from_sq8_index(spark, idx, ids) == 0


# -- CDC apply vs an in-memory model (round 11) ----------------------------

CDC_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),          # key
        st.integers(min_value=2023, max_value=2024),    # partition year
        st.sampled_from(["upsert", "delete"]),
        st.integers(min_value=0, max_value=60),         # payload
    ),
    min_size=1,
    max_size=24,
)


@given(events=CDC_EVENTS, batch_splits=st.integers(min_value=1, max_value=4),
       replay_batch=st.integers(min_value=0, max_value=3))
@_SETTINGS
def test_cdc_apply_matches_dict_model_under_replay(
    spark, tmp_path_factory, events, batch_splits, replay_batch
):
    """apply_cdc_batch against the obvious in-memory model: for ANY event
    sequence (unique ascending sequences), ANY batching of it, and ANY
    single-batch replay injected afterwards, the zone equals the model
    that applies events in sequence order once — replays change nothing
    (the sequence guard + tombstones), and the model never sees batching
    at all."""
    from aws_data_pipeline_spark.streaming.cdc import apply_cdc_batch

    zone = str(tmp_path_factory.mktemp("cdc") / "zone")
    seq_events = [
        (key, year, op, payload, seq + 1)
        for seq, (key, year, op, payload) in enumerate(events)
    ]
    # model: last event per (key, year) wins because sequences ascend
    model: dict[tuple, tuple] = {}
    for key, year, op, payload, seq in seq_events:
        if op == "upsert":
            model[(key, year)] = (payload, seq)
        else:
            model.pop((key, year), None)

    n = max(1, len(seq_events) // batch_splits)
    batches = [
        seq_events[i : i + n] for i in range(0, len(seq_events), n)
    ]
    schema = "id long, v long, year int, _op string, _seq long"
    for b in batches:
        bdf = spark.createDataFrame(
            [(k, p, y, op, s) for k, y, op, p, s in b], schema
        )
        apply_cdc_batch(bdf, zone, ["id"], ["year"])
    # replay one earlier batch verbatim (at-least-once delivery)
    rb = batches[min(replay_batch, len(batches) - 1)]
    stats = apply_cdc_batch(
        spark.createDataFrame(
            [(k, p, y, op, s) for k, y, op, p, s in rb], schema
        ),
        zone,
        ["id"],
        ["year"],
    )
    assert stats["upserts"] == 0 and stats["deletes"] == 0

    from aws_data_pipeline_spark.sources.parquet import zone_exists

    got = (
        {
            (r.id, r.year): (r.v, r._seq)
            for r in spark.read.parquet(zone).collect()
        }
        if zone_exists(spark, zone)
        else {}
    )
    assert got == model


# -- fuzzy_link vs a set model (round 11) ----------------------------------

SMALL_DOCS = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=2), min_size=3, max_size=9
).map(lambda words: " ".join(words))


@given(
    corpus=st.lists(SMALL_DOCS, min_size=1, max_size=6),
    queries=st.lists(SMALL_DOCS, min_size=1, max_size=3),
)
@_SETTINGS
def test_fuzzy_link_matches_python_set_model(spark, corpus, queries):
    """fuzzy_link against the direct set model: for ANY tiny corpora the
    returned (pair, jaccard) set equals Python computing distinct
    2-token shingles and |∩|/|∪| per cross pair — same division, same
    absent-when-no-overlap rule — and the per-query rank-1 rows are the
    model's argmax with the id tie-break."""
    from aws_data_pipeline_spark.operators.linkage import fuzzy_link

    def sh(text):
        toks = text.lower().split(" ")
        return {
            " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
        } if len(toks) >= 2 else set()

    c = {i: sh(t) for i, t in enumerate(corpus)}
    q = {100 + i: sh(t) for i, t in enumerate(queries)}
    expect = {}
    for qid, qs in q.items():
        cands = []
        for cid, cs in c.items():
            inter = len(qs & cs)
            if inter:
                cands.append((inter / (len(qs) + len(cs) - inter), -cid, cid))
        if cands:
            j, _, cid = max(cands)
            expect[qid] = (cid, j)

    qdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(queries, start=100)],
        "qid long, text string",
    )
    cdf = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id long, text string"
    )
    out = fuzzy_link(qdf, cdf, "qid", "doc_id", k=2, top=1, max_bucket=None)
    got = {r.qid: (r.doc_id, r.jaccard) for r in out.collect()}
    assert got == expect


def test_minhash_signatures_shape_and_determinism(spark):
    """The signature surface: one row per doc, num_perm-long signatures,
    and byte-identical across two independent calls (the permutation
    parameters are fixed constants, not per-session salt)."""
    from aws_data_pipeline_spark.operators.dedup import (
        _signatures_from_sets,
        shingle_sets,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy cat tonight"),
            (3, "an entirely different document about spark shuffles"),
        ],
        "doc_id long, text string",
    )

    def sigs():
        sets = shingle_sets(df, "doc_id", k=3)
        return {r.doc: r.sig for r in _signatures_from_sets(sets, 8).collect()}

    a, b = sigs(), sigs()
    assert set(a) == {1, 2, 3}
    assert all(len(s) == 8 for s in a.values())
    assert a == b
    # near-identical docs agree on more signature slots than unrelated ones
    same = sum(x == y for x, y in zip(a[1], a[2]))
    diff = sum(x == y for x, y in zip(a[1], a[3]))
    assert same > diff
