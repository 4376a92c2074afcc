"""Empty-input contract sweep (VERDICT r12 item 3): every query —
registered AND demoted — replayed over EMPTY source tables (same schemas
as the testdata, zero rows), asserting Spark-vs-oracle agreement. This is
the one divergence class the hostile-partitioning sweeps cannot see:
grand aggregates, cube grouping sets, and quantile cross-joins all have
empty-input corner semantics that never vary with partitioning
(the class conversion_latency's 0-rows-vs-null-row divergence exposed).

Queries whose empty-input contract is a LOUD raise (drift checks need a
cohort; index/model trainers need a corpus) are pinned to their exact
documented error instead — an incidental crash three frames deep inside
KMeans does not pass.
"""

from __future__ import annotations

import glob
import shutil

import pyarrow.parquet as pq
import pytest

from aws_data_pipeline_spark.catalog import TABLES
from aws_data_pipeline_spark.plans import DEMOTED, load_registry
from aws_data_pipeline_spark.plans.llm import _warehouse_index_path
from tests.conftest import SF_DIR
from tests.oracle import run_compare

REGISTRY = dict(load_registry())
REGISTRY.update(DEMOTED)
SQL_QUERIES = sorted(n for n, q in REGISTRY.items() if q.sql is not None)
ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if q.sql is None)

# Documented loud-raise contracts on empty input: {query: message substring}.
EXPECTED_RAISE = {
    # a drift check with no cohort is a pipeline failure, not "no drift"
    "dq_ks_price_drift": "empty cohort",
    # index / model training on nothing is a caller error
    "embedding_ann_ivf": "empty corpus",
    "embedding_ann_ivf_indexed": "empty corpus",
    "embedding_ann_ivfpq": "empty corpus",
    "embedding_ann_ivfsq8": "empty corpus",
    "embedding_ann_pq": "empty corpus",
    "embedding_ann_pq_indexed": "empty corpus",
    "hard_negative_topk_ivfsq8": "empty corpus",
    "quality_classifier_scores": "no scorable training documents",
}


@pytest.fixture(scope="session")
def empty_sf_dir(tmp_path_factory):
    """Empty copies of every source table. The registry indexes built
    over them live under ``spark-warehouse/``, keyed by this directory's
    path, so they are removed at teardown."""
    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        schema = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    yield str(d)
    for idx in glob.glob(_warehouse_index_path(str(d), "*")):
        shutil.rmtree(idx)


@pytest.mark.parametrize("name", SQL_QUERIES)
def test_query_empty_input_matches_oracle(spark, empty_sf_dir, name):
    if name in EXPECTED_RAISE:
        with pytest.raises(ValueError, match=EXPECTED_RAISE[name]):
            run_compare(spark, empty_sf_dir, name)
        return
    run_compare(spark, empty_sf_dir, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_empty_input(spark, empty_sf_dir, name):
    if name in EXPECTED_RAISE:
        with pytest.raises(ValueError, match=EXPECTED_RAISE[name]):
            REGISTRY[name].spark_fn(spark, empty_sf_dir).count()
        return
    assert REGISTRY[name].spark_fn(spark, empty_sf_dir).count() >= 0
