"""Job counts and row digests of the registry queries that reach the
build-once index layer (``plans/llm.py``: the ensured indexes, the resident
copies, the composed roots, the SQ8 stats and the BPE model).

One session imports the package from CHECKOUT and runs each query twice in
order: ``cold`` is its first call in the session, ``warm`` the second.
Each call builds the frame and collects it; the Spark jobs it started are
counted per job group, with the call-site name of each job's last stage
(``-`` for a job that ran no stage). Each call records the md5 of its sorted rows.

Run it twice per checkout: the first process builds whatever indexes the
checkout's warehouse lacks or holds stale, the second is the "fresh
session over indexes on disk" case the comparison is about.

Usage: python evidence/build_once_ab.py CHECKOUT SF_DIR OUT.json
"""

from __future__ import annotations

import hashlib
import json
import sys

checkout, sf_dir, out = sys.argv[1:4]
sys.path.insert(0, checkout)

from aws_data_pipeline_spark.plans import DEMOTED, REGISTRY, load_registry  # noqa: E402
from aws_data_pipeline_spark.session import get_spark  # noqa: E402

QUERIES = [
    *(
        f"embedding_ann_{s}"
        for s in (
            "ivf", "ivf_indexed", "pq", "pq_indexed", "sq8", "sq8_indexed",
            "sq8_filtered", "ivfpq", "ivfsq8",
        )
    ),
    "hard_negative_topk_indexed", "hard_negative_topk_ivfsq8", "ann_recall_sq8",
    "text_neardup_index_probe", "incremental_duplicate_spans",
    "bpe_merges", "bpe_token_counts", "bpe_fertility_by_lang",
]


def job_names(group: str, fn) -> list[str]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    out = []
    for j in sorted(tracker.getJobIdsForGroup(group)):
        stages = tracker.getJobInfo(j).stageIds
        out.append(tracker.getStageInfo(max(stages)).name if stages else "-")
    return out


def digest(df) -> list:
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())
    return [len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()]


spark = get_spark(
    "build-once-ab", master="local[4]",
    extra_conf={"spark.sql.shuffle.partitions": "8"},
)
spark.sparkContext.setLogLevel("ERROR")
load_registry()
reg = {**REGISTRY, **DEMOTED}
result = {}
for name in QUERIES:
    rec = result[name] = {}
    for pas in ("cold", "warm"):
        got = []
        names = job_names(
            f"{pas}.{name}",
            lambda: got.append(digest(reg[name].spark_fn(spark, sf_dir))),
        )
        rec[f"{pas}.jobs"] = len(names)
        rec[f"{pas}.rows"] = got[0]
        rec[f"{pas}.job_names"] = names
    print(name, rec["cold.jobs"], rec["warm.jobs"], rec["cold.rows"], flush=True)
with open(out, "w") as f:
    json.dump(result, f, indent=1, sort_keys=True)
spark.stop()
