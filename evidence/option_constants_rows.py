"""Sorted-row md5 of every registered and demoted query, for comparing two
checkouts row for row.

Usage: python evidence/option_constants_rows.py CHECKOUT SF_DIR OUT_JSON

Imports the package from CHECKOUT, runs each query at SF_DIR on
``local[4]`` and writes {query: [row count, md5 of the sorted rows]} (or
["ERR", error text]) to OUT_JSON. Run it once per checkout and compare the
two files."""

from __future__ import annotations

import hashlib
import json
import sys

checkout, sf_dir, out = sys.argv[1:4]
sys.path.insert(0, checkout)

from aws_data_pipeline_spark.plans import DEMOTED, REGISTRY, load_registry  # noqa: E402
from aws_data_pipeline_spark.session import get_spark  # noqa: E402

spark = get_spark(master="local[4]", extra_conf={"spark.ui.enabled": "false"})
load_registry()
result = {}
for name, q in sorted({**REGISTRY, **DEMOTED}.items()):
    try:
        df = q.spark_fn(spark, sf_dir)
        cols = sorted(df.columns)
        rows = sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())
        result[name] = [len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()]
    except Exception as exc:  # noqa: BLE001 — an error is a result to compare
        result[name] = ["ERR", f"{type(exc).__name__}: {str(exc)[:200]}"]
    print(name, result[name], flush=True)
with open(out, "w") as f:
    json.dump(result, f, indent=0, sort_keys=True)
