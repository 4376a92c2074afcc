"""One lifecycle for every id-keyed persisted index.

The hyperplane-LSH, PQ and SQ8 embedding indexes and the MinHash-LSH text
index store one on-disk shape: a per-id primary table (the exact
verification or re-rank side), a per-id code table (the candidate or scan
side), the codec's data-fitted artifact tables and ``meta``. They differ
only in the :class:`Codec` that projects raw rows into primary rows, fits
artifacts and encodes primary rows into codes (the FAISS index-factory
idea: each quantizer is a codec plugged into one index shape). Build, the
crash-safe append, the growth trigger, retrain, delete and compaction are
written once here; each family's public functions bind its codec
(``operators/similarity.py``: ``_LSH``, ``_PQ``, ``_SQ8``;
``operators/dedup.py``: ``_TEXT_LSH``). IVF keeps its own lifecycle: its
corpus is cell-partitioned, its append is partition-pruned and counts,
and its delete rewrites cells in place.

Every build, retrain, delete and compaction writes a fresh version
directory and flips the pointer last (``sources.parquet``'s versioned
index store), so probes never see a half-written state and a crash
leaves the previous version active.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from aws_data_pipeline_spark.operators import arrow_frame
from aws_data_pipeline_spark.sources.parquet import (
    compact_index,
    finish_index_build,
    index_next_root,
    index_root,
    read_pinned,
)


@dataclass(frozen=True)
class Codec:
    """What one index family declares: its tables, its ``meta`` schema,
    and how it projects raw rows, fits artifacts and encodes codes."""

    name: str  # public-name stem: build_<name>_index, append_to_<name>_index
    primary_sub: str  # the per-id primary table
    primary_cols: tuple[str, str]  # its (key, value) columns; the rest is payload
    # (raw rows, id col, source col, payload, params) -> primary rows; params
    # are the build parameters as a Row, or the loaded artifact on append
    primary: Callable[[DataFrame, str, str, Sequence[str], Any], DataFrame]
    code_sub: str  # the per-id code table, keyed like the primary table
    artifact_subs: tuple[str, ...]  # data-fitted tables, fixed on append
    # DDL of the one ``meta`` row: the build parameters, plus ``n_built
    # long`` (the growth baseline) for a data-fitted codec
    meta: str
    cluster: dict[str, tuple[str, ...]]  # compaction sort key per id table
    report: str  # key prefix in the compaction result
    # (primary rows, artifact, payload) -> code rows
    encode: Callable[[DataFrame, Any, Sequence[str]], DataFrame]
    # A data-fitted codec fits, stores and loads artifact tables. The
    # defaults are a parameter-only codec's (seeded hashes or hyperplanes):
    # its artifact is the build parameters, so codes re-derive from meta.
    fit: Callable[..., Any] = lambda stored, **params: Row(**params)
    write_artifacts: Callable[[Any, str, Any], None] = lambda spark, root, art: None
    load: Callable[[Any, str], Any] | None = None  # (spark, resolved root)
    # (queries, corpus, artifact, code rows, k, rerank) -> resident top-k
    search: Callable[..., DataFrame] | None = None

    @property
    def key(self) -> str:
        return self.primary_cols[0]

    def artifact(self, spark, root: str) -> Any:
        """The artifact of the index at an already-resolved root."""
        return self.load(spark, root) if self.load else read_meta(self, spark, root)


def _meta_names(codec: Codec) -> list[str]:
    return [field.split()[0] for field in codec.meta.split(",")]


def _meta_frame(codec: Codec, spark, root: str) -> DataFrame:
    """``meta`` read with its declared schema: no footer inference."""
    return spark.read.schema(codec.meta).parquet(f"{root}/meta")


def read_meta(codec: Codec, spark, root: str) -> Row:
    """The ``meta`` row of the index at an already-resolved root."""
    return _meta_frame(codec, spark, root).collect()[0]


def build(
    codec: Codec,
    df: DataFrame,
    path: str,
    id_col: str,
    src_col: str,
    payload_cols: Sequence[str],
    **params,
) -> None:
    """Write the primary table, the code table, the artifacts and
    ``meta`` into a fresh version directory and flip the pointer last:
    probes and appends keep reading one internally-consistent (codes,
    artifacts) pair, and a crash mid-build leaves the previous version
    (or no index) active. Codes are encoded from the MATERIALIZED primary
    rows, so the projection runs once. ``n_built``, the growth baseline
    of :func:`grown`, is the CODES population: the primary table also
    holds the rows an encoder drops (zero-norm or ragged vectors), which
    would make the growth trigger fire late."""
    spark = df.sparkSession
    root, new_v = index_next_root(spark, path)
    codec.primary(df, id_col, src_col, payload_cols, Row(**params)).write.mode(
        "overwrite"
    ).parquet(f"{root}/{codec.primary_sub}")
    stored = read_pinned(spark, f"{root}/{codec.primary_sub}")
    art = codec.fit(stored, **params)
    codec.encode(stored, art, payload_cols).write.mode("overwrite").parquet(
        f"{root}/{codec.code_sub}"
    )
    codec.write_artifacts(spark, root, art)
    names = _meta_names(codec)
    if "n_built" in names:
        params["n_built"] = read_pinned(spark, f"{root}/{codec.code_sub}").count()
    arrow_frame(spark, [tuple(params[c] for c in names)], codec.meta).write.mode(
        "overwrite"
    ).parquet(f"{root}/meta")
    finish_index_build(spark, path, new_v)


def append(
    codec: Codec, df: DataFrame, path: str, id_col: str, src_col: str
) -> None:
    """Idempotent, crash-safe append under the index's STORED artifacts
    and parameters. Each sub-table derives its own append set by
    anti-joining the batch's ids against what THAT table already holds
    (ids only — column-pruned scans):

    - the raw batch rows whose id the primary table lacks are projected
      into primary rows and appended, so a re-delivered row is never
      projected again;
    - the primary rows of batch ids the code table lacks are encoded from
      the MATERIALIZED primary table and appended, which backfills a
      crash between the two writes.

    A re-run appends nothing. Artifacts and writes share ONE root
    resolution, so a retrain committing mid-append can never pair old
    artifacts with the new version's tables. A payload-carrying index
    requires the same columns on the appended frame, discovered from the
    stored primary schema."""
    spark = df.sparkSession
    root = index_root(spark, path)
    art = codec.artifact(spark, root)
    primary_path = f"{root}/{codec.primary_sub}"
    stored = read_pinned(spark, primary_path)
    payload = [c for c in stored.columns if c not in codec.primary_cols]
    missing_payload = [c for c in payload if c not in df.columns]
    if missing_payload:
        raise ValueError(
            f"append_to_{codec.name}_index: the index stores payload columns "
            f"{payload} but the appended frame lacks {missing_payload}"
        )
    missing = (
        df.select(id_col, src_col, *payload)
        .join(stored.select(F.col(codec.key).alias(id_col)), id_col, "left_anti")
        .localCheckpoint(eager=True)  # write target is also an anti-join input
    )
    if not missing.isEmpty():
        codec.primary(missing, id_col, src_col, payload, art).write.mode(
            "append"
        ).parquet(primary_path)
    codes_path = f"{root}/{codec.code_sub}"
    pending = (
        read_pinned(spark, primary_path)
        .join(df.select(F.col(id_col).alias(codec.key)), codec.key, "left_semi")
        .join(read_pinned(spark, codes_path).select(codec.key), codec.key, "left_anti")
        .localCheckpoint(eager=True)
    )
    if not pending.isEmpty():
        codec.encode(pending, art, payload).write.mode("append").parquet(codes_path)


def grown(codec: Codec, spark, root: str, growth_factor: float) -> bool:
    """The growth trigger of a data-fitted codec: the code table holds at
    least ``growth_factor`` × its build-time population. Cost: one
    footer-metadata count + the meta row."""
    meta = read_meta(codec, spark, root)
    current = read_pinned(spark, f"{root}/{codec.code_sub}").count()
    return meta.n_built > 0 and current >= growth_factor * meta.n_built


def retrain(codec: Codec, spark, path: str, **fit_params) -> tuple[int, Row | None]:
    """Refit a data-fitted codec on the index's OWN primary rows and
    re-encode, never rescanning the source corpus; payload columns ride
    the primary table through, and the build parameters come from the
    stored meta. The rebuild is a versioned build, so probes mid-retrain
    serve the OLD (codes, artifacts) pair and a crash leaves it active.
    Returns (rows re-encoded, the pre-retrain meta row or None)."""
    root = index_root(spark, path)
    names = [c for c in _meta_names(codec) if c != "n_built"]
    meta = read_meta(codec, spark, root) if names else None
    stored = read_pinned(spark, f"{root}/{codec.primary_sub}")
    payload = [c for c in stored.columns if c not in codec.primary_cols]
    rows = stored.localCheckpoint(eager=True)  # post-commit cleanup deletes these files
    params = {c: meta[c] for c in names}
    build(codec, rows, path, *codec.primary_cols, payload, **params, **fit_params)
    return rows.count(), meta


def delete(codec: Codec, spark, path: str, ids: DataFrame, id_col: str) -> int:
    """Erase ``ids`` from the primary and code tables by an anti-join
    rewrite into a fresh version; artifacts and meta are carried
    verbatim, so survivor codes and every probe ranking are unchanged.
    Probes mid-delete serve the old generation and a crash leaves it
    active. Idempotent: no version churn when none of the ids are
    present. Returns primary rows removed."""
    src = index_root(spark, path)
    root, new_v = index_next_root(spark, path)
    # no broadcast hint: a routine GDPR batch is tiny (AQE broadcasts it
    # on its own), but a cohort-scale erasure can be tens of millions of
    # ids — forcing the hint would pin that on the driver
    doomed = ids.select(F.col(id_col).alias(codec.key)).distinct()
    n_deleted = (
        read_pinned(spark, f"{src}/{codec.primary_sub}")
        .join(doomed, codec.key, "left_semi")
        .count()
    )
    if n_deleted == 0:
        return 0
    for sub in (codec.primary_sub, codec.code_sub):
        read_pinned(spark, f"{src}/{sub}").join(
            doomed, codec.key, "left_anti"
        ).write.mode("overwrite").parquet(f"{root}/{sub}")
    for sub in codec.artifact_subs:
        read_pinned(spark, f"{src}/{sub}").write.mode("overwrite").parquet(
            f"{root}/{sub}"
        )
    _meta_frame(codec, spark, src).write.mode("overwrite").parquet(f"{root}/meta")
    finish_index_build(spark, path, new_v)
    return n_deleted


def compact(codec: Codec, spark, path: str) -> dict[str, int]:
    """Compact the index into its next version, each id table clustered
    on its probe key (:func:`sources.parquet.compact_index`: probe-safe,
    not append-safe). Returns files written per id table, keyed with the
    codec's report prefix."""
    rewrite = {sub: {"sort_by": key} for sub, key in codec.cluster.items()}
    written = compact_index(spark, path, rewrite, (*codec.artifact_subs, "meta"))
    return {f"{codec.report}{sub}": n for sub, n in written.items()}
