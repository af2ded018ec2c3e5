"""Persisted IVF (inverted-file) ANN index lifecycle — the similarity-search
sibling of plans/lsh_index.py.

`operators/similarity.py::ann_ivf_topk` demonstrates the probe math but, as
a self-contained registry query, re-assigns the whole corpus to cells on
every call. A production vector store assigns ONCE at ingest and amortizes:

    build_ivf_index(quantized_corpus, prefix="vecs")      # once / on re-train
    probe_ivf_index(spark, query_vectors, prefix="vecs")  # per query batch
    append_to_ivf_index(new_vectors, prefix="vecs")       # ingest ACCEPT
    compact_ivf_index(spark, prefix="vecs")               # periodic heal

Two catalog tables:

- `{prefix}_cents` (cent_id, qc, nc)            — the coarse quantizer
  (strided by default, or pass k-means-trained centroids); tiny, read
  whole and broadcast at probe time.
- `{prefix}_cells` (cell, neighbor_id, qb, nb)  — the inverted lists,
  BUCKETED by cell: every probe joins on the cell id and reads the lists
  pre-partitioned — no index-side shuffle per batch.

At 100 TB the cells table is the corpus's quantized vectors re-keyed by
cell (same order of size as the corpus, which is why its bucketed layout
matters), and per-batch probe cost is |batch| x NPROBE cells — independent
of corpus size. Probe results are bit-identical to ann_ivf_topk on the
same corpus (tests/test_ivf_index.py asserts row equality).

Reference: no counterpart (SURVEY.md §2.6); completes the §2.8
similarity tier's index lifecycle. The catalog-table mechanics live in
plans/index_tables.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import roundn
from ..operators.similarity import (
    CENTROID_STRIDE,
    _strided_seeds,
    NPROBE,
    TOPK,
    _SPARK_PAIR_DOT,
)
from .index_tables import IndexTables, occupancy

TABLES = IndexTables(cents=None, cells="cell")


def _cos_to_cent() -> F.Column:
    # built lazily: F.expr needs an active SparkContext, and this module
    # may be imported before any session exists (e.g. pytest collection)
    return F.expr(
        "aggregate(zip_with(q, qc, (x, y) -> x * y), cast(0 as bigint), (acc, v) -> acc + v)"
    ).cast("double")


def build_ivf_index(
    emb: DataFrame,
    *,
    prefix: str,
    n_buckets: int = 8,
    cents: DataFrame | None = None,
    carry_cols: tuple[str, ...] = (),
) -> None:
    """Materialize the quantizer + inverted lists for `emb`
    (vec_id, q, nrm). Default quantizer is the deterministic stride
    (same as ann_ivf_topk); pass `cents` (cent_id, qc, nc) to index under
    a trained quantizer instead (kmeans_embeddings' centroids).

    `carry_cols` copies metadata columns (e.g. `label`) into the
    inverted lists so filtered probes can prune at the SCAN
    (probe_ivf_index's `label=` — the payload-filter-inside-cell-visit
    shape production vector stores run for tenant/class predicates)."""
    spark = emb.sparkSession
    TABLES.clear_orphans(spark, prefix)
    if cents is None:
        cents = _strided_seeds(emb).select(
            F.col("vec_id").alias("cent_id"),
            F.col("q").alias("qc"),
            F.col("nrm").alias("nc"),
        )
    TABLES.write(cents, prefix, "cents", n_buckets)
    assigned = _assign_cells(emb, spark.table(f"{prefix}_cents"), carry_cols)
    TABLES.write(assigned, prefix, "cells", n_buckets)


def _assign_cells(emb: DataFrame, cents_t: DataFrame, carry_cols: tuple[str, ...]) -> DataFrame:
    """Nearest-centroid cell assignment of (vec_id, q, nrm) vectors under
    a broadcast quantizer — shared by the one-shot build and the ingest
    append (both must place a vector identically for the
    append == rebuild contract to hold)."""
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("cent_cos").desc(), F.col("cent_id"))
    return (
        emb.join(F.broadcast(cents_t), F.lit(True))
        .withColumn("cent_cos", _cos_to_cent() / (F.col("nrm") * F.col("nc")))
        .withColumn("cent_rank", F.row_number().over(w_assign))
        .filter(F.col("cent_rank") == 1)
        .select(
            F.col("cent_id").alias("cell"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("q").alias("qb"),
            F.col("nrm").alias("nb"),
            *[F.col(c) for c in carry_cols],
        )
    )


def append_to_ivf_index(
    emb: DataFrame, *, prefix: str, carry_cols: tuple[str, ...] = ()
) -> None:
    """ACCEPT a vector batch into the persisted index — the ingest step
    a production vector store runs between (re)trains: assign the new
    vectors under the FROZEN quantizer already in `{prefix}_cents`
    (never retrain at ingest; drifting centroids would silently split
    cells between old and new residents) and append their inverted-list
    rows as additional bucketed files. Per-append cost is
    |batch| x |cents| assignment work + a bucketed write — independent
    of index size, no rebuild, bucket pruning preserved.

    Equivalence contract (tests/test_ivf_index.py): probing after
    append(B) is byte-identical to probing an index BUILT from
    corpus + B in one shot under the SAME quantizer — assignment is a
    per-vector function of the frozen centroids, so append-grown and
    rebuilt indexes are interchangeable until the next re-train (cell
    balance after drift is the re-train/compaction trigger, exactly
    like the LSH cap)."""
    spark = emb.sparkSession
    TABLES.require(spark, prefix)
    assigned = _assign_cells(emb, spark.table(f"{prefix}_cents"), carry_cols)
    TABLES.append(assigned, prefix, "cells")


def compact_ivf_index(spark: SparkSession, *, prefix: str) -> dict:
    """Periodic index maintenance — one scan of the inverted lists,
    never of the corpus (the IVF sibling of compact_lsh_index): DEDUP
    the cells table, healing duplicate rows from retried at-least-once
    appends. Unlike the LSH tables — where duplicates only inflate
    counts — a duplicated inverted-list row puts the SAME neighbor into
    a probe's ranking twice: the duplicate occupies a top-k slot and
    evicts a genuine neighbor, so probe results are wrong (not merely
    noisy) until the heal runs. Full-row distinct is exactly the dup
    class appends can create: assignment under the frozen quantizer is
    a pure function of the vector, so a retried batch reproduces its
    rows byte-identically.

    Also reports the cell-balance scalars that trigger a re-train
    (append's contract: the quantizer is frozen at ingest, so corpus
    drift shows up as cell imbalance — when max_cell far outgrows
    mean_cell the quantizer has gone stale; re-train and rebuild).
    Returns driver-bounded scalars: {rows_before, rows_after, n_cells,
    max_cell, mean_cell}."""
    TABLES.require(spark, prefix)
    rows_before = spark.table(f"{prefix}_cells").count()
    TABLES.dedup(spark, prefix, "cells")
    stats = occupancy(spark.table(f"{prefix}_cells"), "cell")
    return {
        "rows_before": int(rows_before),
        "rows_after": int(stats["rows"]),
        "n_cells": int(stats["groups"]),
        "max_cell": int(stats["max"]),
        "mean_cell": float(stats["mean"]),
    }


def _probe_cells_vectorized(queries: DataFrame, cents_t: DataFrame, nprobe: int) -> DataFrame:
    """Query-side quantizer ranking as one numpy matmul per Arrow batch
    — the `_ivf_assign` pattern applied to the persisted-index probe:
    the broadcast quantizer is <= CENTROID_MAX_K rows by construction,
    integer dots are exact in float64, and a STABLE argsort on -cos over cent_id-ascending columns reproduces
    the (cent_cos desc, cent_id) row_number order bit-for-bit (the
    dual-path test in tests/test_ivf_index.py). Zero norms raise — NaN
    cosines order differently across the two physical paths."""
    import numpy as np
    from pyspark.sql import types as T

    from ..functions.cachepool import managed_broadcast

    spark = queries.sparkSession
    c_rows = cents_t.orderBy("cent_id").collect()
    if any(r.nc == 0 for r in c_rows):
        raise ValueError("probe_ivf_index: zero-norm centroid")
    c_ids = np.array([r.cent_id for r in c_rows], dtype=np.int64)
    c_mat = np.array([r.qc for r in c_rows], dtype=np.float64)
    c_nrm = np.array([r.nc for r in c_rows], dtype=np.float64)
    bc = managed_broadcast(spark.sparkContext, (c_ids, c_mat, c_nrm))
    out_schema = T.StructType([
        T.StructField("cell", T.LongType()),
        T.StructField("query_id", T.LongType()),
        T.StructField("qa", T.ArrayType(T.LongType())),
        T.StructField("na", T.DoubleType()),
    ])
    n_probe = nprobe

    def probe_batches(batches):
        ids, mat, nrm = bc.value
        npb = min(n_probe, len(ids))
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.array(list(pdf["q"]), dtype=np.float64)
            v_nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            if (v_nrm == 0).any():
                raise ValueError("probe_ivf_index: zero-norm query vector")
            cos = (v @ mat.T) / np.outer(v_nrm, nrm)
            order = np.argsort(-cos, axis=1, kind="stable")[:, :npb]
            rows = np.repeat(np.arange(len(pdf)), npb)
            out = pdf.iloc[rows].reset_index(drop=True)
            out = out.rename(columns={"vec_id": "query_id", "q": "qa", "nrm": "na"})
            out["cell"] = ids[order.ravel()]
            yield out[["cell", "query_id", "qa", "na"]]

    return queries.select("vec_id", "q", "nrm").mapInPandas(probe_batches, out_schema)


def probe_ivf_index(
    spark: SparkSession,
    queries: DataFrame,
    *,
    prefix: str,
    nprobe: int = NPROBE,
    label: int | None = None,
    vectorized: bool = True,
) -> DataFrame:
    """Top-k approximate cosine neighbors for `queries` (vec_id, q, nrm)
    against the persisted index: each query ranks the broadcast quantizer,
    probes its `nprobe` nearest cells' inverted lists (bucketed equi-join
    on cell — the index never shuffles), and ranks candidates by exact
    quantized cosine. Output schema matches ann_ivf_topk.

    `label=` is the persisted-index FILTERED probe (requires the index
    built with carry_cols=("label",)): the predicate lands on the
    inverted-list PARQUET SCAN itself (PushedFilters — asserted in
    tests/test_ivf_index.py), so a selective filter reduces index I/O,
    not just candidate count. This is the scan-side complement of
    ann_filtered_topk's join-key pre-filter; pass a wider `nprobe`
    (FILTERED_NPROBE) to pay for the thinner cells — the measured
    recall ladder at FILTERED_NPROBE's definition applies unchanged."""
    TABLES.require(spark, prefix)
    cents = spark.table(f"{prefix}_cents")
    if vectorized:
        probes = _probe_cells_vectorized(queries, cents, nprobe)
    else:
        w_probe = Window.partitionBy("vec_id").orderBy(
            F.col("cent_cos").desc(), F.col("cent_id")
        )
        # symmetric with _probe_cells_vectorized's zero-norm raise: a
        # NaN cent_cos orders differently across the two physical paths
        guarded = queries.where(
            F.assert_true(
                F.col("nrm") != 0,
                F.concat(
                    F.lit("probe_ivf_index: zero-norm query vector vec_id="),
                    F.col("vec_id").cast("string"),
                ),
            ).isNull()
        )
        probes = (
            guarded.join(F.broadcast(cents), F.lit(True))
            .withColumn("cent_cos", _cos_to_cent() / (F.col("nrm") * F.col("nc")))
            .withColumn("cent_rank", F.row_number().over(w_probe))
            .filter(F.col("cent_rank") <= nprobe)
            .select(
                F.col("cent_id").alias("cell"),
                F.col("vec_id").alias("query_id"),
                F.col("q").alias("qa"),
                F.col("nrm").alias("na"),
            )
        )
    cells = spark.table(f"{prefix}_cells")
    if label is not None:
        cells = cells.filter(F.col("label") == F.lit(label)).drop("label")
    cos = F.expr(_SPARK_PAIR_DOT).cast("double") / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_raw").desc(), F.col("neighbor_id"))
    return (
        probes.join(cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_raw", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            roundn(F.col("cosine_raw") + 1.0, 6).alias("cosine_p1"),
        )
        .orderBy("query_id", "rank")
    )
