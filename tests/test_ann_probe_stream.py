"""Streaming ANN probe of the persisted IVF-PQ code index: multi-batch
top-k must be byte-equal to the one-shot batch tier (ann_ivfpq_rerank),
and replay must be idempotent — the per-query purity contract the
registry oracle relies on."""

from __future__ import annotations

from pyspark.sql import functions as F

from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain
from prueba_tecnica_http_client_etl_spark.operators.similarity import (
    QUERY_STRIDE,
    _quantized,
    ann_ivfpq_rerank,
)
from prueba_tecnica_http_client_etl_spark.plans.pq_index import build_pq_index
from prueba_tecnica_http_client_etl_spark.streaming.ann_probe_stream import (
    run_ann_probe,
)
from tests.conftest import SF_SMOKE

PREFIX = "t_annprobe_ix"


def _stage_queries(spark, tmp_path, n_files=4):
    from prueba_tecnica_http_client_etl_spark.schemas import load_table

    path = str(tmp_path / "queries")
    (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") % QUERY_STRIDE == 0)
        .select("vec_id")
        .repartition(n_files)
        .write.mode("overwrite")
        .json(path)
    )
    return path


def _ensure_index(spark):
    from prueba_tecnica_http_client_etl_spark.plans.pq_index import TABLES

    if not TABLES.exists(spark, PREFIX):
        build_pq_index(_quantized(spark, SF_SMOKE), prefix=PREFIX, n_buckets=4)


def test_multi_batch_equals_batch_rerank_tier(spark, tmp_path):
    """one_file_per_batch forces >1 micro-batch; the neighbor union must
    still be byte-identical to ann_ivfpq_rerank — each query's top-k is
    a pure function of its vector and the FROZEN index."""
    _ensure_index(spark)
    inp = _stage_queries(spark, tmp_path)
    out = run_ann_probe(
        spark,
        inp,
        str(tmp_path / "out"),
        prefix=PREFIX,
        checkpoint=str(tmp_path / "ckpt"),
        one_file_per_batch=True,
    )
    assert out.select("batch_id").distinct().count() > 1, "stream must run multi-batch"
    got = sorted(
        tuple(r)
        for r in out.select("query_id", "neighbor_id", "rank", "cosine_p1").collect()
    )
    want = sorted(tuple(r) for r in ann_ivfpq_rerank(spark, SF_SMOKE).collect())
    assert got == want and got
    drain()


def test_replay_is_idempotent(spark, tmp_path):
    _ensure_index(spark)
    inp = _stage_queries(spark, tmp_path)
    out1 = run_ann_probe(
        spark, inp, str(tmp_path / "o1"), prefix=PREFIX, checkpoint=str(tmp_path / "c1")
    )
    rows1 = sorted(tuple(r) for r in out1.drop("batch_id").collect())
    out2 = run_ann_probe(
        spark, inp, str(tmp_path / "o1"), prefix=PREFIX, checkpoint=str(tmp_path / "c2")
    )
    rows2 = sorted(tuple(r) for r in out2.drop("batch_id").collect())
    assert rows1 == rows2 and rows1
    drain()
