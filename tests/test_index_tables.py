"""Shared catalog-table lifecycle (plans/index_tables.py), exercised through
all five persisted index kinds: a staged swap that crashed between drop
and rename heals at the next probe, a missing table fails loudly at every
entry point, and a compaction on one session keeps the rows another
session appended."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prueba_tecnica_http_client_etl_spark.functions.cachepool import drain
from prueba_tecnica_http_client_etl_spark.operators.dedup import docs_normalized
from prueba_tecnica_http_client_etl_spark.operators.multimodal import (
    SPARK_PH_PROBE_COND,
    _phash_sigs,
    _video_fhd,
)
from prueba_tecnica_http_client_etl_spark.operators.similarity import QUERY_STRIDE, _quantized
from prueba_tecnica_http_client_etl_spark.plans import index_tables as IT
from prueba_tecnica_http_client_etl_spark.plans import ivf_index as IVF
from prueba_tecnica_http_client_etl_spark.plans import lsh_index as LI
from prueba_tecnica_http_client_etl_spark.plans import phash_index as PI
from prueba_tecnica_http_client_etl_spark.plans import pq_index as PQI
from prueba_tecnica_http_client_etl_spark.plans import video_index as VI
from tests.conftest import SF_SMOKE


def _docs(spark):
    docs = docs_normalized(spark, SF_SMOKE).select("doc_id", "norm", "sh")
    part = F.col("doc_id") % 3
    return docs.filter(part == 0), docs.filter(part == 1), docs.filter(part == 2)


def _vectors(modulus):
    # PQ needs a 90/10 split: its codebook trainer needs >= 416 vectors in A
    def split(spark):
        emb = _quantized(spark, SF_SMOKE)
        part = F.col("vec_id") % modulus
        queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
        return emb.filter(part != 1), emb.filter(part == 1), queries

    return split


def _perceptual(load):
    def split(spark):
        items = load(spark, SF_SMOKE)
        corpus = items.filter(~F.expr(SPARK_PH_PROBE_COND))
        part = F.col("doc_id") % 3
        return corpus.filter(part != 0), corpus.filter(part == 0), items.filter(
            F.expr(SPARK_PH_PROBE_COND)
        )

    return split


# kind -> (module, (A, B, queries) split, frozen trained tables, table to crash)
KINDS = {
    "lsh": (LI, _docs, (), "bands"),
    "ivf": (IVF, _vectors(5), ("cents",), "cells"),
    "pq": (PQI, _vectors(10), ("cents", "codebook"), "codes"),
    "phash": (PI, _perceptual(_phash_sigs), (), "pbands"),
    "video": (VI, _perceptual(_video_fhd), (), "vframes"),
}


def _op(kind, op):
    return getattr(KINDS[kind][0], op.format(kind))


def _probe(spark, kind, queries, prefix):
    rows = _op(kind, "probe_{}_index")(spark, queries, prefix=prefix).collect()
    return sorted(tuple(r) for r in rows)


def _snapshot(spark, table):
    t = spark.table(table)
    return spark.createDataFrame([tuple(r) for r in t.collect()], t.schema)


@pytest.fixture(autouse=True)
def _drain():
    yield
    drain()


@pytest.mark.parametrize("kind", KINDS)
def test_crashed_swap_self_heals_on_next_probe(spark, kind):
    """A staged swap's one real crash window is between its DROP and
    RENAME steps: the original table is gone but the stage table holds
    the complete rewrite. Any index entry point must then heal (rename
    the stage into place) instead of failing 'build the index first' —
    and the healed index must probe byte-identically. Without a stage to
    heal, probe, append and compact all fail loudly."""
    module, split, _, suffix = KINDS[kind]
    a, _, queries = split(spark)
    prefix = f"t_crash_{kind}"
    _op(kind, "build_{}_index")(a, prefix=prefix, n_buckets=4)
    want = _probe(spark, kind, queries, prefix)

    # simulate the crash: stage holds the (deduped) rewrite, original gone
    tbl = f"{prefix}_{suffix}"
    stage = tbl + IT.STAGE_SUFFIX
    n_buckets = IT.table_n_buckets(spark, tbl)
    # a previous test-session crash can leave this very stage orphaned on
    # disk — clear it the way the staged rewrite itself does
    spark.sql(f"DROP TABLE IF EXISTS `{stage}`")
    IT.clear_orphaned_location(spark, stage)
    spark.table(tbl).distinct().write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, module.TABLES.buckets[suffix]
    ).saveAsTable(stage)
    spark.sql(f"DROP TABLE `{tbl}`")
    assert not spark.catalog.tableExists(f"`{tbl}`")

    assert _probe(spark, kind, queries, prefix) == want
    # healed: the table is back under its real name, stage consumed
    assert spark.catalog.tableExists(f"`{tbl}`")
    assert not spark.catalog.tableExists(f"`{stage}`")
    # and the healed table still reads bucketed (the rename kept the spec)
    assert IT.table_n_buckets(spark, tbl) == n_buckets

    nope = f"t_nope_{kind}"
    with pytest.raises(ValueError, match="missing tables"):
        _probe(spark, kind, queries, nope)
    with pytest.raises(ValueError, match="missing tables"):
        _op(kind, "append_to_{}_index")(a, prefix=nope)
    with pytest.raises(ValueError, match="missing tables"):
        _op(kind, "compact_{}_index")(spark, prefix=nope)


@pytest.mark.parametrize("kind", KINDS)
def test_compact_keeps_rows_appended_from_another_session(spark, kind):
    """The streaming ingest loop appends from foreachBatch, which runs on
    a cloned session, and compacts on the main one. The main session has
    already read the index (it probed), so its cached file listing
    predates the append; compaction must still rewrite every row, and
    probing afterwards must equal a one-shot build of A + B (under the
    same frozen quantizer/codebook for IVF and PQ)."""
    _, split, frozen, _ = KINDS[kind]
    a, b, queries = split(spark)
    prefix = f"t_xsess_{kind}"
    _op(kind, "build_{}_index")(a, prefix=prefix, n_buckets=4)
    before = _probe(spark, kind, queries, prefix)

    other = spark.newSession()
    b_other = other.createDataFrame([tuple(r) for r in b.collect()], b.schema)
    _op(kind, "append_to_{}_index")(b_other, prefix=prefix)
    _op(kind, "compact_{}_index")(spark, prefix=prefix)
    got = _probe(spark, kind, queries, prefix)

    artifacts = {s: _snapshot(spark, f"{prefix}_{s}") for s in frozen}
    ref = f"{prefix}_ref"
    _op(kind, "build_{}_index")(a.unionByName(b), prefix=ref, n_buckets=4, **artifacts)
    want = _probe(spark, kind, queries, ref)
    assert before != want, "fixture: the appended batch must change some probe result"
    assert got == want
