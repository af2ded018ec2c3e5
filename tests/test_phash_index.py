"""Persisted perceptual-signature index (plans/phash_index.py): the
probe must reproduce the streaming probe's verdicts exactly, read the
index bucketed (no index-side shuffle), grow by append without
diverging from a one-shot rebuild, and fail loudly on a missing
prefix."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prueba_tecnica_http_client_etl_spark.operators.multimodal import (
    SPARK_PH_PROBE_COND,
    _audio_fp_sigs,
    _phash_bands,
    _phash_sigs,
)
from prueba_tecnica_http_client_etl_spark.plans import phash_index as PI
from prueba_tecnica_http_client_etl_spark.streaming.image_probe_stream import (
    probe_phash_batch,
)
from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def split_sigs(spark):
    sigs = _phash_sigs(spark, SF_SMOKE)
    arrivals = sigs.filter(F.expr(SPARK_PH_PROBE_COND))
    corpus = sigs.filter(~F.expr(SPARK_PH_PROBE_COND))
    return corpus, arrivals


def test_probe_matches_streaming_probe(spark, split_sigs):
    """The persisted index serves the EXACT verdicts the in-session
    artifact path serves — all three branches included."""
    corpus, arrivals = split_sigs
    PI.build_phash_index(corpus, prefix="t_pidx", n_buckets=4)
    got = _rows(PI.probe_phash_index(spark, arrivals, prefix="t_pidx"))
    # the streaming probe decodes from doc_ids; feed it the same split
    want = _rows(
        probe_phash_batch(arrivals.select("doc_id"), _phash_bands(corpus))
    )
    assert got == want
    verdicts = {v for _, v, _, _ in got}
    assert verdicts == {"exact_dup", "near_dup", "novel"}, verdicts


def test_probe_reads_bucketed_index(spark, split_sigs):
    corpus, arrivals = split_sigs
    PI.build_phash_index(corpus, prefix="t_pidx_b", n_buckets=4)
    plan = (
        PI.probe_phash_index(spark, arrivals, prefix="t_pidx_b")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SelectedBucketsCount" in plan, plan


def test_append_grown_equals_one_shot(spark, split_sigs):
    """probe(build(A) + append(B)) == probe(build(A + B)) — byte-equal,
    no carve-outs (the index carries no build-time cap)."""
    corpus, arrivals = split_sigs
    a = corpus.filter(F.col("doc_id") % 3 != 0)
    b = corpus.filter(F.col("doc_id") % 3 == 0)
    PI.build_phash_index(a, prefix="t_pidx_grow", n_buckets=4)
    PI.append_to_phash_index(b, prefix="t_pidx_grow")
    PI.build_phash_index(corpus, prefix="t_pidx_oneshot", n_buckets=4)
    got = _rows(PI.probe_phash_index(spark, arrivals, prefix="t_pidx_grow"))
    want = _rows(PI.probe_phash_index(spark, arrivals, prefix="t_pidx_oneshot"))
    assert got == want
    # appends keep the bucketed layout: the probe still bucket-prunes
    plan = (
        PI.probe_phash_index(spark, arrivals, prefix="t_pidx_grow")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SelectedBucketsCount" in plan, plan


def test_audio_sigs_ride_the_same_module(spark):
    """The audio envelope signatures build and probe through the same
    lifecycle — prefix is the only difference between modalities."""
    sigs = _audio_fp_sigs(spark, SF_SMOKE)
    corpus = sigs.filter(~F.expr(SPARK_PH_PROBE_COND))
    arrivals = sigs.filter(F.expr(SPARK_PH_PROBE_COND))
    PI.build_phash_index(corpus, prefix="t_pidx_audio", n_buckets=4)
    got = _rows(PI.probe_phash_index(spark, arrivals, prefix="t_pidx_audio"))
    want = _rows(
        probe_phash_batch(
            arrivals.select("doc_id"),
            _phash_bands(corpus),
            sig_batches=__import__(
                "prueba_tecnica_http_client_etl_spark.operators.multimodal",
                fromlist=["_audio_fp_batches"],
            )._audio_fp_batches,
        )
    )
    assert got == want


def test_missing_index_fails_loudly(spark, split_sigs):
    corpus, arrivals = split_sigs
    with pytest.raises(ValueError, match="missing tables"):
        PI.probe_phash_index(spark, arrivals, prefix="t_pidx_nope")
    with pytest.raises(ValueError, match="missing tables"):
        PI.append_to_phash_index(corpus, prefix="t_pidx_nope")
    with pytest.raises(ValueError, match="missing tables"):
        PI.compact_phash_index(spark, prefix="t_pidx_nope")


def test_compact_reclaims_retry_duplicates(spark, split_sigs):
    """A retried append duplicates band rows — harmless to verdicts (the
    probe candidate set is distinct) but real storage/join-volume waste.
    compact_phash_index must restore the distinct rowcount, keep probes
    byte-identical and bucketed, and report the band-occupancy monitor."""
    corpus, arrivals = split_sigs
    a = corpus.filter(F.col("doc_id") % 3 != 0)
    b = corpus.filter(F.col("doc_id") % 3 == 0)
    PI.build_phash_index(a, prefix="t_pidx_cmp", n_buckets=4)
    PI.append_to_phash_index(b, prefix="t_pidx_cmp")
    want = _rows(PI.probe_phash_index(spark, arrivals, prefix="t_pidx_cmp"))
    clean_rows = spark.table("t_pidx_cmp_pbands").count()

    PI.append_to_phash_index(b, prefix="t_pidx_cmp")  # the retry
    assert spark.table("t_pidx_cmp_pbands").count() > clean_rows
    assert _rows(PI.probe_phash_index(spark, arrivals, prefix="t_pidx_cmp")) == want

    stats = PI.compact_phash_index(spark, prefix="t_pidx_cmp")
    assert stats["rows_after"] == clean_rows < stats["rows_before"]
    assert stats["max_bucket"] >= stats["mean_bucket"] > 0
    assert _rows(PI.probe_phash_index(spark, arrivals, prefix="t_pidx_cmp")) == want
    plan = (
        PI.probe_phash_index(spark, arrivals, prefix="t_pidx_cmp")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SelectedBucketsCount" in plan, plan
