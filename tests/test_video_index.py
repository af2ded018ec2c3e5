"""Persisted video frame-fingerprint index (plans/video_index.py): the
probe must reproduce the streaming containment probe's verdicts exactly,
read the index bucketed, grow by whole-video appends without diverging
from a one-shot rebuild, and fail loudly on a missing prefix."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prueba_tecnica_http_client_etl_spark.operators.multimodal import (
    SPARK_PH_PROBE_COND,
    _video_fhd,
)
from prueba_tecnica_http_client_etl_spark.plans import video_index as VI
from prueba_tecnica_http_client_etl_spark.schemas import load_table
from prueba_tecnica_http_client_etl_spark.streaming.video_probe_stream import (
    probe_video_batch,
)
from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def split_fhd(spark):
    fhd = _video_fhd(spark, SF_SMOKE)
    corpus = fhd.filter(~F.expr(SPARK_PH_PROBE_COND)).localCheckpoint(eager=True)
    arrivals = fhd.filter(F.expr(SPARK_PH_PROBE_COND)).localCheckpoint(eager=True)
    return corpus, arrivals


def test_probe_matches_streaming_probe(spark, split_fhd):
    """The persisted index serves the EXACT verdicts the in-session
    frozen-frame path serves — both branches included."""
    corpus, arrivals = split_fhd
    VI.build_video_index(corpus, prefix="t_vidx", n_buckets=4)
    got = _rows(VI.probe_video_index(spark, arrivals, prefix="t_vidx"))
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    want = _rows(
        probe_video_batch(
            load_table(spark, SF_SMOKE, "documents")
            .filter(F.expr(SPARK_PH_PROBE_COND))
            .select("doc_id"),
            corpus,
            sizes,
        )
    )
    assert got == want
    verdicts = {v for _, v, _, _ in got}
    assert verdicts == {"near_dup", "novel"}, verdicts


def test_probe_reads_bucketed_index(spark, split_fhd):
    corpus, arrivals = split_fhd
    VI.build_video_index(corpus, prefix="t_vidx_b", n_buckets=4)
    plan = (
        VI.probe_video_index(spark, arrivals, prefix="t_vidx_b")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SelectedBucketsCount" in plan, plan


def test_append_grown_equals_one_shot(spark, split_fhd):
    """probe(build(A) + append(B)) == probe(build(A + B)) when appends
    carry whole videos (the ingest contract)."""
    corpus, arrivals = split_fhd
    a = corpus.filter(F.col("doc_id") % 3 != 0)
    b = corpus.filter(F.col("doc_id") % 3 == 0)
    VI.build_video_index(a, prefix="t_vidx_grow", n_buckets=4)
    VI.append_to_video_index(b, prefix="t_vidx_grow")
    VI.build_video_index(corpus, prefix="t_vidx_oneshot", n_buckets=4)
    got = _rows(VI.probe_video_index(spark, arrivals, prefix="t_vidx_grow"))
    want = _rows(VI.probe_video_index(spark, arrivals, prefix="t_vidx_oneshot"))
    assert got == want
    plan = (
        VI.probe_video_index(spark, arrivals, prefix="t_vidx_grow")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SelectedBucketsCount" in plan, plan


def test_missing_index_fails_loudly(spark, split_fhd):
    corpus, arrivals = split_fhd
    with pytest.raises(ValueError, match="missing tables"):
        VI.probe_video_index(spark, arrivals, prefix="t_vidx_nope")
    with pytest.raises(ValueError, match="missing tables"):
        VI.append_to_video_index(corpus, prefix="t_vidx_nope")
    with pytest.raises(ValueError, match="missing tables"):
        VI.compact_video_index(spark, prefix="t_vidx_nope")


def _append_frames_only(spark, fhd, prefix):
    """Simulate the crash-between-writes / partial-retry artifact: frame
    rows land in vframes with NO matching vsizes write (the exact state
    append_to_video_index leaves behind when it dies between its two
    non-atomic saveAsTable calls)."""
    from prueba_tecnica_http_client_etl_spark.plans.index_tables import table_n_buckets

    fhd.select("doc_id", "fh").write.mode("append").format("parquet").bucketBy(
        table_n_buckets(spark, f"{prefix}_vframes"), "fh"
    ).saveAsTable(f"{prefix}_vframes")


def test_retried_append_does_not_inflate_containment(spark, split_fhd):
    """ADVICE r17 (medium): at-least-once appends can duplicate
    (doc_id, fh) rows; verdicts and best_containment must not move —
    a doubled frame row must not falsely clear the 7/10 threshold or
    push containment past 1.0. Covers both the full-retry (frames AND
    sizes doubled) and the partial-retry (frames doubled, sizes already
    present) shapes."""
    corpus, arrivals = split_fhd
    a = corpus.filter(F.col("doc_id") % 3 != 0)
    b = corpus.filter(F.col("doc_id") % 3 == 0)
    VI.build_video_index(a, prefix="t_vidx_retry", n_buckets=4)
    VI.append_to_video_index(b, prefix="t_vidx_retry")
    VI.append_to_video_index(b, prefix="t_vidx_retry")  # full retry
    _append_frames_only(spark, b, "t_vidx_retry")  # partial retry
    VI.build_video_index(corpus, prefix="t_vidx_clean", n_buckets=4)
    got = _rows(VI.probe_video_index(spark, arrivals, prefix="t_vidx_retry"))
    want = _rows(VI.probe_video_index(spark, arrivals, prefix="t_vidx_clean"))
    assert got == want
    assert all(bc is None or bc <= 1.0 for _, _, _, bc in got)


def test_partial_append_detected_loudly(spark, split_fhd):
    """ADVICE r17 (low): a video present in vframes but absent from
    vsizes (crash between the two append writes) must raise when it
    becomes a candidate — never silently read as 'novel'."""
    corpus, arrivals = split_fhd
    VI.build_video_index(corpus, prefix="t_vidx_torn", n_buckets=4)
    # orphan: a synthetic video sharing every frame of one arrival, so
    # it is guaranteed to surface as a candidate for that arrival
    one = arrivals.select("doc_id").distinct().orderBy("doc_id").limit(1)
    orphan = arrivals.join(one, "doc_id").select(
        (F.lit(10**9) + F.col("doc_id")).alias("doc_id"), "fh"
    )
    _append_frames_only(spark, orphan, "t_vidx_torn")
    with pytest.raises(Exception, match="no vsizes row"):
        VI.probe_video_index(spark, arrivals, prefix="t_vidx_torn").collect()


def test_compact_heals_torn_and_retried_appends(spark, split_fhd):
    """compact_video_index is the heal: distinct the frames, re-derive
    the sizes FROM the frames. After a retried append (duplicates in
    both tables) AND a torn append (frames with no sizes row — which
    the probe refuses loudly), one compaction must leave the index
    byte-equal to a one-shot rebuild from the same videos, with the
    bucketed probe reads intact and sane monitor scalars."""
    corpus, arrivals = split_fhd
    part = F.col("doc_id") % 3
    a, b, c = corpus.filter(part == 1), corpus.filter(part == 2), corpus.filter(part == 0)
    VI.build_video_index(a, prefix="t_vidx_heal", n_buckets=4)
    VI.append_to_video_index(b, prefix="t_vidx_heal")
    VI.append_to_video_index(b, prefix="t_vidx_heal")  # retry duplicates
    _append_frames_only(spark, c, "t_vidx_heal")  # torn append
    with pytest.raises(Exception, match="no vsizes row"):
        VI.probe_video_index(spark, arrivals, prefix="t_vidx_heal").collect()

    stats = VI.compact_video_index(spark, prefix="t_vidx_heal")
    VI.build_video_index(corpus, prefix="t_vidx_heal_ref", n_buckets=4)
    got = _rows(VI.probe_video_index(spark, arrivals, prefix="t_vidx_heal"))
    want = _rows(VI.probe_video_index(spark, arrivals, prefix="t_vidx_heal_ref"))
    assert got == want
    assert stats["rows_before"] > stats["rows_after"]
    assert stats["rows_after"] == spark.table("t_vidx_heal_ref_vframes").count()
    assert stats["n_videos"] == corpus.select("doc_id").distinct().count()
    assert stats["max_fh_df"] >= stats["mean_fh_df"] > 0
    assert stats["max_frames"] >= 1
    plan = (
        VI.probe_video_index(spark, arrivals, prefix="t_vidx_heal")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SelectedBucketsCount" in plan, plan
