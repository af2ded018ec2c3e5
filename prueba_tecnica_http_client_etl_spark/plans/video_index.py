"""Persisted video frame-fingerprint index lifecycle — the durable form
of the frozen state the video containment probe stream reads, completing
index-lifecycle coverage for all three perceptual modalities (image /
audio: plans/phash_index.py; video: this module).

    build_video_index(fhd, prefix="vid")               # once / re-build
    probe_video_index(spark, batch_fhd, prefix="vid")  # per batch
    append_to_video_index(novel_fhd, prefix="vid")     # accept novel
    compact_video_index(spark, prefix="vid")           # periodic heal

Two catalog tables, each bucketed on its probe key:

- `{prefix}_vframes` (doc_id, fh)  bucketed by fh   (the inverted index)
- `{prefix}_vsizes`  (doc_id, n)   bucketed by doc_id

The sizes table is DERIVED state (distinct-frame count per video) kept
alongside the frames so a probe never re-aggregates the whole index:
appends write the batch's own sizes, and because a video's frames are
ingested atomically (one append call carries whole videos), per-video
counts never need merging across appends — the equivalence test pins
probe(build(A) + append(B)) == probe(build(A + B)) byte-for-byte.

Like the probe stream (streaming/video_probe_stream.py), the index is
deliberately UNVALVED: a probe against a hot fingerprint's bucket costs
its membership per arriving video (linear, not the s^2 batch-pair
blowup operators/multimodal.py's _VID_FH_MAX_DF valve refuses), and an
arriving re-upload should see its verdict against boilerplate-heavy
index videos rather than a silent 'novel'. At 100 TB the frame table
holds ~24 two-long rows per video; per-batch probe cost is
|batch frames| bucketed lookups plus a bounded per-candidate aggregate,
independent of corpus size.

Reference: no counterpart (SURVEY.md §2.8 multimodal tier). The
catalog-table mechanics live in plans/index_tables.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import _VID_CONTAIN_DEN, _VID_CONTAIN_NUM
from .index_tables import IndexTables, occupancy

TABLES = IndexTables(vframes="fh", vsizes="doc_id")


def _sizes(frames: DataFrame) -> DataFrame:
    """(doc_id, n): distinct-frame count per video of a distinct frame table."""
    return frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))


def build_video_index(fhd: DataFrame, *, prefix: str, n_buckets: int = 8) -> None:
    """Materialize the two index tables for `fhd`, a DISTINCT
    (doc_id, fh) frame-fingerprint table (operators/multimodal.py
    _video_fhd is the canonical producer). Rebuild-in-place is safe:
    saveAsTable(overwrite) swaps atomically and an orphaned location
    from a crashed build is cleared first."""
    TABLES.clear_orphans(fhd.sparkSession, prefix)
    d = fhd.select("doc_id", "fh").persist()
    try:
        TABLES.write(d, prefix, "vframes", n_buckets)
        TABLES.write(_sizes(d), prefix, "vsizes", n_buckets)
    finally:
        d.unpersist()


def append_to_video_index(fhd: DataFrame, *, prefix: str) -> None:
    """ACCEPT a probed batch (whole videos — a video's frames must all
    ride one append, which is what the ingest loop naturally does) into
    the index. At-least-once like every index append here, and the
    probe is built to survive both retry artifacts: a retried append can
    duplicate frame rows (the probe counts shared frames with
    countDistinct, so duplicates cannot inflate ns past the true
    distinct count) and duplicate size rows (the probe max-collapses
    sizes per video — duplicates carry equal n under the whole-video
    contract). The two writes are NOT atomic: a crash between them
    leaves videos present in vframes with no vsizes row, and the probe
    detects that loudly (raise_error on any candidate missing its size)
    instead of silently dropping the video from candidacy;
    compact_video_index is the heal."""
    TABLES.require(fhd.sparkSession, prefix)
    d = fhd.select("doc_id", "fh").persist()
    try:
        TABLES.append(d, prefix, "vframes")
        TABLES.append(_sizes(d), prefix, "vsizes")
    finally:
        d.unpersist()


def compact_video_index(spark: SparkSession, *, prefix: str) -> dict:
    """Periodic maintenance AND the torn-append heal — one scan of the
    frame table, never of the corpus: DISTINCT the frames (retried
    at-least-once appends duplicate rows; the hardened probe already
    neutralizes them via countDistinct, so this reclaims storage and
    probe-join input volume), then RE-DERIVE the sizes table from the
    healed frames — sizes are derived state (distinct-frame count per
    video), so recomputing them both collapses duplicated size rows and
    heals the torn state a crash between append's two writes leaves
    (videos in vframes with no vsizes row, which the probe detects
    loudly): after compaction the index is byte-equal to a one-shot
    rebuild from the same videos, with no corpus access. Frames are
    rewritten before sizes: a crash between the two leaves sizes that
    the next compaction re-derives.

    Also reports the hot-fingerprint scalars — probes cost a
    fingerprint's bucket membership per arriving video, so max_fh_df is
    this index's probe-cost monitor (the persisted twin of the batch
    tier's _VID_FH_MAX_DF valve decision). Returns {rows_before,
    rows_after, n_videos, max_frames, max_fh_df, mean_fh_df}."""
    TABLES.require(spark, prefix)
    rows_before = spark.table(f"{prefix}_vframes").count()
    TABLES.dedup(spark, prefix, "vframes")
    TABLES.rewrite(_sizes(spark.table(f"{prefix}_vframes")), prefix, "vsizes")
    stats = occupancy(spark.table(f"{prefix}_vframes"), "fh")
    vstats = (
        spark.table(f"{prefix}_vsizes")
        .agg(F.count(F.lit(1)).alias("n_videos"), F.max("n").alias("max_frames"))
        .collect()[0]
    )
    return {
        "rows_before": int(rows_before),
        "rows_after": int(stats["rows"]),
        "n_videos": int(vstats["n_videos"]),
        "max_frames": int(vstats["max_frames"]),
        "max_fh_df": int(stats["max"]),
        "mean_fh_df": float(stats["mean"]),
    }


def probe_video_index(
    spark: SparkSession, fhd: DataFrame, *, prefix: str, ordered: bool = True
) -> DataFrame:
    """Containment verdict per batch video against the persisted index:
    near_dup when some index video clears the exact rational threshold
    on shared distinct frames, else novel — the streaming probe's
    verdict semantics and schema verbatim ((doc_id, verdict,
    n_candidates, best_containment); the probe-vs-stream equality is
    the contract test). Only the batch side shuffles: the candidate
    join hits the frame table bucketed on fh.

    Retry/crash hardening: shared frames are counted with
    countDistinct and index sizes max-collapsed per video, so an
    at-least-once append's duplicated rows cannot inflate ns (which
    could falsely clear the 7/10 threshold or push best_containment
    past 1.0) or ixn; a candidate present in vframes but missing from
    vsizes (crash between the two non-atomic append writes) raises
    loudly instead of the inner join silently reading it as 'novel'.
    The missing-size guard is an assert_true inside a FILTER, not a
    raised expression in a projection: projection expressions over an
    outer join's null-padded rows are evaluated (or not) depending on
    the physical join AQE picks, while a filter must evaluate its predicate per row; the left-side
    disjunct keeps EliminateOuterJoin from rewriting the left join to
    inner (which would silently drop the torn rows). Both guards ride
    the existing joins — no extra scan of the index, which is what
    keeps the probe viable when the frame table is petabyte-scale.
    probe_video_batch (the streaming twin) keeps plain counts: its
    index inputs are frozen in-session DISTINCT DataFrames, not
    at-least-once-appended tables."""
    from ..functions.cachepool import managed_persist
    from ..functions.portable import roundn

    TABLES.require(spark, prefix)
    inc = managed_persist(fhd.select("doc_id", "fh").distinct())
    pn = inc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("pn"))
    ix = spark.table(f"{prefix}_vframes").select(F.col("doc_id").alias("ix_id"), "fh")
    inn = (
        spark.table(f"{prefix}_vsizes")
        .groupBy(F.col("doc_id").alias("ix_id"))
        .agg(F.max("n").alias("ixn"))
    )
    shared = (
        inc.join(ix, "fh")
        .groupBy("doc_id", "ix_id")
        .agg(F.countDistinct("fh").alias("ns"))
    )
    missing_msg = F.concat(
        F.lit(f"video index '{prefix}' inconsistent: candidate video "),
        F.col("ix_id").cast("string"),
        F.lit(
            " has frames in vframes but no vsizes row "
            "(partial append?) — rebuild the index"
        ),
    )
    scored = (
        shared.join(pn, "doc_id")
        .join(inn, "ix_id", "left")
        .where(
            F.assert_true(
                F.col("ixn").isNotNull() | F.col("doc_id").isNull(), missing_msg
            ).isNull()
        )
        .select("doc_id", "ns", F.least("pn", "ixn").alias("mn"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max(F.col("ns").cast("double") / F.col("mn").cast("double")).alias("best_raw"),
        F.max(
            (F.col("ns") * _VID_CONTAIN_DEN >= F.col("mn") * _VID_CONTAIN_NUM).cast("int")
        ).alias("has_near"),
    )
    out = (
        inc.select("doc_id")
        .distinct()
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("has_near") == 1, F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long").alias("n_candidates"),
            roundn(F.col("best_raw"), 4).alias("best_containment"),
        )
    )
    return out.orderBy("doc_id") if ordered else out
