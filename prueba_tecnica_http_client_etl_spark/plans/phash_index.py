"""Persisted perceptual-signature index lifecycle — the durable form of
the frozen state the image/audio probe streams read.

The streams (streaming/image_probe_stream.py) probe an in-session
artifact rebuilt once per Spark application; a production ingest loop
persists the banded signatures ONCE and amortizes them across every
session and every arriving batch:

    build_phash_index(sigs, prefix="img")               # once / re-build
    probe_phash_index(spark, batch_sigs, prefix="img")  # per batch
    append_to_phash_index(novel_sigs, prefix="img")     # accept novel
    compact_phash_index(spark, prefix="img")            # periodic heal

ONE catalog table per index, bucketed on the probe key so every
per-batch join reads the index pre-partitioned (no index-side shuffle,
ever):

- `{prefix}_pbands` (doc_id, phash, band, bv)    bucketed by bv

Both perceptual modalities ride this module unchanged — image dHash and
audio envelope fingerprints share the (doc_id, phash) signature shape
and the 56-bit / 4 x 14-bit band geometry, so the prefix is the only
difference between an image index and an audio index.

The index is deliberately UNVALVED, like the probe streams and unlike
the batch pair tiers: a probe against a band bucket of size s costs s
rows per arriving item (linear, not the s^2 pair blowup the batch valve
refuses), and an arriving black frame should see its verdict against
the index's black frames rather than silently reading 'novel'. At
100 TB the table holds 4 rows of 4 longs per item — tiny next to the
payloads — and per-batch probe cost is |batch| x _PH_BANDS bucketed
lookups, independent of corpus size.

Reference: no counterpart (SURVEY.md §2.8 multimodal tier). The
catalog-table mechanics live in plans/index_tables.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import _PH_HAMMING_K, _phash_bands
from .index_tables import IndexTables, occupancy

TABLES = IndexTables(pbands="bv")


def build_phash_index(sigs: DataFrame, *, prefix: str, n_buckets: int = 8) -> None:
    """Materialize the banded signature table for `sigs` (doc_id, phash).
    Rebuild-in-place is safe: saveAsTable(overwrite) swaps atomically at
    the catalog level, and an orphaned location from a crashed build is
    cleared first."""
    TABLES.clear_orphans(sigs.sparkSession, prefix)
    TABLES.write(_phash_bands(sigs), prefix, "pbands", n_buckets)


def append_to_phash_index(sigs: DataFrame, *, prefix: str) -> None:
    """ACCEPT a probed batch into the index — the ingest-loop step
    between probe and the next batch (keep the novel arrivals, append
    their band rows so every LATER batch probes against them too).
    Bands are derived here once; the stored rows ARE the signature
    state.

    Delivery is at-least-once, NOT atomic (one table, one append, but a
    retry can duplicate rows). Duplicates never flip a verdict — the
    probe candidate set is DISTINCT (doc, ix, pp, pi) — they only
    inflate storage until a rebuild.

    Equivalence contract (tests/test_phash_index.py): probing after
    append(B) is byte-identical to probing an index BUILT from
    corpus + B in one shot — with no build-time cap there is no
    deferred-hotness case to carve out."""
    TABLES.require(sigs.sparkSession, prefix)
    TABLES.append(_phash_bands(sigs), prefix, "pbands")


def probe_phash_index(
    spark: SparkSession, sigs: DataFrame, *, prefix: str, ordered: bool = True
) -> DataFrame:
    """Verdict per batch signature against the persisted index:
    exact_dup (an indexed item with the identical hash shares a band),
    near_dup (nearest banded candidate within _PH_HAMMING_K bits), else
    novel. Output schema and semantics match the streaming probe
    (streaming/image_probe_stream.py probe_phash_batch): (doc_id,
    verdict, n_band_candidates, min_hamming) — the probe-vs-stream
    equality is the contract test. Only the batch side shuffles: the
    candidate join hits the table bucketed on bv."""
    TABLES.require(spark, prefix)
    pb = _phash_bands(sigs).select(
        "doc_id", F.col("phash").alias("pp"), "band", "bv"
    )
    ib = spark.table(f"{prefix}_pbands").select(
        F.col("doc_id").alias("ix_id"), F.col("phash").alias("pi"), "band", "bv"
    )
    cand = pb.join(ib, ["band", "bv"]).select("doc_id", "ix_id", "pp", "pi").distinct()
    agg = cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_band_candidates"),
        F.min(F.expr("bit_count(pp ^ pi)")).cast("long").alias("min_hamming"),
    )
    out = (
        sigs.select("doc_id")
        .distinct()
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("min_hamming") == 0, F.lit("exact_dup"))
            .when(F.col("min_hamming") <= _PH_HAMMING_K, F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.coalesce(F.col("n_band_candidates"), F.lit(0)).cast("long").alias(
                "n_band_candidates"
            ),
            "min_hamming",
        )
    )
    return out.orderBy("doc_id") if ordered else out


def compact_phash_index(spark: SparkSession, *, prefix: str) -> dict:
    """Periodic maintenance — one scan of the band table, never of the
    payloads (the perceptual sibling of compact_lsh_index /
    compact_ivf_index): full-row DISTINCT reclaims the storage retried
    at-least-once appends duplicate (banding is a pure per-signature
    function, so a retried batch reproduces its rows byte-identically
    and distinct is exact; verdicts were never at risk — the probe's
    candidate set is DISTINCT — only storage and probe-join input
    volume).

    Also reports the band-bucket occupancy scalars that are this
    index's health monitor: probes cost bucket membership per arriving
    item, so a runaway max_bucket (boilerplate black frames, silence)
    is the signal to valve at the batch tier or excise upstream —
    the deliberate UNVALVED probe design makes this the number to
    watch. Returns {rows_before, rows_after, n_buckets, max_bucket,
    mean_bucket}."""
    TABLES.require(spark, prefix)
    rows_before = spark.table(f"{prefix}_pbands").count()
    TABLES.dedup(spark, prefix, "pbands")
    stats = occupancy(spark.table(f"{prefix}_pbands"), "band", "bv")
    return {
        "rows_before": int(rows_before),
        "rows_after": int(stats["rows"]),
        "n_buckets": int(stats["groups"]),
        "max_bucket": int(stats["max"]),
        "mean_bucket": float(stats["mean"]),
    }
