"""Persisted MinHash-LSH dedup index lifecycle — the production shape of
incremental deduplication.

`operators/dedup.py::dedup_incremental` demonstrates the probe DIRECTION
(new batch vs existing corpus) but, as a self-contained registry query, it
rebuilds the corpus-side signatures on every call. A real crawler ingest
loop builds the index ONCE and amortizes it over every subsequent batch:

    build_lsh_index(corpus_docs, prefix="corpus")        # once / re-build
    probe_lsh_index(spark, batch_docs, prefix="corpus")  # per batch
    append_to_lsh_index(novel_docs, prefix="corpus")     # accept novel
    compact_lsh_index(spark, prefix="corpus")            # periodic heal

Three catalog tables, each bucketed on its probe key so every per-batch
join reads the index pre-partitioned (no index-side shuffle, ever), plus
the hot-bucket tombstones:

- `{prefix}_digests` (digest, doc_id)            bucketed by digest
- `{prefix}_bands`   (doc_id, band_idx, band_hash) bucketed by band_hash
- `{prefix}_shingles`(doc_id, sh)                bucketed by doc_id
- `{prefix}_hotdrops`(band_idx, band_hash)       unbucketed, tiny

At 100 TB the index tables are tiny next to the corpus (a 16-byte digest,
4 band rows, and one shingle-hash set per doc) and per-batch probe cost is
|batch| x bands lookups — independent of corpus size. Bucket count should
be sized so one bucket of `{prefix}_shingles` fits executor memory
(plans/layout.py::write_bucketed gives the arithmetic).

Reference: no counterpart (SURVEY.md §2.6); this is the §2.8 dedup
tier's index lifecycle. The catalog-table mechanics (orphan clearing,
missing-table guard, bucketed appends, staged-swap rewrites) live in
plans/index_tables.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    LSH_MAX_BUCKET,
    MINHASH_JACCARD_THRESHOLD,
    _minhash_signatures,
    band_table,
    lsh_hot_buckets,
)
from .index_tables import IndexTables

TABLES = IndexTables(digests="digest", bands="band_hash", shingles="doc_id", hotdrops=None)


def _prepped(docs: DataFrame) -> DataFrame:
    """(doc_id, sh, digest) from a (doc_id, norm, sh) frame."""
    return docs.select("doc_id", "sh", F.md5(F.col("norm")).alias("digest"))


def build_lsh_index(docs: DataFrame, *, prefix: str, n_buckets: int = 8) -> None:
    """Materialize the index tables for `docs` (doc_id, norm, sh).

    One pass computes digests and signatures; each table is written
    bucketed on the key its probe joins on. Rebuild-in-place is safe:
    saveAsTable(overwrite) swaps at the catalog level, and an orphaned
    location left by a crashed build is cleared first.

    The hot-bucket cap applies at build time: a band bucket larger than
    LSH_MAX_BUCKET is dropped, so no probe fans out to a boilerplate
    bucket's whole membership (exact dups there are still caught by the
    digest tier; dedup_incremental applies the same cap). The dropped
    keys are TOMBSTONED in `{prefix}_hotdrops`, one row per
    (band_idx, band_hash): appends anti-join it, so a bucket capped away
    at build stays away and append-grown indexes keep agreeing with a
    one-shot capped rebuild."""
    spark = docs.sparkSession
    TABLES.clear_orphans(spark, prefix)
    d = _prepped(docs).persist()
    bands = None
    try:
        TABLES.write(d.select("digest", "doc_id"), prefix, "digests", n_buckets)
        # bands feeds the hot-bucket aggregate and the anti-join write:
        # persisted so the signature build + band explode runs once
        bands = band_table(_minhash_signatures(d)).persist()
        hot = lsh_hot_buckets(bands, max_bucket_size=LSH_MAX_BUCKET)
        TABLES.write(hot.select("band_idx", "band_hash"), prefix, "hotdrops", n_buckets)
        kept = bands.join(
            F.broadcast(spark.table(f"{prefix}_hotdrops")), ["band_idx", "band_hash"], "left_anti"
        )
        TABLES.write(kept, prefix, "bands", n_buckets)
        TABLES.write(d.select("doc_id", "sh"), prefix, "shingles", n_buckets)
    finally:
        if bands is not None:
            bands.unpersist()
        d.unpersist()


def append_to_lsh_index(batch: DataFrame, *, prefix: str) -> None:
    """ACCEPT a probed batch into the index — the ingest-loop step
    between probe and the next batch: the crawler probes arrivals,
    keeps the novel ones, and appends their (digest, bands, shingles)
    so every LATER batch is deduplicated against them too. Signatures
    are derived here once; the stored band rows ARE the signature state.

    New band rows anti-join the build-time tombstones ({prefix}_hotdrops),
    so a bucket capped away at build stays away. Per-append cost is
    |batch| x bands rows, independent of index size — no rebuild, no
    read-modify-write.

    Delivery is at-least-once, NOT atomic: three table appends with no
    transaction, so a mid-append failure + retry can duplicate rows.
    Duplicates never flip a verdict to dup/novel wrongly (the digest
    tier is distinct; band candidates are distinct pairs) but they
    inflate n_near_candidates and bucket_size counts —
    compact_lsh_index dedups all three tables, which is the heal step
    after any suspected partial append (the same compaction window
    that re-caps hot buckets).

    Equivalence contract (tests/test_lsh_index.py): probing after
    append(B) is byte-identical to probing against an index BUILT from
    corpus + B in one shot, up to buckets B pushes OVER the cap —
    those appear hot only to the one-shot build until
    compact_lsh_index runs (re-evaluating the cap per append would
    need the appended buckets' full membership)."""
    spark = batch.sparkSession
    TABLES.require(spark, prefix)
    d = _prepped(batch).persist()
    try:
        TABLES.append(d.select("digest", "doc_id"), prefix, "digests")
        new_bands = band_table(_minhash_signatures(d)).join(
            F.broadcast(spark.table(f"{prefix}_hotdrops")),
            ["band_idx", "band_hash"],
            "left_anti",
        )
        TABLES.append(new_bands, prefix, "bands")
        TABLES.append(d.select("doc_id", "sh"), prefix, "shingles")
    finally:
        d.unpersist()


def compact_lsh_index(spark: SparkSession, *, prefix: str) -> int:
    """Periodic index maintenance — one scan of the index state, never
    of the corpus: (1) DEDUP the digest, shingle and band tables (heals
    duplicate rows from retried at-least-once appends, which would
    otherwise inflate n_near_candidates and bucket_size counts — a
    genuine 5-member bucket duplicated once would read 10 > cap and be
    wrongly dropped); (2) re-apply the hot-bucket cap over the deduped
    band table and add the newly-dropped keys to the {prefix}_hotdrops
    tombstones, so buckets grown past LSH_MAX_BUCKET by appends stop
    fanning out probes AND stay dropped under future appends. Returns
    the number of newly tombstoned hot buckets.

    The collect is bounded driver state: hot buckets are
    (band_idx, band_hash) keys whose membership exceeds the cap, so
    their count is at most |band rows| / LSH_MAX_BUCKET.

    Rewrite order is deliberate: hotdrops BEFORE bands — if the run
    dies between them, the bands table still holds the hot rows, so
    the re-run re-detects them; bands-first would lose the hot keys'
    only evidence before their tombstones landed. The tombstones are
    rewritten as (old union new).distinct(), so a retried compaction
    never grows them."""
    TABLES.require(spark, prefix)
    TABLES.dedup(spark, prefix, "digests")
    TABLES.dedup(spark, prefix, "shingles")

    bands = spark.table(f"{prefix}_bands").distinct()
    hot = lsh_hot_buckets(bands, max_bucket_size=LSH_MAX_BUCKET).collect()
    drops = spark.table(f"{prefix}_hotdrops").select("band_idx", "band_hash")
    if hot:
        hot_df = spark.createDataFrame(hot).select("band_idx", "band_hash")
        bands = bands.join(F.broadcast(hot_df), ["band_idx", "band_hash"], "left_anti")
        drops = drops.unionByName(hot_df)
    TABLES.rewrite(drops.distinct(), prefix, "hotdrops")
    TABLES.rewrite(bands, prefix, "bands")
    return len(hot)


def probe_lsh_index(
    spark: SparkSession, batch: DataFrame, *, prefix: str, ordered: bool = True
) -> DataFrame:
    """Verdict per batch doc against the persisted index: `exact_dup`
    (digest already indexed), `near_dup` (banded candidate verified at
    exact shingle Jaccard >= threshold), else `novel`. Output matches
    dedup_incremental: (doc_id, verdict, n_near_candidates).

    `ordered=False` skips the final doc_id sort — the streaming runner
    (streaming/index_probe_stream.py) writes each micro-batch to parquet,
    which discards ordering. The verdict set is identical either way.

    Only the batch side shuffles: the digest semi-probe, the band
    candidate join, and the shingle verify join each hit a table bucketed
    on that exact key. Candidates are verified with exact Jaccard before
    they can demote a doc — banding is a recall device, never the
    decision."""
    from ..functions.cachepool import managed_persist

    TABLES.require(spark, prefix, "digests", "bands", "shingles")
    inc = managed_persist(_prepped(batch))

    digests = spark.table(f"{prefix}_digests")
    exact_hits = (
        inc.join(digests.select("digest").distinct(), "digest")
        .select("doc_id")
        .distinct()
        .withColumn("is_exact", F.lit(1))
    )

    bands_in = band_table(_minhash_signatures(inc)).withColumnRenamed("doc_id", "doc_in")
    bands_ix = spark.table(f"{prefix}_bands").withColumnRenamed("doc_id", "doc_ix")
    cand = (
        bands_in.join(bands_ix, ["band_idx", "band_hash"])
        .select("doc_in", "doc_ix")
        .distinct()
    )

    x = inc.select(F.col("doc_id").alias("doc_in"), F.col("sh").alias("sh_in"))
    y = spark.table(f"{prefix}_shingles").select(
        F.col("doc_id").alias("doc_ix"), F.col("sh").alias("sh_ix")
    )
    jac = F.size(F.array_intersect("sh_in", "sh_ix")).cast("double") / F.size(
        F.array_union("sh_in", "sh_ix")
    )
    near_hits = (
        cand.join(x, "doc_in")
        .join(y, "doc_ix")
        .filter(jac >= MINHASH_JACCARD_THRESHOLD)
        .groupBy(F.col("doc_in").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_near"))
    )
    out = (
        inc.select("doc_id")
        .join(exact_hits, "doc_id", "left")
        .join(near_hits, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact") == 1, F.lit("exact_dup"))
            .when(F.col("n_near") > 0, F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.coalesce(F.col("n_near"), F.lit(0)).cast("long").alias("n_near_candidates"),
        )
    )
    return out.orderBy("doc_id") if ordered else out
