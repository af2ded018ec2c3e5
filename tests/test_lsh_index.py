"""Persisted LSH index lifecycle (plans/lsh_index.py): build-once /
probe-per-batch must reproduce dedup_incremental's verdicts exactly, and
the probe joins must read the index tables bucketed (no index-side
shuffle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prueba_tecnica_http_client_etl_spark.operators.dedup import (
    INCREMENTAL_STRIDE,
    dedup_incremental,
    docs_normalized,
)
from prueba_tecnica_http_client_etl_spark.plans import lsh_index as LI
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def built_index(spark):
    docs = docs_normalized(spark, SF_SMOKE).select("doc_id", "norm", "sh")
    is_incoming = F.col("doc_id") % INCREMENTAL_STRIDE == 0
    LI.build_lsh_index(docs.filter(~is_incoming), prefix="t_lshidx", n_buckets=4)
    return docs.filter(is_incoming)


def test_probe_matches_dedup_incremental(spark, built_index):
    probe = LI.probe_lsh_index(spark, built_index, prefix="t_lshidx").collect()
    inline = dedup_incremental(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in probe] == [tuple(r) for r in inline]
    # fixture sanity: both the near tier and the pass-through occur at
    # smoke scale (the incoming stride carries no byte-identical copies,
    # so exact_dup legitimately may not appear)
    verdicts = {r.verdict for r in probe}
    assert {"near_dup", "novel"} <= verdicts <= {"exact_dup", "near_dup", "novel"}, verdicts


def test_probe_reads_bucketed_index(spark, built_index):
    df = LI.probe_lsh_index(spark, built_index, prefix="t_lshidx")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every index-table scan must select buckets (bucketed read, not a
    # plain file scan that would need an index-side shuffle)
    assert "SelectedBucketsCount" in plan, plan
    assert "t_lshidx_bands" in plan and "t_lshidx_shingles" in plan


def test_append_then_probe_equals_one_shot_build(spark):
    """The ingest-loop ACCEPT step: after append(B), probing C must be
    byte-identical to probing C against an index built from A union B
    in one shot (no hot buckets in this natural corpus, so the deferred
    cap cannot diverge) — append-grown and rebuilt indexes are
    interchangeable. And the append must actually matter: against the
    A-only index, C docs near-duplicating B docs would pass as novel."""
    docs = docs_normalized(spark, SF_SMOKE).select("doc_id", "norm", "sh")
    part = F.col("doc_id") % 3
    a, b, c = docs.filter(part == 0), docs.filter(part == 1), docs.filter(part == 2)

    LI.build_lsh_index(a, prefix="t_appgrow", n_buckets=4)
    before = LI.probe_lsh_index(spark, c, prefix="t_appgrow").collect()
    LI.append_to_lsh_index(b, prefix="t_appgrow")
    got = LI.probe_lsh_index(spark, c, prefix="t_appgrow").collect()

    LI.build_lsh_index(a.unionByName(b), prefix="t_oneshot", n_buckets=4)
    want = LI.probe_lsh_index(spark, c, prefix="t_oneshot").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    flagged = lambda rows: {r.doc_id for r in rows if r.verdict != "novel"}  # noqa: E731
    assert flagged(before) < flagged(got), "append must surface B-dependent dups"
    # appends keep the bucketed layout: probe still bucket-prunes
    plan = (
        LI.probe_lsh_index(spark, c, prefix="t_appgrow")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SelectedBucketsCount" in plan, plan


def _prepped_rows(spark, rows):
    from pyspark.sql import functions as F2

    from prueba_tecnica_http_client_etl_spark.functions import textprep as tp

    return (
        spark.createDataFrame(rows, "doc_id long, text string")
        .withColumn("norm", F2.expr(tp.SPARK_NORM))
        .withColumn("toks", F2.expr(tp.SPARK_TOKS))
        .withColumn("sh", F2.expr(tp.SPARK_SHINGLES))
        .select("doc_id", "norm", "sh")
    )


BOILER = "the quick brown fox jumps over the lazy dog again and again " * 5
NEAR_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
NEAR_B = NEAR_A + " omicron"
PROBE_ROWS = [
    (300, BOILER),
    (301, NEAR_B),
    (302, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),
]


def test_compact_recaps_hot_buckets_grown_by_appends(spark):
    """append defers the hot-bucket cap (its docstring contract); the
    compaction pass re-applies it over the accumulated band table:
    boilerplate appended past LSH_MAX_BUCKET must be dropped, genuine
    near-dup bands kept, and the post-compaction probe must equal a
    one-shot capped build over the full corpus."""
    from prueba_tecnica_http_client_etl_spark.functions import textprep as tp

    base = [(i, BOILER) for i in range(5)] + [(100, NEAR_A)]
    grow = [(20 + i, BOILER) for i in range(25)]

    LI.build_lsh_index(_prepped_rows(spark, base), prefix="t_compact", n_buckets=4)
    LI.append_to_lsh_index(_prepped_rows(spark, grow), prefix="t_compact")
    dropped = LI.compact_lsh_index(spark, prefix="t_compact")
    assert dropped == tp.LSH_BANDS  # every boiler band bucket went hot

    got = LI.probe_lsh_index(
        spark, _prepped_rows(spark, PROBE_ROWS), prefix="t_compact"
    ).collect()
    LI.build_lsh_index(_prepped_rows(spark, base + grow), prefix="t_compact2", n_buckets=4)
    want = LI.probe_lsh_index(
        spark, _prepped_rows(spark, PROBE_ROWS), prefix="t_compact2"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    by_doc = {r.doc_id: r.verdict for r in got}
    # the boiler probe is still an exact_dup (digest tier is cap-free);
    # the genuine near-dup pair survives the cap; the filler is novel
    assert by_doc == {300: "exact_dup", 301: "near_dup", 302: "novel"}
    # and compaction is idempotent once the table is capped
    assert LI.compact_lsh_index(spark, prefix="t_compact") == 0


def test_tombstones_keep_build_dropped_buckets_dropped(spark):
    """A bucket capped away at BUILD time has lost its membership, so a
    later append re-populating it below the cap could silently
    resurrect it — diverging from a one-shot rebuild that sees the
    full (hot) membership. The build-time tombstones close that hole:
    appended rows of a tombstoned bucket are never stored, keeping the
    append-grown and one-shot-rebuilt indexes in byte agreement."""
    from prueba_tecnica_http_client_etl_spark.functions import textprep as tp

    base = [(i, BOILER) for i in range(9)] + [(100, NEAR_A)]  # 9 > cap: hot at build
    grow = [(20 + i, BOILER) for i in range(4)]  # re-populates below the cap

    LI.build_lsh_index(_prepped_rows(spark, base), prefix="t_tomb", n_buckets=4)
    assert spark.table("t_tomb_hotdrops").count() == tp.LSH_BANDS
    LI.append_to_lsh_index(_prepped_rows(spark, grow), prefix="t_tomb")
    # no resurrected rows: the boiler band buckets stay empty
    assert (
        spark.table("t_tomb_bands")
        .join(spark.table("t_tomb_hotdrops"), ["band_idx", "band_hash"])
        .count()
        == 0
    )
    got = LI.probe_lsh_index(
        spark, _prepped_rows(spark, PROBE_ROWS), prefix="t_tomb"
    ).collect()
    LI.build_lsh_index(_prepped_rows(spark, base + grow), prefix="t_tomb2", n_buckets=4)
    want = LI.probe_lsh_index(
        spark, _prepped_rows(spark, PROBE_ROWS), prefix="t_tomb2"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_compact_heals_retried_append_duplicates(spark):
    """Appends are at-least-once (three non-atomic table writes): a
    retried append duplicates rows, and duplicated band rows would
    make a genuine 5-member bucket count 10 > cap and be WRONGLY
    dropped by compaction. compact_lsh_index dedups before counting:
    after healing, the duplicated index must probe byte-identically to
    a never-duplicated build, with the genuine near-dup intact."""
    from pyspark.sql import functions as F2

    from prueba_tecnica_http_client_etl_spark.operators.dedup import LSH_MAX_BUCKET

    base = [(i, f"base doc number {i} with tokens {' '.join(f't{i}x{j}' for j in range(10))}") for i in range(4)]
    # 5 byte-identical docs share EVERY band -> deterministic 5-member
    # buckets (genuine, under the cap of 8); duplicated once they read 10
    batch = [(100 + i, BOILER) for i in range(5)] + [(200, NEAR_A)]

    LI.build_lsh_index(_prepped_rows(spark, base), prefix="t_heal", n_buckets=4)
    LI.append_to_lsh_index(_prepped_rows(spark, batch), prefix="t_heal")
    LI.append_to_lsh_index(_prepped_rows(spark, batch), prefix="t_heal")  # the retry
    n_dup = spark.table("t_heal_bands").count()
    raw_max = (
        spark.table("t_heal_bands")
        .groupBy("band_idx", "band_hash")
        .agg(F2.count(F2.lit(1)).alias("n"))
        .agg(F2.max("n"))
        .first()[0]
    )
    assert raw_max > LSH_MAX_BUCKET, "precondition: duplicates must inflate past the cap"
    assert LI.compact_lsh_index(spark, prefix="t_heal") == 0, (
        "dedup-before-count must not mistake duplicates for a hot bucket"
    )
    assert spark.table("t_heal_bands").count() < n_dup  # duplicates gone
    got = LI.probe_lsh_index(
        spark, _prepped_rows(spark, [(301, NEAR_B)]), prefix="t_heal"
    ).collect()
    LI.build_lsh_index(_prepped_rows(spark, base + batch), prefix="t_heal2", n_buckets=4)
    want = LI.probe_lsh_index(
        spark, _prepped_rows(spark, [(301, NEAR_B)]), prefix="t_heal2"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got[0].verdict == "near_dup"  # the genuine pair survived healing


def test_append_refuses_unbuilt_prefix(spark):
    """mode('append') silently creates missing tables — a typo'd or
    never-built prefix must raise instead of swallowing the batch into
    a parallel index nothing ever probes."""
    with pytest.raises(ValueError, match="missing tables"):
        LI.append_to_lsh_index(
            _prepped_rows(spark, [(1, NEAR_A)]), prefix="t_no_such_index"
        )
    with pytest.raises(ValueError, match="missing tables"):
        LI.compact_lsh_index(spark, prefix="t_no_such_index")


def test_probe_unordered_has_no_global_sort(spark, built_index):
    """Round-12 verdict item 4 (foreachBatch orderBy tax): the streaming
    index-probe runner calls probe_lsh_index(ordered=False) because its
    per-batch parquet write discards ordering — that plan must carry NO
    range-partitioned global sort (SortMergeJoin's partition-local sorts
    are fine), while the default batch path keeps its doc_id order
    contract and both paths return the same verdict set."""
    df_u = LI.probe_lsh_index(spark, built_index, prefix="t_lshidx", ordered=False)
    plan_u = df_u._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan_u.lower(), plan_u
    df_o = LI.probe_lsh_index(spark, built_index, prefix="t_lshidx")
    plan_o = df_o._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan_o.lower(), plan_o
    assert sorted(map(tuple, df_u.collect())) == [tuple(r) for r in df_o.collect()]


def test_retried_compaction_does_not_grow_tombstones(spark):
    """The tombstone table is REWRITTEN distinct each compaction (old
    union newly-hot), so a retried/repeated compaction cannot append
    the same keys again and grow the broadcast anti-join side without
    bound."""
    from prueba_tecnica_http_client_etl_spark.functions import textprep as tp

    base = [(i, BOILER) for i in range(5)] + [(100, NEAR_A)]
    grow = [(20 + i, BOILER) for i in range(25)]
    LI.build_lsh_index(_prepped_rows(spark, base), prefix="t_retomb", n_buckets=4)
    LI.append_to_lsh_index(_prepped_rows(spark, grow), prefix="t_retomb")
    assert LI.compact_lsh_index(spark, prefix="t_retomb") == tp.LSH_BANDS
    n1 = spark.table("t_retomb_hotdrops").count()
    assert n1 == spark.table("t_retomb_hotdrops").distinct().count()
    # the retry: same keys are already tombstoned; nothing may grow
    assert LI.compact_lsh_index(spark, prefix="t_retomb") == 0
    assert spark.table("t_retomb_hotdrops").count() == n1
