"""Round-7 wave 2: JSONL round-trip, normalized dedup, interval rolling
windows, epoch resampling, RESTORE."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from gjenbruksstasjoner_kotid_estimering_spark.io import load_table
from gjenbruksstasjoner_kotid_estimering_spark.operators import merge_tx
from gjenbruksstasjoner_kotid_estimering_spark.plans import advanced7 as a7
from gjenbruksstasjoner_kotid_estimering_spark.scratch import new_scratch_dir

from conftest import SF0001


def test_jsonl_roundtrip_preserves_text_fingerprints(spark):
    got = {
        r.source: (r.n_docs, r.chars_sum, r.text_fp_sum)
        for r in a7.scan_jsonl_roundtrip(spark, SF0001).collect()
    }
    want = {
        r.source: (r.n_docs, r.chars_sum, r.text_fp_sum)
        for r in load_table(spark, SF0001, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_sum"),
            F.sum(
                F.conv(F.substring(F.md5("text"), 1, 12), 16, 10).cast("long")
            ).alias("text_fp_sum"),
        )
        .collect()
    }
    assert got == want


def test_normalized_dedup_folds_case_and_punctuation(spark):
    """Strings differing only in case/punct/whitespace share a survivor."""
    df = spark.createDataFrame(
        [
            (1, "Hello,  World!"),
            (2, "hello world"),
            (3, "HELLO -- WORLD"),
            (4, "a different doc"),
        ],
        "doc_id long, text string",
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    groups = (
        df.select("doc_id", F.md5(norm).alias("k"))
        .groupBy("k")
        .agg(F.min("doc_id").alias("kept"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_kept = {r.kept: r.n for r in groups}
    assert by_kept == {1: 3, 4: 1}


def test_normalized_dedup_partitions_the_corpus(spark):
    out = a7.dedup_text_normalized(spark, SF0001).collect()
    total = load_table(spark, SF0001, "documents").count()
    assert sum(r.n_copies for r in out) == total
    assert len({r.kept_doc_id for r in out}) == len(out)


def test_interval_rolling_matches_brute_force(spark):
    rows = load_table(spark, SF0001, "events").collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    want = {}
    for evs in by_user.values():
        evs.sort(key=lambda r: r.ts)
        for i, r in enumerate(evs):
            lo = r.ts.timestamp() - 3600
            in_frame = [
                e for e in evs[: i + 1] if e.ts.timestamp() >= lo
            ]
            want[r.event_id] = (
                sum(round(e.value * 100) for e in in_frame),
                len(in_frame),
            )
    got = {
        r.event_id: (r.rolling_cents, r.rolling_n)
        for r in a7.window_time_range_rolling(spark, SF0001).collect()
    }
    assert got == want


def test_repeat_epochs_mass_and_determinism(spark):
    out = a7.sample_repeat_epochs(spark, SF0001).collect()
    per_source_docs = defaultdict(set)
    per_source_copies = defaultdict(int)
    for r in out:
        per_source_docs[r.source].add(r.doc_id)
        per_source_copies[r.source] += 1
        base = 1 + (8 + int(r.source[3:]) % 12) // 8 - 1
        assert r.n_copies in (base, base + 1)
    for src, docs in per_source_docs.items():
        f8 = 8 + int(src[3:]) % 12
        n = len(docs)
        # Bresenham striping: realized mass is EXACTLY this closed form
        assert per_source_copies[src] == n * (f8 // 8) + (n * (f8 % 8)) // 8
    again = a7.sample_repeat_epochs(spark, SF0001).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_restore_is_metadata_only_and_revacuumable(spark):
    """RESTORE re-references the old files (no rewrite), and because
    liveness is manifest-reachability, a post-restore vacuum with
    retain_versions=1 must keep the restored state readable."""
    table_dir = new_scratch_dir("restore_unit")
    merge_tx._build_seed_and_merges(
        spark, SF0001, (7,), table_dir=table_dir
    )  # v1 seed, v2 merge
    v1_rows = sorted(
        map(tuple, merge_tx.snapshot_at(spark, table_dir, 1).collect())
    )
    v1_files = set(merge_tx._read_manifest(table_dir, 1))
    new_v = merge_tx.restore_version(table_dir, 1)
    assert new_v == 3
    assert set(merge_tx._read_manifest(table_dir, 3)) == v1_files
    snap, v = merge_tx.snapshot(spark, table_dir)
    assert v == 3
    assert sorted(map(tuple, snap.collect())) == v1_rows
    merge_tx.vacuum(table_dir, retain_versions=1, min_age_seconds=0.0)
    snap2, _ = merge_tx.snapshot(spark, table_dir)
    assert sorted(map(tuple, snap2.collect())) == v1_rows
