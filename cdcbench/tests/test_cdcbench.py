"""Tests of the benchmark itself: seeded generators, the tail-percentile
helper, and the answer checks (a planted wrong row must turn them red).

    python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import os

import pytest

import gen
from harness import tail


# --- generators -------------------------------------------------------------

def test_replay_archive_is_byte_identical_for_a_seed():
    a, b = gen.replay_archive(11, 200), gen.replay_archive(11, 200)
    assert gen.frames_digest(a.frames) == gen.frames_digest(b.frames)
    assert a.model == b.model and a.commits == b.commits


def test_replay_archive_seed_changes_values_not_volume():
    a, b = gen.replay_archive(1, 200), gen.replay_archive(2, 200)
    assert gen.frames_digest(a.frames) != gen.frames_digest(b.frames)
    assert (a.n_dml, len(a.commits), a.largest_txn) == \
        (b.n_dml, len(b.commits), b.largest_txn)


def test_replay_archive_covers_the_change_kinds():
    from postgresql_cdc_spark.sources.pgoutput import (
        ChangeRecord,
        PgOutputDecoder,
    )

    dec = PgOutputDecoder()
    ops, sparse, tables = set(), 0, set()
    for _, payload in gen.replay_archive(3, 200).frames:
        msg = dec.decode(payload)
        if isinstance(msg, ChangeRecord):
            ops.add(msg.op)
            tables.add(msg.relation.name)
            sparse += msg.op == "U" and len(msg.columns) < len(
                msg.relation.columns)
    assert ops == {"I", "U", "D"}
    assert tables == {"lineitem", "orders"}
    assert sparse > 0  # TOAST-absent updates


def test_star_schedule_is_identical_for_a_seed():
    a, b = gen.star_schedule(5, 40), gen.star_schedule(5, 40)
    assert [(t.commit_lsn, t.frames) for t in a.txns] == \
        [(t.commit_lsn, t.frames) for t in b.txns]
    assert a.seed_frames == b.seed_frames
    # another seed changes the values, not the size of any transaction
    assert [t.n_dml for t in a.txns] == \
        [t.n_dml for t in gen.star_schedule(6, 40).txns]
    assert gen.star_recompute(a.model) == gen.star_recompute(b.model)


def test_batch_tables_are_identical_for_a_seed(tmp_path):
    d1 = gen.write_tables(gen.batch_tables(4), str(tmp_path / "a"))
    d2 = gen.write_tables(gen.batch_tables(4), str(tmp_path / "b"))
    d3 = gen.write_tables(gen.batch_tables(5), str(tmp_path / "c"))
    assert d1 == d2 != d3


# --- BENCHMARK.json ---------------------------------------------------------

def test_benchmark_json_lists_the_metrics_the_runner_prints():
    import json

    import run
    from conftest import ROOT

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run._layer_names()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


# --- tail percentile --------------------------------------------------------

@pytest.mark.parametrize("n", [11, 15, 20, 21, 22, 30, 47, 100, 1000])
def test_tail_is_the_highest_percentile_with_ten_beyond(n):
    values = list(range(n))
    p, v, count = tail(values)
    assert count == n
    beyond = sum(1 for x in values if x > v)
    assert beyond >= 10
    # the next percentile up would leave fewer than ten beyond
    rank_next = -(-(p + 1) * n // 100)
    assert n - rank_next < 10


def test_tail_of_twenty_is_the_median_and_of_a_hundred_p90():
    assert tail(list(range(20))) == (50, 9, 20)
    assert tail(list(range(100))) == (90, 89, 100)


def test_tail_of_ten_or_fewer_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (100, 3.0, 3)
    assert tail(list(range(10))) == (100, 9, 10)
    assert tail([]) == (None, 0.0, 0)


# --- answer checks ----------------------------------------------------------

def test_oracle_compare_flags_a_wrong_value():
    from wl_batch import oracle_problems

    rows = [(1, "a", 2.5), (2, "b", 3.5)]
    assert oracle_problems(["k", "s", "v"], rows, ["v", "k", "s"],
                           [(2.5, 1, "a"), (3.5, 2, "b")]) == []
    assert oracle_problems(["k", "s", "v"], rows, ["k", "s", "v"],
                           [(1, "a", 2.5), (2, "b", 3.6)])


def _land_archive(spark, tmp_path, frames, land):
    """Replay an archive through the pgcdc source and land it as epoch 0."""
    from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite

    arch = str(tmp_path / "wal")
    gen.write_chunks(arch, frames, 500)
    epoch_overwrite(spark.read.format("pgcdc").option("path", arch).load(),
                    land, 0)


def test_replay_check_passes_then_catches_a_planted_row(spark, tmp_path):
    from postgresql_cdc_spark.sources.changelog import ENVELOPE_SCHEMA
    from postgresql_cdc_spark.streaming.epoch_io import epoch_overwrite
    from wl_replay import check_state

    inputs = gen.replay_archive(9, 60)
    land = str(tmp_path / "land")
    _land_archive(spark, tmp_path, inputs.frames, land)
    assert check_state(spark, land, inputs.model) == []

    # plant one wrong row: a later full-image update the model never saw
    _, image = next(iter(inputs.model["lineitem"].items()))
    bad = spark.createDataFrame(
        [("U", "public", "lineitem", 16384, 1 << 40, 1 << 20,
          {**image, "l_quantity": "99.0"})], ENVELOPE_SCHEMA)
    epoch_overwrite(bad, land, 1)
    problems = check_state(spark, land, inputs.model)
    assert problems and "lineitem" in problems[0]


def test_star_check_passes_then_catches_a_planted_row(spark, tmp_path):
    import ivm_star
    from postgresql_cdc_spark.streaming.join_ivm import apply_batch

    inputs = gen.star_schedule(9, 2 * ivm_star.BATCH_TXNS, n_supp=5,
                               n_part=20, n_fact=100)
    star = ivm_star.prepare(str(tmp_path), inputs)
    ivm_star.apply(spark, star, 0)
    assert ivm_star.check(spark, star, 0) == []
    for epoch in (1, 2):
        ivm_star.apply(spark, star, epoch)
    assert ivm_star.check(spark, star, 2) == []

    # plant one fact row the generator never emitted
    spec = star.spec
    planted = spark.createDataFrame(
        [(10**6, 0, 0, 7, 3, "I", 1 << 40)], spec.fact_ddl)
    no_dims = [spark.createDataFrame([], d.ddl) for d in spec.dims]
    apply_batch(spark, star.state, 3, no_dims, planted, spec=spec)
    assert ivm_star.check(spark, star, 2)
