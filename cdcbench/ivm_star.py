"""The star view of ``batch_headline``: fixed batches of small star-schema
transactions maintained into a two-dimension star view by
``join_ivm.apply_batch``, each followed by a served ``latest_view``
(closed loop, no streaming).

Set-up generates the seeded schedule, decodes it once with the pgcdc
source's archive reader, in this process, into an envelope parquet
(untimed, like bench.py's changelog pre-synthesis, so the step times the
view maintenance and not the decoder)
and loads the star's seed transactions as epoch 0 (the cold first apply).
Epoch ``k`` then applies the ``k``-th batch of BATCH_TXNS transactions.
Every run applies the same batches in the same order, so compactions fall
on the same epochs for every seed.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import gen

BATCH_TXNS = 55  # ≈173 DML per batch; every batch touches all three tables
# The production cadence is 8; at 1 the stores compact at the top of every
# second epoch (live partials 0 and 1 at epoch 2), so half the applies of a
# short run compact.
MAX_LIVE_PARTIALS = 1


def star_spec():
    """The 2-dim star of ``tools/join_ivm_lifecycle_soak._star_spec``, over
    the generator's sales / supplier / part tables."""
    from postgresql_cdc_spark.streaming.join_ivm import DimSpec, JoinViewSpec

    return JoinViewSpec(
        fact_ddl="iid long, sid long, pid long, price int, qty int, "
                 "op string, lsn long",
        fact_key="iid",
        fact_payload=("sid", "pid", "price", "qty"),
        group_cols=("nation", "brand"),
        measures=(("revenue", "price * qty"),),
        extrema=(("max_price", "max", "price", "int"),),
        dims=(
            DimSpec(ddl="sid long, nation int, op string, lsn long",
                    key="sid", payload=("nation",), fact_fk="sid"),
            DimSpec(ddl="pid long, brand int, op string, lsn long",
                    key="pid", payload=("brand",), fact_fk="pid"),
        ),
    )


def route(batch_df):
    """Envelope rows → (dimension batches, fact batch) typed for the spec."""
    from pyspark.sql import functions as F

    col = lambda name, t: F.element_at("columns", name).cast(t)  # noqa: E731
    of = lambda table: batch_df.where(F.col("table") == table)  # noqa: E731
    sup = of("supplier").select(col("s_suppkey", "long").alias("sid"),
                                col("s_nationkey", "int").alias("nation"),
                                "op", "lsn")
    part = of("part").select(col("p_partkey", "long").alias("pid"),
                             col("p_brand", "int").alias("brand"), "op", "lsn")
    fact = of("sales").select(col("f_id", "long").alias("iid"),
                              col("f_suppkey", "long").alias("sid"),
                              col("f_partkey", "long").alias("pid"),
                              col("f_price", "int").alias("price"),
                              col("f_qty", "int").alias("qty"), "op", "lsn")
    return [sup, part], fact


def served_rows(spark, state: str, spec) -> list[tuple]:
    from postgresql_cdc_spark.streaming.join_ivm import latest_view

    return sorted((r.nation, r.brand, r.dn, r.revenue, r.max_price)
                  for r in latest_view(spark, state, spec).collect())


def check_view(got: list, want: list) -> list[str]:
    if got == want:
        return []
    diff = sorted(set(got) ^ set(want))
    return [f"view has {len(got)} groups, recompute has {len(want)}; "
            f"{len(diff)} rows differ, e.g. {diff[:2]}"]


_EPOCH_DIR = re.compile(r"^ingest_epoch=(-?\d+)$")


def store_census(state: str) -> dict:
    """Per epoch store under ``state``: committed base horizon and live
    partial count, read from the store directories."""
    from postgresql_cdc_spark.streaming.epoch_maintenance import base_upto

    out = {}
    for dirpath, dirnames, _ in os.walk(state):
        epochs = [int(m.group(1)) for d in dirnames
                  if (m := _EPOCH_DIR.match(d))]
        if epochs:
            upto = base_upto(dirpath)
            out[dirpath] = (upto, sum(1 for e in epochs if e >= upto))
            dirnames[:] = []
    return out


def census_summary(snaps: list) -> tuple:
    """(advances of any store's ``base_upto``, most live partials any store
    held) over consecutive census snapshots."""
    bases: dict = {}
    compactions = live_max = 0
    for snap in snaps:
        for store, (upto, live) in snap.items():
            compactions += upto > bases.get(store, upto)
            bases[store] = upto
            live_max = max(live_max, live)
    return compactions, live_max


# the pgcdc source's ENVELOPE_SCHEMA
_ENVELOPE_COLUMNS = ("op", "schema", "table", "relation_id", "lsn", "txn_id",
                     "columns")


def _envelope_arrow():
    import pyarrow as pa

    s = pa.string()
    return pa.schema([("op", s), ("schema", s), ("table", s),
                      ("relation_id", pa.int32()), ("lsn", pa.int64()),
                      ("txn_id", pa.int64()), ("columns", pa.map_(s, s))])


@dataclass
class Star:
    """A generated star schedule, decoded and ready to apply."""

    state: str
    envelope: str
    bounds: list  # last LSN of the seed (index 0) and of each batch
    dml: list  # DML in the seed (index 0) and in each batch
    inputs: object = field(repr=False)
    spec: object = field(default_factory=star_spec, repr=False)


def generate(seed: int, n_batches: int):
    """The seeded schedule for a seed load and ``n_batches`` batches."""
    return gen.star_schedule(seed, BATCH_TXNS * n_batches)


def prepare(work: str, inputs) -> Star:
    """Decode the schedule with the pgcdc archive reader into an envelope
    parquet, and cut it into the seed and the batches by LSN."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from postgresql_cdc_spark.streaming.source import WalArchiveBatchReader

    arch = os.path.join(work, "star_wal")
    frames = inputs.seed_frames + [f for t in inputs.txns for f in t.frames]
    gen.write_chunks(arch, frames, len(frames))
    rows = list(WalArchiveBatchReader({"path": arch}).read(None))
    envelope = os.path.join(work, "star_envelope.parquet")
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(_ENVELOPE_COLUMNS, r)) for r in rows],
        schema=_envelope_arrow()), envelope)
    batches = [inputs.txns[i:i + BATCH_TXNS]
               for i in range(0, len(inputs.txns), BATCH_TXNS)]
    state = os.path.join(work, "star_state")
    os.makedirs(state, exist_ok=True)
    return Star(
        state=state, envelope=envelope,
        bounds=[inputs.seed_frames[-1][0]] + [b[-1].commit_lsn
                                              for b in batches],
        dml=[inputs.seed_dml] + [sum(t.n_dml for t in b) for b in batches],
        inputs=inputs,
    )


def batch(spark, star: Star, epoch: int):
    """The envelope rows of ``epoch`` (0 is the seed load)."""
    from pyspark.sql import functions as F

    lo = star.bounds[epoch - 1] if epoch else -1
    lsn = F.col("lsn")
    return spark.read.parquet(star.envelope).where(
        (lsn > lo) & (lsn <= star.bounds[epoch]))


def apply(spark, star: Star, epoch: int) -> None:
    from postgresql_cdc_spark.streaming.join_ivm import apply_batch

    dims, fact = route(batch(spark, star, epoch))
    apply_batch(spark, star.state, epoch, dims, fact,
                max_live_partials=MAX_LIVE_PARTIALS, spec=star.spec)


def serve(spark, star: Star) -> list[tuple]:
    return served_rows(spark, star.state, star.spec)


def check(spark, star: Star, applied: int) -> list[str]:
    """The served view against the driver-side recompute of the generator's
    model, after the seed load and ``applied`` batches (none, or all)."""
    model = star.inputs.model if applied else star.inputs.seed_model
    if applied not in (0, len(star.bounds) - 1):
        raise ValueError("the model is kept after the seed and at the end")
    return check_view(serve(spark, star), gen.star_recompute(model))
