"""Two-level seam stitching for bucket-summary windows.

Several statistics in this engine decompose a global ordered scan into
(a) per-bucket windows over the raw rows and (b) ONE window over the
per-bucket summary table (``plans.analytics``, ``plans.events``). That
summary window is unpartitioned: fine while the summary stays bounded by
value-range / bucket-width, but at a 10^11-key range it is ~10^7 skinny
rows flowing through a single task — the last single-task surface in
the repo (round-9 verdict, "What's wrong" #2).

These helpers add a second stitching level: re-bucket the summary by
``bkt div fanout`` (super-buckets), run the per-super-bucket window
partitioned, and close super-bucket seams with one more window over the
super-bucket rollup. No window task then holds more than
``max(fanout, n_buckets / fanout)`` rows at ANY key range; with the
default fanout 8192 the residual unpartitioned window sees at most
range / 8192^2 rows (a full 2^40 key range -> ~16k rows). A third
level is the same transform applied to the rollup — never needed below
fanout^3 (~5.5e11) buckets, and the transform composes if it ever is.

Both helpers require the stitched columns to be non-null (bucket
summaries are MIN/MAX/SUM aggregates, which never produce NULL over
non-empty groups). Group keys (``part`` columns, ``bkt``) MAY be NULL:
a window treats NULL as an ordinary partition/first-in-ascending-order
value, so the internal rollup joins are null-SAFE — a plain equi-join
would silently drop NULL-keyed rows instead of stitching them.
"""

from __future__ import annotations

from functools import reduce
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

_SB = "__seam_sb"


def _null_safe_broadcast_join(
    out: DataFrame, lvl2: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Join ``out`` to broadcast ``lvl2`` on ``keys`` with null-safe
    equality (``<=>``) — still planned as a broadcast HASH join (Catalyst
    treats EqualNullSafe as an equi-join key), never a nested loop."""
    ren = {k: f"__seam_key_{k}" for k in keys}
    rhs = lvl2.select(
        *[F.col(k).alias(ren[k]) for k in keys],
        *[c for c in lvl2.columns if c not in keys],
    )
    cond = reduce(
        lambda a, b: a & b,
        [out[k].eqNullSafe(rhs[ren[k]]) for k in keys],
    )
    return out.join(F.broadcast(rhs), cond).drop(*ren.values())


def _with_super_bucket(summ: DataFrame, bkt: str, fanout: int) -> DataFrame:
    # Floor division, not `div`: `div` truncates toward zero, so -1 and +1
    # would share super-bucket 0 and the partitioned window would see
    # non-contiguous bucket ranges. Computed in exact BIGINT arithmetic
    # as trunc-div plus a floor correction (subtract 1 when the dividend
    # is negative with a nonzero remainder) — floor(a/b) in double space
    # loses exactness past 2^53, and the earlier `(b - pmod(b, f)) DIV f`
    # form underflows LONG when `bkt` is within `fanout` of LONG_MIN
    # (b - pmod wraps silently); this form never leaves [LONG_MIN DIV f,
    # LONG_MAX DIV f] so the whole BIGINT bucket domain is exact.
    f = int(fanout)
    b = f"CAST(`{bkt}` AS BIGINT)"
    return summ.withColumn(
        _SB,
        F.expr(
            f"({b} DIV {f}) - (CASE WHEN {b} < 0 AND pmod({b}, {f}) != 0 "
            "THEN 1 ELSE 0 END)"
        ).cast("bigint"),
    )


def two_level_exclusive_prefix(
    summ: DataFrame,
    bkt: str,
    sums: Mapping[str, str],
    part: Sequence[str] = (),
    fanout: int = 8192,
) -> DataFrame:
    """Exclusive prefix sums over a bucket-summary table, two-level.

    ``summ`` holds exactly one row per (``part``, ``bkt``); for each
    ``col -> alias`` in ``sums``, appends ``alias`` = SUM(``col``) over
    all rows of the same ``part`` with a strictly smaller ``bkt``.
    Equivalent to ``SUM(col) OVER (PARTITION BY part ORDER BY bkt ROWS
    UNBOUNDED PRECEDING) - col`` but with the single-task window replaced
    by: in-super-bucket prefix (partitioned by super-bucket) + a carry
    from the super-bucket rollup (the only residual unpartitioned
    window, over ``n_buckets / fanout`` rows).
    """
    parts = list(part)
    out = _with_super_bucket(summ, bkt, fanout)
    w_in = (
        Window.partitionBy(*parts, _SB)
        .orderBy(bkt)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tmp_in = {alias: f"__seam_in_{alias}" for alias in sums.values()}
    tmp_tot = {alias: f"__seam_tot_{alias}" for alias in sums.values()}
    tmp_carry = {alias: f"__seam_carry_{alias}" for alias in sums.values()}
    for col, alias in sums.items():
        out = out.withColumn(
            tmp_in[alias], F.sum(col).over(w_in) - F.col(col)
        )
    rollup = out.groupBy(*parts, _SB).agg(
        *[F.sum(col).alias(tmp_tot[alias]) for col, alias in sums.items()]
    )
    w_sb = (
        Window.partitionBy(*parts)
        .orderBy(_SB)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lvl2 = rollup.select(
        *parts,
        _SB,
        *[
            (F.sum(tmp_tot[alias]).over(w_sb) - F.col(tmp_tot[alias])).alias(
                tmp_carry[alias]
            )
            for alias in sums.values()
        ],
    )
    out = _null_safe_broadcast_join(out, lvl2, [*parts, _SB])
    for alias in sums.values():
        out = out.withColumn(
            alias, F.col(tmp_carry[alias]) + F.col(tmp_in[alias])
        )
    return out.drop(_SB, *tmp_in.values(), *tmp_carry.values())


def two_level_next(
    summ: DataFrame,
    bkt: str,
    nexts: Mapping[str, str],
    part: Sequence[str] = (),
    fanout: int = 8192,
) -> DataFrame:
    """LEAD over a bucket-summary table, two-level.

    ``summ`` holds exactly one row per (``part``, ``bkt``); for each
    ``col -> alias`` in ``nexts``, appends ``alias`` = the ``col`` value
    of the next-larger ``bkt`` row in the same ``part`` (NULL on the
    global last row, exactly like LEAD). The in-super-bucket LEAD runs
    partitioned; the last row of each super-bucket takes its value from
    a LEAD over the per-super-bucket first-row rollup — the only
    residual unpartitioned window, over ``n_buckets / fanout`` rows.
    Stitched ``col``s must be non-null (a NULL would be indistinguishable
    from "last in super-bucket" at the fill step).
    """
    parts = list(part)
    out = _with_super_bucket(summ, bkt, fanout)
    w_in = Window.partitionBy(*parts, _SB).orderBy(bkt)
    tmp_lead = {alias: f"__seam_lead_{alias}" for alias in nexts.values()}
    tmp_first = {alias: f"__seam_first_{alias}" for alias in nexts.values()}
    tmp_next = {alias: f"__seam_next_{alias}" for alias in nexts.values()}
    # The in-super-bucket LEAD goes to a TEMP column; writing the alias here
    # would, for a caller passing nexts={'x': 'x'}, overwrite the source
    # column before the firsts rollup below reads it — the alias is only
    # assigned after every reader of the source column has run.
    for col, alias in nexts.items():
        out = out.withColumn(tmp_lead[alias], F.lead(col).over(w_in))
    firsts = out.groupBy(*parts, _SB).agg(
        *[
            F.min_by(F.col(col), F.col(bkt)).alias(tmp_first[alias])
            for col, alias in nexts.items()
        ]
    )
    w_sb = Window.partitionBy(*parts).orderBy(_SB)
    lvl2 = firsts.select(
        *parts,
        _SB,
        *[
            F.lead(tmp_first[alias]).over(w_sb).alias(tmp_next[alias])
            for alias in nexts.values()
        ],
    )
    out = _null_safe_broadcast_join(out, lvl2, [*parts, _SB])
    for alias in nexts.values():
        out = out.withColumn(
            alias, F.coalesce(F.col(tmp_lead[alias]), F.col(tmp_next[alias]))
        )
    return out.drop(_SB, *tmp_lead.values(), *tmp_next.values())
