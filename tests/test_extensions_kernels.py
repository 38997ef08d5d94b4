"""Property tests for the two subtlest extension-query kernels.

1. The floored-running-balance identity (plans/events.py,
   events_floored_running_balance): with a floor-at-zero clamp,
   ``balance_i = prefix_i - min(0, running_min(prefix_i))`` — two ordinary
   cumulative windows replace the sequential state machine. The oracle gate
   pins it against DuckDB's *same formula*; this test pins the formula
   itself against the obviously-correct sequential fold
   ``S_i = max(0, S_{i-1} + delta_i)`` on hypothesis-generated deltas
   (adversarial shapes: all-negative runs, zero deltas, recovery after deep
   deficit, ties in timestamps resolved by event id).

2. The distributed sort-rank decomposition (value-bucket carry-in +
   bucket-keyed window, used by events_ab_rank_sum / stats_trimmed_mean /
   events_value_gini / stats_ks_two_sample): doubled midranks
   ``2*rank + ties - 1`` computed from per-distinct-value counts must equal
   the textbook global ``2*RANK() + COUNT() OVER (PARTITION BY v) - 1`` —
   verified here against a direct sorted-list computation, including heavy
   tie pileups the parquet fixtures rarely produce.

Pure-Python + pandas on the driver (the kernels are arithmetic identities;
the Spark plan shapes are already pinned by the oracle gate and
test_plan_shapes), so the file runs in milliseconds.
"""

from __future__ import annotations

import pytest

try:
    from hypothesis import given, settings, strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)


# --- 1. floored running balance ------------------------------------------------

@given(
    deltas=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=0, max_size=60
    )
)
@settings(max_examples=300, deadline=None)
def test_clamp_identity_matches_sequential_fold(deltas):
    # sequential truth: the state machine a row-at-a-time consumer runs
    bal, seq = 0, []
    for d in deltas:
        bal = max(0, bal + d)
        seq.append(bal)

    # the two-window identity the Spark plan uses
    prefix, runmin, out = 0, 0, []
    for d in deltas:
        prefix += d
        runmin = min(runmin, prefix)
        out.append(prefix - (runmin if runmin < 0 else 0))

    assert out == seq


@given(
    deltas=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    )
)
@settings(max_examples=200, deadline=None)
def test_clamp_identity_floor_hits(deltas):
    # a floor HIT (the query's n_floor_hits) is a debit row where the
    # clamped balance lands exactly on zero; cross-check the window-side
    # predicate (prefix == waterline and prefix <= 0 and delta < 0)
    # against the sequential definition (delta < 0 and new balance == 0).
    bal, hits_seq = 0, 0
    for d in deltas:
        bal = max(0, bal + d)
        if d < 0 and bal == 0:
            hits_seq += 1

    prefix, runmin, hits_win = 0, 0, 0
    for d in deltas:
        prefix += d
        runmin = min(runmin, prefix)
        waterline = runmin if runmin < 0 else 0
        if d < 0 and prefix == waterline and prefix <= 0:
            hits_win += 1

    assert hits_win == hits_seq


# --- 2. sort-rank decomposition (doubled midranks) ------------------------------

def _textbook_mid2(values):
    """name -> doubled midrank per row, straight from the definition:
    2*RANK() + |ties| - 1 over the fully sorted list."""
    s = sorted(values)
    first_idx = {}
    count = {}
    for i, v in enumerate(s):
        first_idx.setdefault(v, i + 1)  # RANK() = 1 + #strictly smaller
        count[v] = count.get(v, 0) + 1
    return {v: 2 * first_idx[v] + count[v] - 1 for v in count}


@given(
    values=st.lists(
        st.integers(min_value=-5, max_value=5), min_size=1, max_size=80
    ),
    bucket_width=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=300, deadline=None)
def test_bucket_carry_midranks_match_global_rank(values, bucket_width):
    # the distributed form: per-distinct-value counts, bucketed by
    # value div width; carry-in = total count of all earlier buckets;
    # within-bucket running count supplies the rest.
    from collections import Counter

    cnt = Counter(values)
    buckets = {}
    for v, c in cnt.items():
        # the decomposition is sound for ANY non-decreasing bucketing
        # (the queries use `div` on non-negative cents; Python floor-div
        # here is just another monotone choice, exercising negatives too)
        buckets.setdefault(v // bucket_width, []).append((v, c))

    mid2 = {}
    carry_base = 0
    for b in sorted(buckets):
        rows = sorted(buckets[b])
        running = 0
        for v, c in rows:
            before = carry_base + running  # strictly-smaller count
            # all c ties of v share doubled midrank 2*(before+1) + c - 1
            mid2[v] = 2 * (before + 1) + c - 1
            running += c
        carry_base += sum(c for _, c in rows)

    assert mid2 == _textbook_mid2(values)


@given(
    values=st.lists(
        st.integers(min_value=-5, max_value=5), min_size=2, max_size=80
    )
)
@settings(max_examples=200, deadline=None)
def test_rank_sum_u_statistic_invariant(values):
    # U_A + U_B == nA*nB for any tie pattern — the internal consistency
    # check on the doubled-midrank arithmetic events_ab_rank_sum relies on
    # (R2A = sum of doubled midranks of arm A; U2A = R2A - nA*(nA+1)).
    arms = [("A" if i % 2 == 0 else "B", v) for i, v in enumerate(values)]
    mid2 = _textbook_mid2([v for _, v in arms])
    na = sum(1 for a, _ in arms if a == "A")
    nb = len(arms) - na
    r2a = sum(mid2[v] for a, v in arms if a == "A")
    r2b = sum(mid2[v] for a, v in arms if a == "B")
    u2a = r2a - na * (na + 1)
    u2b = r2b - nb * (nb + 1)
    # doubled U statistics: U_A + U_B == nA*nB holds for any tie pattern
    assert u2a + u2b == 2 * na * nb
    # and each doubled U stays in its exact bounds
    assert 0 <= u2a <= 2 * na * nb and 0 <= u2b <= 2 * na * nb


# --- 3. crossing-bucket weighted median ------------------------------------------

def _brute_weighted_median(pairs):
    """Smallest v with 2 * cumweight(v) >= totalweight, by definition."""
    tw = sum(w for _, w in pairs)
    cum = 0
    for v, w in sorted(
        (v, sum(w2 for v2, w2 in pairs if v2 == v))
        for v in {v for v, _ in pairs}
    ):
        cum += w
        if 2 * cum >= tw:
            return v
    raise AssertionError("unreachable for non-empty input")


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),  # value
            st.integers(min_value=1, max_value=9),  # weight
        ),
        min_size=1,
        max_size=60,
    ),
    bucket_width=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=300, deadline=None)
def test_crossing_bucket_weighted_median(pairs, bucket_width):
    # the stats_weighted_median decomposition: per-distinct-value weights,
    # bucket rollup, carry-in cumulation, select the ONE crossing bucket,
    # open only it. Any non-decreasing bucketing must select the same
    # bucket and the same median as the brute definition.
    from collections import defaultdict

    wsum = defaultdict(int)
    for v, w in pairs:
        wsum[v] += w
    tw = sum(wsum.values())

    buckets = defaultdict(list)
    for v, w in wsum.items():
        buckets[v // bucket_width].append((v, w))
    bw = {b: sum(w for _, w in rows) for b, rows in buckets.items()}

    carry, crossing = 0, None
    for b in sorted(buckets):
        if 2 * carry < tw <= 2 * (carry + bw[b]):
            crossing = (b, carry)
        carry += bw[b]
    assert crossing is not None, "exactly one bucket must cross the half"

    b, carry_in = crossing
    cum = carry_in
    median = None
    for v, w in sorted(buckets[b]):
        cum += w
        if 2 * cum >= tw:
            median = v
            break
    assert median == _brute_weighted_median(pairs)


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=60,
    ),
    bucket_width=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=200, deadline=None)
def test_crossing_bucket_is_unique(pairs, bucket_width):
    # the Spark plan relies on the crossing predicate selecting EXACTLY
    # one bucket per key (its join would duplicate rows otherwise)
    from collections import defaultdict

    wsum = defaultdict(int)
    for v, w in pairs:
        wsum[v] += w
    tw = sum(wsum.values())
    buckets = defaultdict(int)
    for v, w in wsum.items():
        buckets[v // bucket_width] += w

    carry, n_crossing = 0, 0
    for b in sorted(buckets):
        if 2 * carry < tw <= 2 * (carry + buckets[b]):
            n_crossing += 1
        carry += buckets[b]
    assert n_crossing == 1


# --- 4. bucket-seam sequence-gap decomposition ------------------------------------

def _brute_gaps(keys):
    s = sorted(set(keys))
    return [
        (a + 1, b - 1)
        for a, b in zip(s, s[1:])
        if b - a > 1
    ]


@given(
    keys=st.sets(
        st.integers(min_value=0, max_value=400), min_size=1, max_size=120
    ),
    bucket_width=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=300, deadline=None)
def test_bucket_seam_gap_decomposition(keys, bucket_width):
    # dq_sequence_gaps' decomposition: within-bucket LEAD gaps plus
    # seam gaps from the per-bucket (min, max) summary must equal the
    # global consecutive-difference scan, for ANY bucket width —
    # including widths of 1 (every gap is a seam) and widths larger
    # than the key range (every gap is in-bucket).
    from collections import defaultdict

    buckets = defaultdict(list)
    for k in keys:
        buckets[k // bucket_width].append(k)

    gaps = []
    for b, ks in buckets.items():
        ks = sorted(ks)
        for a, nxt in zip(ks, ks[1:]):
            if nxt - a > 1:
                gaps.append((a + 1, nxt - 1))
    summ = sorted((b, min(ks), max(ks)) for b, ks in buckets.items())
    for (_, _, bmax), (_, nmin, _) in zip(summ, summ[1:]):
        if nmin - bmax > 1:
            gaps.append((bmax + 1, nmin - 1))

    assert sorted(gaps) == _brute_gaps(keys)


@given(
    keys=st.sets(
        st.integers(min_value=0, max_value=400), min_size=1, max_size=120
    ),
    bucket_width=st.integers(min_value=1, max_value=64),
    fanout=st.integers(min_value=1, max_value=16),
)
@settings(max_examples=300, deadline=None)
def test_two_level_seam_gap_decomposition(keys, bucket_width, fanout):
    # dq_sequence_gaps' TWO-LEVEL form (operators/seams.py two_level_next):
    # the seam LEAD over the bucket summary itself runs partitioned by
    # super-bucket (bkt // fanout), and the last summary row of each
    # super-bucket takes its "next bmin" from a LEAD over the per-super-
    # bucket first-bmin rollup. For ANY (bucket_width, fanout) — including
    # fanout 1 (every seam crosses a super-bucket) — in-bucket gaps plus
    # the stitched seam gaps must equal the global scan.
    from collections import defaultdict

    buckets = defaultdict(list)
    for k in keys:
        buckets[k // bucket_width].append(k)

    gaps = []
    for b, ks in buckets.items():
        ks = sorted(ks)
        for a, nxt in zip(ks, ks[1:]):
            if nxt - a > 1:
                gaps.append((a + 1, nxt - 1))

    summ = sorted((b, min(ks), max(ks)) for b, ks in buckets.items())
    # level-1: LEAD(bmin) within each super-bucket
    nmin = {}
    for (b, bmin, bmax), (b2, nmin2, _) in zip(summ, summ[1:]):
        if b // fanout == b2 // fanout:
            nmin[b] = nmin2
    # level-2: per-super-bucket first bmin, LEAD over the rollup fills the
    # last summary row of each super-bucket
    firsts = {}
    for b, bmin, _ in summ:
        firsts.setdefault(b // fanout, bmin)
    sbs = sorted(firsts)
    next_first = {a: firsts[b] for a, b in zip(sbs, sbs[1:])}
    for b, _, _ in summ:
        if b not in nmin and b // fanout in next_first:
            nmin[b] = next_first[b // fanout]

    for b, _, bmax in summ:
        if b in nmin and nmin[b] - bmax > 1:
            gaps.append((bmax + 1, nmin[b] - 1))

    assert sorted(gaps) == _brute_gaps(keys)
