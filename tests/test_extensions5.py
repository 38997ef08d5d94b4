"""Operator-level contracts for the part-5 extension surface.

The oracle-paired registry queries pin cross-engine values at sf0.01; these
tests pin the semantics on tiny hand-built frames — containment's asymmetry
(the property Jaccard cannot express), split-assignment determinism and
filter-commutation, random-projection linearity, and IQR fence arithmetic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from postgresql_cdc_spark.operators.dedup import (
    containment_pairs,
    ngram_jaccard_pairs,
)


def _w(a: int, b: int) -> str:
    return " ".join(f"w{i}" for i in range(a, b + 1))


def _pairs(spark, rows, **kw):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = containment_pairs(df, "text", "doc_id", **kw).collect()
    spark.catalog.clearCache()
    return sorted((r.id_a, r.id_b, r.containment) for r in out)


class TestContainment:
    def test_doc_fully_inside_long_doc_scores_one(self, spark):
        # B = A's tokens 1..20; every one of B's 18 shingles appears in A.
        rows = [(1, _w(1, 100)), (2, _w(1, 20))]
        got = _pairs(spark, rows, threshold=0.9)
        assert got == [(1, 2, 1.0)]

    def test_jaccard_misses_what_containment_catches(self, spark):
        # Same pair: Jaccard = 18/98 ≈ 0.18 — far below any near-dup
        # threshold, which is exactly the doc-in-doc blind spot.
        df = spark.createDataFrame(
            [(1, _w(1, 100)), (2, _w(1, 20))], ["doc_id", "text"]
        )
        jac = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
        spark.catalog.clearCache()
        assert jac == []

    def test_disjoint_docs_produce_no_pairs(self, spark):
        rows = [(1, _w(1, 30)), (2, _w(100, 130))]
        assert _pairs(spark, rows, threshold=0.1) == []

    def test_threshold_filters(self, spark):
        # B = A's tokens 1..10 plus 10 junk tokens: 8 of B's 18 shingles
        # hit A => containment 8/18 ≈ 0.444.
        rows = [(1, _w(1, 50)), (2, _w(1, 10) + " " + _w(200, 209))]
        assert _pairs(spark, rows, threshold=0.5) == []
        got = _pairs(spark, rows, threshold=0.4)
        assert len(got) == 1 and abs(got[0][2] - 8 / 18) < 1e-6


class TestSplitAssign:
    def test_deterministic_and_filter_commuting(self, spark, sf_dir):
        from postgresql_cdc_spark.plans import QUERIES

        q = QUERIES["corpus_split_assign"].spark
        a = {r.doc_id: r.split for r in q(spark, sf_dir).collect()}
        b = {r.doc_id: r.split for r in q(spark, sf_dir).collect()}
        assert a == b  # rerun-stable: no randomness, no row-position input
        # membership is a pure function of doc_id: any subset assigns the
        # same splits (re-sharding/filtering cannot leak docs across splits)
        sub = {
            r.doc_id: r.split
            for r in q(spark, sf_dir).where(F.col("doc_id") % 3 == 0).collect()
        }
        assert sub == {k: v for k, v in a.items() if k % 3 == 0}

    def test_all_three_splits_present(self, spark, sf_dir):
        from postgresql_cdc_spark.plans import QUERIES

        q = QUERIES["corpus_split_assign"].spark
        splits = {r.split for r in q(spark, sf_dir).collect()}
        assert splits == {"train", "val", "test"}


class TestRandomProjection:
    def test_projection_is_linear_in_quantized_input(self, spark, sf_dir):
        """p(2v) uses q=floor(2000x) = 2*floor(1000x) only when exact; use
        a vector of exact millis so doubling commutes — pins that the
        projection is the advertised linear map, not an opaque hash."""
        from postgresql_cdc_spark.operators.similarity import (
            hyperplane_weights,
        )

        v = [i / 1000.0 for i in range(64)]  # exact millis
        df = spark.createDataFrame([(1, v), (2, [2 * x for x in v])],
                                   ["vec_id", "embedding"])
        from postgresql_cdc_spark.plans import retrieval

        w = hyperplane_weights("rp", retrieval._RP_PLANES, retrieval._RP_DIM)
        q = [int(x * 1000) for x in v]
        expect = [
            sum(int(wi) * qi for wi, qi in zip(plane, q)) for plane in w
        ]

        b = df.select(
            "vec_id",
            F.expr(
                "transform(CAST(embedding AS ARRAY<DOUBLE>), "
                "x -> CAST(floor(x * 1000) AS BIGINT))"
            ).alias("q"),
        )
        p = b.select(
            "vec_id",
            F.expr(
                f"transform({retrieval._rp_wmat_spark()}, wp -> "
                "aggregate(zip_with(q, wp, (x, y) -> x * y), "
                "0L, (acc, x) -> acc + x))"
            ).alias("proj"),
        ).collect()
        got = {r.vec_id: list(r.proj) for r in p}
        assert got[1] == expect
        assert got[2] == [2 * x for x in expect]


class TestOutliersIqr:
    def test_fences_flag_exactly_the_planted_outliers(self, spark):
        from postgresql_cdc_spark.plans import QUERIES
        import tempfile, os

        # 20 values 1.0..2.0 plus one wild point per side
        vals = [1.0 + i * 0.05 for i in range(21)] + [100.0, -100.0]
        rows = [(i, "2024-01-01 00:00:00", 1, "t", v, "{}")
                for i, v in enumerate(vals)]
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows,
                "event_id long, ts string, user_id long, event_type string,"
                " value double, props string",
            ).select(
                "event_id", F.col("ts").cast("timestamp").alias("ts"),
                "user_id", "event_type", "value", "props",
            ).write.parquet(os.path.join(d, "events.parquet"))
            out = QUERIES["events_outliers_iqr"].spark(spark, d).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.n, r.n_hi, r.n_lo) == (23, 1, 1)
        # p25/p75 are actual data elements in micros
        assert r.p25_micros in {int(v * 1e6) for v in vals}
        assert r.p75_micros in {int(v * 1e6) for v in vals}


class TestContainmentBruteForce:
    def test_matches_python_set_arithmetic_on_seeded_corpus(self, spark):
        """containment_pairs == literal set arithmetic over every pair, on a
        corpus random enough to hit seam shingles, short docs, and repeated
        tokens (max_df high so the stop-shingle cap stays out of the way —
        its effect is pinned separately by the oracle-paired query)."""
        import itertools
        import random

        from postgresql_cdc_spark.operators.dedup import containment_pairs

        rng = random.Random(11)
        vocab = [f"t{i}" for i in range(30)]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
            for i in range(40)
        ]

        def sh(text):
            toks = [t for t in text.split() if t]
            return {
                " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
            }

        threshold = 0.3
        want = {}
        for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
            A, B = sh(ta), sh(tb)
            if not A or not B:
                continue
            cont = round(len(A & B) / min(len(A), len(B)), 6)
            if cont >= threshold:
                want[(ia, ib)] = cont

        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            (r.id_a, r.id_b): r.containment
            for r in containment_pairs(
                df, "text", "doc_id", threshold=threshold, max_df=10**9
            ).collect()
        }
        spark.catalog.clearCache()
        assert got == want


class TestFuzzyLinkage:
    def test_symmetric_delete_recall_guarantee(self, spark, sf_dir):
        """Every planted single-substitution dirty record MUST link back to
        its master (SymSpell guarantee: distance-1 pairs share a 1-deletion
        key), and the link is exact-verified at lev <= 1."""
        from postgresql_cdc_spark.plans import QUERIES

        rows = QUERIES["fuzzy_name_match"].spark(spark, sf_dir).collect()
        links = {(r.dirty_id, r.master_id): r.lev for r in rows}
        import duckdb  # planted ids derive from the fixture directly
        planted = [
            k for (k,) in duckdb.sql(
                f"SELECT c_custkey FROM read_parquet('{sf_dir}/customer.parquet')"
                " WHERE c_custkey % 11 = 0"
            ).fetchall()
        ]
        for k in planted:
            assert (k + 100000, k) in links, f"planted pair for {k} missed"
            assert links[(k + 100000, k)] == 1
        # and nothing links at distance > 1
        assert all(v <= 1 for v in links.values())

    def test_recall_all_three_edit_kinds(self, spark):
        """The symmetric-delete index must block substitution, insertion,
        AND deletion pairs. Insertions/deletions only share a key because
        the shorter string is indexed under itself (identity key) — the
        1-deletion keys of 'abc' are all length 2 while those of 'abcd' are
        length 3, so deletion-only indexing silently drops those matches."""
        import itertools

        from pyspark.sql import functions as F

        from postgresql_cdc_spark.plans.dedup import sym_del_keys

        masters = [(1, "abcd"), (2, "zzzz"), (3, "hello")]
        dirty = [
            (101, "aXcd", 1),   # substitution
            (102, "abcde", 1),  # insertion (dirty longer)
            (103, "abc", 1),    # deletion (dirty shorter)
            (104, "heXlo", 3),  # substitution
            (105, "helo", 3),   # deletion
            (106, "qqqq", 0),   # no master within distance 1
        ]
        m = spark.createDataFrame(masters, ["master_id", "master_name"])
        d = spark.createDataFrame(
            [(i, s) for i, s, _ in dirty], ["dirty_id", "dirty_name"]
        )
        mk = m.select(
            "master_id", "master_name",
            F.explode(sym_del_keys("master_name")).alias("k"),
        )
        dk = d.select(
            "dirty_id", "dirty_name",
            F.explode(sym_del_keys("dirty_name")).alias("k"),
        )
        cand = (
            dk.join(mk, "k")
            .select("dirty_id", "master_id", "dirty_name", "master_name")
            .distinct()
        )
        got = {
            (r.dirty_id, r.master_id)
            for r in cand.where(
                F.levenshtein("dirty_name", "master_name") <= 1
            ).collect()
        }
        # brute-force truth over all pairs
        lev = self._lev
        want = {
            (di, mi)
            for (di, ds, _), (mi, ms) in itertools.product(dirty, masters)
            if lev(ds, ms) <= 1
        }
        assert got == want
        assert (102, 1) in got and (103, 1) in got  # the old blind spot

    @staticmethod
    def _lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]


class TestPerceptualHash:
    def test_ahash_chunks_hand_computed(self, spark):
        from postgresql_cdc_spark.operators import multimodal as mm

        # payload 'ab' -> bytes [97, 98] + 62 zero pad; mean = 195//64 = 3
        # bits 0 and 1 set -> c0 = 0b11 = 3, c1..c3 = 0
        df = spark.createDataFrame([(1, "ab")], ["doc_id", "text"])
        r = mm.perceptual_ahash_chunks(mm.attach_binary(df)).collect()[0]
        assert (r.c0, r.c1, r.c2, r.c3) == (3, 0, 0, 0)

    def test_identical_heads_pair_at_distance_zero(self, spark):
        from postgresql_cdc_spark.operators import multimodal as mm

        base = "x" * 70  # first 64 bytes identical; tails differ
        df = spark.createDataFrame(
            [(1, base + "AAA"), (2, base + "BBB"), (3, "totally different")],
            ["doc_id", "text"],
        )
        pairs = mm.phash_dup_pairs(
            mm.perceptual_ahash_chunks(mm.attach_binary(df)), max_distance=0
        ).collect()
        spark.catalog.clearCache()
        assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]

    def test_pigeonhole_blocking_never_misses_distance_3(self, spark):
        """Flip exactly 3 bits across three different chunks of a hash by
        crafting byte payloads; the pair must still surface (distance <= 3
        guarantees one untouched chunk)."""
        from postgresql_cdc_spark.operators import multimodal as mm

        # bytes chosen so mean stays 0-ish and single bytes control bits:
        # doc1: bytes 0..63 all 0 except byte 10 = 200
        # doc2: same, plus bytes 20, 40, 55 = 200 (3 extra bits, 3 chunks)
        def payload(hot):
            # ASCII-only so attach_binary's UTF-8 encode is byte-identity
            # (a high byte would expand to two bytes and shift positions);
            # fill byte 1 avoids NULs, hot byte 126 ('~') exceeds the mean.
            return "".join(
                chr(126) if i in hot else chr(1) for i in range(64)
            )

        df = spark.createDataFrame(
            [(1, payload({10})), (2, payload({10, 20, 40, 55}))],
            ["doc_id", "text"],
        )
        pairs = mm.phash_dup_pairs(
            mm.perceptual_ahash_chunks(mm.attach_binary(df)), max_distance=3
        ).collect()
        spark.catalog.clearCache()
        assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 3)]
