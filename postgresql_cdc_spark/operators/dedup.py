"""Deduplication operators for training-data pipelines.

Five families, each shuffle-conscious and expressible against a DuckDB oracle:

- ``exact_dedup``          — hash-groupBy on a normalized content hash; one
                             shuffle on the 60-bit hash key, map-side partial
                             aggregation, no UDF.
- ``minhash_signature`` /
  ``minhash_lsh_pairs``    — shingle → k-minhash → band buckets → bucket
                             self-join. The join key is (band, band-hash), so
                             candidate generation is a co-partitioned equi-join
                             — never an all-pairs cross join. Verification
                             computes exact shingle Jaccard only on candidates.
- ``simhash_fingerprint`` /
  ``simhash_pairs``        — 60-bit simhash (full h60 width); near-dup
                             candidates share at least one of 4 15-bit chunks
                             (Hamming ≤3 ⇒ some chunk equal by pigeonhole) —
                             32,768 blocking values per chunk, so candidates
                             grow ~N·cluster_size, not N²/256 as the old
                             8-bit-chunk geometry did. Hot chunk values are
                             capped like MinHash buckets; exact Hamming
                             filter via bit ops.
- ``ngram_jaccard_pairs``  — exact n-gram Jaccard via explode + equi-join on
                             shingle hash; scalable because the join fans out
                             per *matching shingle*, not per document pair.
- ``embedding_near_dups``  — random-hyperplane LSH over embeddings → bucket
                             join → exact cosine filter (see similarity.py).

Plus the ingest-time variant: ``build_lsh_index`` materializes a corpus's
MinHash index as three skinny tables (band buckets, sizes, shingle postings)
and ``minhash_lsh_incremental`` probes it with a new batch — batch→corpus
matches only, no corpus self-join, so daily-ingest cost is independent of
corpus size.

Scale: every pipeline is (projection) → (equi-join or groupBy on a hash key).
Skewed buckets (a shingle shared by millions of docs) are the classic hazard:
``max_bucket`` caps bucket width, dropping degenerate buckets like the
empty-shingle one — standard practice (stop-shingle removal) in web-scale
dedup.

Caching contract: pipelines ``persist()`` skinny intermediates that feed
multiple plan branches (signatures, posting lists). Lazy evaluation means the
operator cannot unpersist them before the caller materializes the result, so
*callers in long-lived sessions own cleanup*: call
``spark.catalog.clearCache()`` (or ``unpersist()`` the inputs) once the
result is written — the bench harness does exactly this between queries.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

from postgresql_cdc_spark.operators.text import h60, raw_shingles, shingles, tokens

# SQL twin of text.h60 — the hot kernels below are generated as SQL strings
# and parsed JVM-side with one F.expr call; building the same trees through
# the Column API costs thousands of py4j round trips (see similarity._dot_sql).
_H60_SQL = "CAST(CONV(SUBSTRING(MD5({x}), 1, 15), 16, 10) AS BIGINT)"

# Affine minhash family over ONE base hash per shingle:
#     member_i(h) = (A_i * (h mod P) + B_i) mod P,   P = 2^31 - 1.
# The old family ran k independent seeded md5 passes per shingle — k× the
# dominant per-row kernel a 100 TB corpus pays. This derives all k members
# from a single md5-based h60 via integer mixes (a classic universal-hash
# construction). Reducing h mod P first keeps every product below 2^62, so
# Spark and DuckDB both evaluate in exact signed-64 arithmetic with identical
# truncated-% semantics on the nonnegative operands — the oracle
# (plans/extensions.py) replicates bit-for-bit. Constants are fixed (arbitrary
# mixed odd multipliers < P) so both engines stay in lockstep.
MH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
MH_AB = [
    (1103515245, 12345),
    (1588635695, 2531011),
    (1117695901, 69069),
    (213486571, 362437),
    (400005573, 1013904223),
    (1831565813, 88675123),
    (1203248689, 1234567),
    (1495353107, 7654321),
    (661657741, 43112609),
    (910959241, 25964951),
    (1107070793, 30402457),
    (1754662069, 20996011),
]


def _mh_member_sql(h: str, i: int) -> str:
    a, b = MH_AB[i]
    return f"(CAST({a} AS BIGINT) * ({h} % {MH_P}) + {b}) % {MH_P}"


def _mh_member(i: int):
    """Column-API twin of ``_mh_member_sql`` as a ONE-parameter callable —
    PySpark HOFs call a two-parameter callable (even with a default) as
    (element, index), so the family index must be bound here, not defaulted."""
    a, b = MH_AB[i]
    return lambda h: (F.lit(a).cast("long") * (h % MH_P) + b) % MH_P


def _band_keys_from_shh_sql(shh_col: str, bands: int, rows: int) -> str:
    """Band keys computed directly from the pre-hashed shingle array in ONE
    expression: every minhash family member appears exactly once, so there is
    no signature column for Catalyst to inline k times (the plan bug that
    cost 430x before the sig persist) and no intermediate frame to persist —
    one fewer job and cached artifact per pipeline run."""
    entries = []
    for b in range(bands):
        parts = ", ".join(
            "CAST(array_min(transform(`%s`, h -> %s)) AS STRING)"
            % (shh_col, _mh_member_sql("h", b * rows + r))
            for r in range(rows)
        )
        bucket = _H60_SQL.format(x=f"concat_ws(',', {parts})")
        entries.append(f"struct({b} AS band, {bucket} AS bucket)")
    return "array(" + ", ".join(entries) + ")"

# Default LSH geometry: k = bands * rows_per_band signatures.
BANDS = 4
ROWS_PER_BAND = 3


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct normalized content; keeps the min id as canonical.

    Returns (content_hash, canonical_id, n_dups).
    """
    key = h60(F.concat_ws(" ", tokens(F.col(text_col)))).alias("content_hash")
    return (
        df.select(key, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def minhash_signature(text: Column, k: int = BANDS * ROWS_PER_BAND,
                      n: int = 3) -> Column:
    """k-element minhash signature over word n-gram shingles.

    One md5-based h60 per shingle, k affine mixes (see ``MH_AB``) — all
    JVM-side. Docs with fewer than n tokens get a null signature (cannot be
    near-dup candidates).
    """
    shh = F.transform(shingles(tokens(text), n), h60)
    sig = F.array(*[
        F.array_min(F.transform(shh, _mh_member(i))) for i in range(k)
    ])
    return F.when(F.size(shh) > 0, sig).otherwise(
        F.lit(None).cast("array<long>")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    bands: int = BANDS,
    rows: int = ROWS_PER_BAND,
    ngram: int = 3,
    max_bucket: int = 50,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    candidates: explode band keys → self-join on (band, bucket) →
    size-ratio prune → distinct pair. verify: exact shingle Jaccard via
    array_intersect per candidate pair (no signatures in the verdict —
    LSH only prunes).
    """
    if bands * rows > len(MH_AB):
        raise ValueError(
            f"bands*rows={bands * rows} exceeds the {len(MH_AB)} fixed "
            "minhash family members (extend MH_AB and its DuckDB twin)"
        )
    # base holds PRE-HASHED shingles (one md5 per shingle, total): it is
    # consumed by THREE branches (band keys, sizes, posting list) and the
    # posting list by both join sides — without persist Spark re-runs the
    # tokenize+shingle+hash scan once per reference (measured 4x the pipeline
    # cost at sf0.1). Persist BEFORE the size filter: the filter would
    # otherwise evaluate the shingle expression a second time in the uncached
    # branch (filter condition + projection), and the handful of shingle-less
    # rows it would exclude cost nothing to cache. Skinny intermediates only —
    # the same role a checkpointed shingle table plays in a production-scale
    # dedup pipeline; spills to disk automatically if they outgrow memory.
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(shingles(tokens(F.col(text_col)), ngram), h60).alias("shh"),
    ).persist()
    base = hashed.where(F.size("shh") > 0)

    # band keys straight from shh in one generated expression — every minhash
    # member is named exactly once, so nothing is recomputed and no signature
    # frame needs persisting (see _band_keys_from_shh_sql). Bucket rows CARRY
    # the owning doc's shingle count (one extra int on 4 rows/doc): the
    # size-ratio prune (Jaccard <= min/max) then applies inside the bucket
    # self-join — BEFORE the distinct — and the two post-candidate size
    # joins (plus their broadcast builds) disappear outright (r17: 19 -> 17
    # Spark jobs per run, identical pairs).
    buckets = (
        base.select(
            "id",
            F.size("shh").alias("n_sh"),
            F.explode(
                F.expr(_band_keys_from_shh_sql("shh", bands, rows))
            ).alias("bk"),
        )
        .select(
            "id", "n_sh",
            F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"),
        )
        .persist()
    )
    # cap pathological buckets (skew guard). The POST-anti-join frame is
    # persisted too (r18): both self-join sides read it, and without this
    # the hot-bucket aggregate + its broadcast build execute once PER SIDE
    # (two HashAggregate+Exchange+BroadcastExchange subtrees in the r17
    # plan). Both caches are skinny 4-rows/doc bucket keys.
    wide = buckets.groupBy("band", "bucket").count().where(F.col("count") > max_bucket)
    buckets = (
        buckets.join(F.broadcast(wide), ["band", "bucket"], "left_anti")
        .persist()
    )

    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .where(
            F.least(F.col("a.n_sh"), F.col("b.n_sh"))
            >= (threshold - 1e-6)
            * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("na"), F.col("b.n_sh").alias("nb"),
        )
        .distinct()
    )
    # Verification = exact shingle Jaccard per candidate pair via
    # array_intersect over the (distinct) shingle-hash arrays — the
    # candidate set is BOUNDED (LSH collision rate x the hot-bucket cap),
    # so attaching both docs' arrays to each surviving pair moves
    # O(|candidates| x |doc|) values once, where the old posting
    # double-join shuffled the WHOLE corpus posting list (O(sum |doc|)
    # rows) through two joins and a pair aggregate regardless of how few
    # candidates survived. r17 measured at sf0.1: 2.4 s -> 1.7 s warm,
    # 17 -> 15 jobs, identical 255 pairs. (The index-probing incremental
    # path keeps the posting join: two candidate-bounded rewrites measured
    # slower there — see minhash_lsh_incremental.)
    ha, hb = base.alias("ha"), base.alias("hb")
    common = (
        cand.join(ha, cand.id_a == F.col("ha.id"))
        .join(hb, cand.id_b == F.col("hb.id"))
        .select(
            "id_a", "id_b", "na", "nb",
            F.size(F.array_intersect(F.col("ha.shh"), F.col("hb.shh")))
            .alias("n_common"),
        )
    )
    return (
        common.select(
            "id_a", "id_b",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


class LshIndex(NamedTuple):
    """Materializable MinHash-LSH index of a corpus — the three skinny tables
    a deployment writes once at admission time and probes on every ingest:

    - ``buckets``  (id, n_sh, band, bucket): LSH band keys; each row carries
      the owning doc's shingle count so probe joins apply the size-ratio
      prune in place of two post-candidate size joins (r17). n_sh is an
      optimization-only column: probes tolerate a legacy store where it is
      absent (prune skipped) or NULL (row kept) — authoritative sizes come
      from the sizes table
    - ``sizes``    (id, n_sh): shingle count, one row per doc (kept for
      consumers that need per-doc sizes without the 4x band fan-out)
    - ``postings`` (id, sh_hash): shingle posting list, for exact verification

    At 100 TB each is written bucketed/sorted by its join key — buckets by
    (band, bucket), sizes and postings by id — so index-side probe joins read
    co-located data with no corpus-wide shuffle. All three derive from one
    scan of the corpus text.
    """

    buckets: DataFrame
    sizes: DataFrame
    postings: DataFrame


def build_lsh_index(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    bands: int = BANDS,
    rows: int = ROWS_PER_BAND,
    ngram: int = 3,
) -> LshIndex:
    """One-scan LSH index build (see ``LshIndex``). The intermediate
    (id, shingle-hash-array) frame is persisted because all three outputs
    read it; caller clears the cache after materializing (or writing) them —
    same contract as ``minhash_lsh_pairs``."""
    if bands * rows > len(MH_AB):
        raise ValueError(
            f"bands*rows={bands * rows} exceeds the {len(MH_AB)} fixed "
            "minhash family members (extend MH_AB and its DuckDB twin)"
        )
    hashed = corpus.select(
        F.col(id_col).alias("id"),
        F.transform(shingles(tokens(F.col(text_col)), ngram), h60)
        .alias("shh"),
    ).persist()  # skinny (id, shh); read by buckets + sizes + postings
    base = hashed.where(F.size("shh") > 0)
    buckets = (
        base.select(
            "id",
            F.size("shh").alias("n_sh"),
            F.explode(
                F.expr(_band_keys_from_shh_sql("shh", bands, rows))
            ).alias("bk"),
        )
        .select(
            "id", "n_sh", F.col("bk.band").alias("band"),
            F.col("bk.bucket").alias("bucket"),
        )
    )
    sizes = base.select("id", F.size("shh").alias("n_sh"))
    postings = base.select("id", F.explode("shh").alias("sh_hash"))
    return LshIndex(buckets, sizes, postings)


def minhash_lsh_incremental(
    batch: DataFrame,
    corpus: DataFrame | None,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    bands: int = BANDS,
    rows: int = ROWS_PER_BAND,
    ngram: int = 3,
    max_bucket: int = 50,
    corpus_index: LshIndex | None = None,
) -> DataFrame:
    """Ingest-time near-dup check: match each NEW batch document against an
    EXISTING corpus without ever self-joining the corpus.

    Returns (batch_id, corpus_id, jaccard) for every batch→corpus pair whose
    exact shingle Jaccard >= threshold — LSH only prunes candidates, exactly
    like ``minhash_lsh_pairs``.

    Scale shape: the corpus side is an ``LshIndex`` — pass ``corpus_index``
    (e.g. read back from the parquet tables a previous run wrote) and the
    corpus text is never rescanned; pass ``corpus`` and the index is built
    inline from one scan. The batch side is the day's arrivals, orders of
    magnitude smaller; candidates come from probing the bucket index with
    batch-sized keys, so cost is O(|batch| × collision rate) and the corpus
    never pairs with itself. Hot corpus buckets (boilerplate) are dropped
    with the same broadcast anti-join guard as the self-join path. Same
    persist contract as ``minhash_lsh_pairs``: the caller clears the cache
    after materializing the result.
    """
    bi = build_lsh_index(batch, text_col, id_col, bands, rows, ngram)
    ci = corpus_index
    if ci is None:
        if corpus is None:
            raise ValueError("pass either corpus or corpus_index")
        ci = build_lsh_index(corpus, text_col, id_col, bands, rows, ngram)

    # Skew guard on the INDEX side only: a hot corpus bucket pairs with every
    # probing batch doc, so the cap bounds per-key fan-out exactly where the
    # blow-up would happen. (Batch-side buckets are already batch-sized.)
    hot = (
        ci.buckets.groupBy("band", "bucket").count()
        .where(F.col("count") > max_bucket)
    )
    buckets_c = ci.buckets.join(
        F.broadcast(hot.select("band", "bucket")), ["band", "bucket"],
        "left_anti",
    )

    # Size-ratio prune (Jaccard <= min/max) inside the probe join, BEFORE the
    # distinct (r17). r18 schema-drift hardening: n_sh is an OPTIMIZATION
    # column — a persisted index written before the r17 schema change has no
    # n_sh (or NULL n_sh rows after a mixed-epoch mergeSchema read), and a
    # NULL comparison would silently DROP those candidates. The prune is
    # therefore NULL-tolerant (NULL => keep; verification below decides), and
    # the authoritative sizes come from the index's SIZES table, never the
    # bucket rows. A legacy store without the column at all skips the prune.
    bb, cb = bi.buckets.alias("bb"), buckets_c.alias("cb")
    cand = bb.join(cb, ["band", "bucket"])
    if "n_sh" in buckets_c.columns:
        ratio_ok = (
            F.least(F.col("bb.n_sh"), F.col("cb.n_sh"))
            >= (threshold - 1e-6)
            * F.greatest(F.col("bb.n_sh"), F.col("cb.n_sh"))
        )
        cand = cand.where(F.coalesce(ratio_ok, F.lit(True)))
    cand = (
        cand.select(
            F.col("bb.id").alias("batch_id"),
            F.col("cb.id").alias("corpus_id"),
        )
        .distinct()
    )

    # Verification keeps the r17 single-pipeline posting equi-join: the
    # candidate frame joins the batch postings, the result streams the index
    # posting store through the second join's probe (the index side is
    # SCANNED, not shuffled — the pair side is the small build), and one
    # aggregate counts common shingles. Two candidate-bounded rewrites were
    # measured SLOWER here at sf0.1 in process-interleaved A/Bs (r18):
    # collect_list arrays + array_intersect (the r17 minhash_lsh_pairs
    # shape) read 0.82x and broadcast semi-join slices + counting aggregate
    # read 0.68x — on the per-batch probe path the extra shuffle/broadcast-
    # build JOBS cost more than the posting join they bound; bounding the
    # per-batch SCAN of a huge index is a storage-layout problem (partition
    # postings by shingle), not a join-shape one.
    post_b = bi.postings.alias("ia")
    post_c = ci.postings.alias("ib")
    common = (
        cand.join(post_b, cand.batch_id == F.col("ia.id"))
        .join(
            post_c,
            (cand.corpus_id == F.col("ib.id"))
            & (F.col("ia.sh_hash") == F.col("ib.sh_hash")),
        )
        .groupBy("batch_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # Exact sizes come from the index's SIZES table — written by every
    # build_lsh_index vintage — joined AFTER the pair aggregate, where only
    # the handful of surviving pairs pay for the lookup (AQE broadcasts the
    # pair side). The bucket-carried n_sh stays optimization-only (the
    # prune); results no longer depend on it, so legacy and mixed-epoch
    # stores verify exactly (r17 advice: the old bucket-sourced sizes
    # silently dropped every candidate from a pre-n_sh epoch).
    sz_b = bi.sizes.alias("sb")
    sz_c = ci.sizes.alias("sc")
    common = (
        common.join(sz_b, common.batch_id == F.col("sb.id"))
        .join(sz_c, common.corpus_id == F.col("sc.id"))
        .select(
            "batch_id", "corpus_id",
            F.col("sb.n_sh").alias("na"), F.col("sc.n_sh").alias("nb"),
            "n_common",
        )
    )
    return (
        common.select(
            "batch_id", "corpus_id",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_fingerprint(text: Column, bits: int = 60, n: int = 1) -> Column:
    """``bits``-bit simhash over word n-grams (n=1: unigram tokens).

    bit b of the fingerprint = sign of Σ_tokens (±1 by bit b of the token
    hash). Pure higher-order functions — sequence/transform/filter/aggregate —
    so it's one codegen stage, no UDF. DuckDB twin uses the same h60 family.
    """
    sh = F.array_distinct(
        shingles(tokens(text), n) if n > 1 else tokens(text)
    )
    hashes = F.transform(sh, h60)
    n = F.size(hashes)
    fp = F.lit(0).cast("long")
    for b in range(bits):
        # one-parameter closure (see _mh_member note); bit test via mask
        # because F.shiftright can't take a HOF lambda variable
        def bit_set(mask):
            return lambda h: h.bitwiseAND(mask) != 0

        vote = F.size(F.filter(hashes, bit_set(1 << b))) * 2 - n
        fp = fp + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return F.when(F.size(sh) > 0, fp).otherwise(F.lit(None).cast("long"))


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str,
                         bits: int = 60) -> DataFrame:
    """(id, fp) for every doc with ≥1 token — the set-oriented twin of
    ``simhash_fingerprint``.

    Explode + hash-aggregate formulation: one md5 per distinct token, then 60
    conditional sums in a single HashAggregate whose buffer is all fixed-width
    longs (the fast path; map-side partials shrink the shuffle to one row per
    doc). Measured 4.5x faster at sf0.1 than evaluating the per-row HOF fold,
    which re-traverses each token-hash array once per bit. Token-less docs
    produce no rows (cannot be near-dup candidates).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("t"),
    )
    h = toks.select("id", h60(F.col("t")).alias("h"))
    votes = h.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(f"SUM(CAST(shiftright(h, {b}) & 1 AS BIGINT))").alias(f"__b{b}")
            for b in range(bits)
        ],
    )
    fp_sql = " + ".join(
        f"CASE WHEN __b{b} * 2 - n > 0 THEN CAST({1 << b} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return votes.select("id", F.expr(fp_sql).alias("fp"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 60,
    chunks: int = 4,
    max_bucket: int = 100,
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance ≤ max_hamming.

    Pigeonhole blocking: with 4 chunks of 15 bits, Hamming ≤ 3 implies at
    least one chunk matches exactly → candidates come from 4 equi-joins on
    (chunk_id, chunk_value), never a cross join. 15-bit chunks give 32,768
    blocking values, so random collisions are ~N²/32768 per chunk instead of
    the old 8-bit N²/256; ``max_bucket`` additionally drops degenerate hot
    chunk values (broadcast anti-join — the same skew guard MinHash uses).
    Exact distance via bit_count.
    """
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    # fingerprints feed the hot-bucket count AND both self-join sides; persist
    # so the vote computation runs once (measured 3x pipeline cost
    # otherwise). Skinny (id, fp) — two longs per doc.
    fp = simhash_fingerprints(df, text_col, id_col, bits).persist()

    chunked = fp.select(
        "id", "fp",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("fp"), c * chunk_bits).bitwiseAND(mask).alias("val"),
            )
            for c in range(chunks)
        ])).alias("ck"),
    ).select("id", "fp", "ck.chunk", "ck.val")

    hot = chunked.groupBy("chunk", "val").count().where(F.col("count") > max_bucket)
    # persist the post-anti-join frame: both self-join sides read it, and
    # without this the chunk explode, the hot-chunk aggregate and its
    # broadcast build all execute once PER SIDE (r18; same fix as
    # minhash_lsh_pairs). Skinny (id, fp, chunk, val) rows.
    chunked = chunked.join(
        F.broadcast(hot.select("chunk", "val")), ["chunk", "val"], "left_anti"
    ).persist()

    a, b = chunked.alias("a"), chunked.alias("b")
    return (
        a.join(b, ["chunk", "val"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def _shingle_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int,
    max_df: int,
    size_ratio_min: float | None = None,
) -> DataFrame:
    """Shared core of the exact set-similarity joins: (id_a, id_b, na, nb,
    n_common) for every pair sharing at least one non-stop shingle.

    One tokenize+shingle+hash projection (persisted — the filter condition
    and both posting projections would otherwise re-evaluate it), one
    posting explode (persisted — read by the hot-shingle count and both
    join sides), a broadcast stop-shingle anti-join (df > ``max_df``), and
    ONE pair aggregate with the sizes riding through the groupBy keys.
    ``size_ratio_min`` applies the size-ratio prune BEFORE the aggregate
    (Jaccard callers); containment callers pass None — asymmetric pairs
    are their point. Persist contract: the caller clears the cache after
    materializing the result.
    """
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(shingles(tokens(F.col(text_col)), ngram), h60).alias("shh"),
    ).persist()
    base = hashed.where(F.size("shh") > 0)
    posting = (
        base.select(
            "id",
            F.size("shh").alias("n_sh"),
            F.explode("shh").alias("sh_hash"),
        )
        .persist()
    )
    hot = posting.groupBy("sh_hash").count().where(F.col("count") > max_df)
    # persist post-anti-join: both pair-join sides read it; without this the
    # hot-shingle aggregate and its broadcast build run once per side (r18)
    posting = posting.join(F.broadcast(hot), "sh_hash", "left_anti").persist()

    pa, pb = posting.alias("pa"), posting.alias("pb")
    joined = pa.join(pb, "sh_hash").where(F.col("pa.id") < F.col("pb.id"))
    if size_ratio_min is not None:
        # a (10, 100)-sized pair can never reach Jaccard >= size_ratio_min
        # and must not cost groupBy work; epsilon covers round-half-up at
        # 6 decimals in the caller's final filter.
        joined = joined.where(
            F.least(F.col("pa.n_sh"), F.col("pb.n_sh"))
            >= (size_ratio_min - 1e-6)
            * F.greatest(F.col("pa.n_sh"), F.col("pb.n_sh"))
        )
    return joined.groupBy(
        F.col("pa.id").alias("id_a"),
        F.col("pb.id").alias("id_b"),
        F.col("pa.n_sh").alias("na"),
        F.col("pb.n_sh").alias("nb"),
    ).agg(F.count(F.lit(1)).alias("n_common"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    ngram: int = 3,
    max_df: int = 100,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard above threshold.

    Explode shingle hashes → equi-join on shingle → count common → Jaccard.
    ``max_df`` drops shingles appearing in more than that many docs (stop-
    shingles): they explode the join fan-out while contributing nothing to
    high-Jaccard pairs — the standard scalable trick.

    Scale: the posting rows carry the owning doc's shingle count ``n_sh`` (one
    extra int), which buys two things a 100 TB corpus needs:

    - **size-ratio prefilter** — Jaccard(A,B) <= min(|A|,|B|)/max(|A|,|B|)
      (intersection <= min, union >= max), so any pair whose size ratio is
      below the threshold is dropped *before* the pair aggregate. On a
      boilerplate-heavy corpus this removes most of the pair fan-out, the
      dominant shuffle (the standard size filter from set-similarity-join
      literature, e.g. Vernica et al. SIGMOD'10). An epsilon absorbs the final
      round(..., 6), which can round a just-below-threshold value up.
    - the sizes ride through the ``groupBy`` (keys are functionally dependent
      on the ids), so the two post-aggregation size joins disappear — one
      shuffle instead of three.
    """
    common = _shingle_pair_counts(
        df, text_col, id_col, ngram, max_df, size_ratio_min=threshold
    )
    return (
        common.select(
            "id_a", "id_b",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    ngram: int = 3,
    max_df: int = 100,
) -> DataFrame:
    """Exact all-pairs n-gram CONTAINMENT above threshold:
    ``|A∩B| / min(|A|, |B|)``.

    Jaccard misses the doc-in-doc failure mode — a short page fully quoted
    inside a long page scores near-zero Jaccard (the union is dominated by
    the long page) but containment ~1. This is the asymmetric near-dup
    family a training-corpus build runs alongside Jaccard to catch excerpt
    pages, syndicated snippets, and quote-wrapper boilerplate.

    Same scale shape as ``ngram_jaccard_pairs`` — pre-hashed shingle
    postings, stop-shingle (df > ``max_df``) pruning, one pair aggregate
    with the sizes riding through the groupBy. The one structural
    difference: the size-ratio prefilter is deliberately ABSENT, because
    containment is exactly the score that asymmetric-size pairs are
    screened for (min(|A|,|B|) is the denominator, so no size ratio bounds
    it). The candidate space is still bounded by the posting equi-join —
    only pairs sharing a non-hot shingle ever meet — so nothing is
    quadratic. Same persist contract as ``minhash_lsh_pairs``: the caller
    clears the cache after materializing the result.

    Reference parity: the reference has no text operators (north-star
    extension per SURVEY.md §2); algorithm per Broder's containment measure
    (resemblance/containment, SEQUENCES'97).
    """
    common = _shingle_pair_counts(
        df, text_col, id_col, ngram, max_df, size_ratio_min=None
    )
    return (
        common.select(
            "id_a", "id_b",
            F.round(
                F.col("n_common") / F.least(F.col("na"), F.col("nb")), 6
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def duplicate_span_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_span: int = 12,
    max_df: int = 20,
    max_occ: int = 10,
) -> DataFrame:
    """EXACT substring dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better"): for every document pair sharing at least
    one duplicated token span of ``min_span``+ tokens, report how many such
    maximal spans they share, the longest one, and their summed length.

    Doc-level near-dup (Jaccard/MinHash) misses the partial-copy failure mode
    — a page quoting 200 tokens of another page verbatim scores low Jaccard
    but still leaks memorizable spans into training data. Substring dedup
    catches exactly that.

    Suffix arrays don't distribute; the Spark-shaped equivalent is
    gaps-and-islands over matching POSITIONAL k-gram hashes:

    1. posting (id, pos, h): one h60 per k-gram occurrence, with its token
       position (``raw_shingles`` keeps multiplicity and order);
    2. equi-join postings on h (id_a < id_b) — candidates fan out per
       *matching k-gram occurrence*, never per document pair;
    3. a run of consecutive matches on one pair lies on one DIAGONAL
       (pos_a - pos_b constant), so ``pos_a - row_number() OVER
       (PARTITION BY id_a, id_b, diag ORDER BY pos_a)`` labels maximal
       islands (the classic gaps-and-islands key — positions within a
       diagonal are unique, so the labeling is deterministic);
    4. an island of m k-grams is a duplicated span of m + k - 1 tokens;
       spans below ``min_span`` tokens are dropped.

    Skew guards, both mirrored in the oracle:

    - ``max_df``  — drop k-grams occurring in more than this many DISTINCT
      docs (boilerplate; a df-capped variant of stop-shingle removal —
      without it the posting join fans out quadratically on templated text);
    - ``max_occ`` — drop (doc, k-gram) groups repeated more than this many
      times within one doc ("spam spam spam…" would otherwise pair every
      occurrence with every occurrence: quadratic in the repeat count on a
      SINGLE pair).

    Scale: the posting join is a hash equi-join on the k-gram hash whose
    per-key fan-out is bounded by max_df x max_occ; the island window
    partitions by (pair, diagonal) — skinny keyed rows, no corpus-wide sort;
    output is one row per offending pair. Same persist contract as the other
    dedup pipelines (caller clears the cache after materializing).

    Returns (id_a, id_b, n_spans, max_span_tokens, dup_tokens); dup_tokens
    sums maximal-span lengths per pair (spans on different diagonals may
    overlap in token range — it is a severity score, not a distinct-token
    count).
    """
    from pyspark.sql.window import Window

    posting = (
        df.select(
            F.col(id_col).alias("id"),
            tokens(F.col(text_col)).alias("tk"),
        )
        .where(F.size("tk") >= k)
        .select(
            "id",
            F.posexplode(F.transform(raw_shingles(F.col("tk"), k), h60)),
        )
        .select("id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("h"))
        .persist()  # read by two guard aggs and both posting join sides
    )
    hot = (
        posting.groupBy("h")
        .agg(F.countDistinct("id").alias("df"))
        .where(F.col("df") > max_df)
    )
    spam = (
        posting.groupBy("id", "h").count().where(F.col("count") > max_occ)
    )
    # persist post-guards: both posting-join sides read the pruned frame;
    # without this BOTH guard aggregates and their broadcast builds execute
    # once per side (r18; same fix as the other pair pipelines)
    pruned = (
        posting.join(F.broadcast(hot.select("h")), "h", "left_anti")
        .join(F.broadcast(spam.select("id", "h")), ["id", "h"], "left_anti")
        .persist()
    )

    pa, pb = pruned.alias("pa"), pruned.alias("pb")
    pairs = (
        pa.join(pb, "h")
        .where(F.col("pa.id") < F.col("pb.id"))
        .select(
            F.col("pa.id").alias("id_a"),
            F.col("pb.id").alias("id_b"),
            F.col("pa.pos").alias("pos_a"),
            (F.col("pa.pos") - F.col("pb.pos")).alias("diag"),
        )
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    spans = (
        pairs.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg((F.count(F.lit(1)) + (k - 1)).alias("span_tokens"))
        .where(F.col("span_tokens") >= min_span)
    )
    return spans.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.max("span_tokens").alias("max_span_tokens"),
        F.sum("span_tokens").alias("dup_tokens"),
    )
