"""Deduplication operators for training-data pipelines (north-star extensions,
BASELINE.json): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
near-dup.

Scale design. Every dedup here follows the same shape: (1) a narrow map stage
computes a compact key/signature per document (pure Column expressions — no
Python); (2) a single shuffle groups by that key (exact/simhash) or by LSH
bucket (minhash/embedding) so candidate pairs only form *within buckets*; (3)
an optional verify stage re-checks candidates exactly. Nothing ever forms the
O(n²) global cross-product; the bucket width bounds pair blow-up, and AQE
splits skewed buckets.

Hash determinism: md5-derived hashes (see ``text.md5_hash64``) so DuckDB
oracles reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from makinage_spark.materialize import materialize, release
from makinage_spark.text import char_ngrams, fingerprint, word_shingles


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: hash-groupBy on the md5 fingerprint,
    keeping the lowest id per group. One shuffle on a 32-char key; map-side
    partial min; no row data moves except the winner ids."""
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__fp")
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    divisor: int = 32,
) -> DataFrame:
    """Content-defined chunking (the storage-dedup primitive behind LBFS /
    restic / borg, here over text payloads): cut a document into chunks
    wherever the rolling ``k``-gram hash ≡ 0 (mod ``divisor``) — boundaries
    are decided by CONTENT, so inserting one byte re-aligns within ~one
    chunk instead of shifting every later boundary the way fixed-size
    blocking does. Expected chunk length = ``divisor`` bytes.

    Returns ``(id_col, fp, clen)`` — one row per chunk, fingerprint +
    length. Everything up to the explode is in-row array algebra over the
    positional gram-hash array (:func:`makinage_spark.text.gram_hashes_of`,
    the same rolling hash winnowing rides) — a narrow map stage,
    embarrassingly parallel at 100 TB; only 16-byte fingerprints and
    lengths leave the plan. Production CDC adds min/max chunk bounds
    (suppressing cuts is a sequential scan the textbook form omits);
    the boundary law here is the pure gear form.
    """
    from makinage_spark.text import gram_hashes_of

    base = (
        df.select(F.col(id_col), F.col(text_col).alias("__t"))
        .withColumn("__L", F.length("__t"))
        .withColumn("__hs", gram_hashes_of(F.col("__t"), k))
    )
    idxs = F.sequence(F.lit(2), F.greatest(F.lit(2), F.size("__hs")))
    cuts = F.filter(
        idxs,
        lambda i: (i <= F.size("__hs"))
        & (F.element_at("__hs", i) % divisor == 0),
    )
    bounds = F.concat(
        F.array(F.lit(1)), cuts, F.array(F.col("__L") + 1)
    )
    chunked = base.withColumn("__b", bounds).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__b") - 1),
                lambda j: F.struct(
                    F.md5(
                        F.substring(
                            F.col("__t"),
                            F.element_at("__b", j),
                            F.element_at("__b", j + 1) - F.element_at("__b", j),
                        )
                    ).alias("fp"),
                    (F.element_at("__b", j + 1) - F.element_at("__b", j))
                    .cast("bigint")
                    .alias("clen"),
                ),
            )
        ).alias("__c"),
    )
    return chunked.select(id_col, F.col("__c.fp").alias("fp"), F.col("__c.clen").alias("clen"))


def exact_dedup_keep(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup returning the full surviving rows (lowest id per fingerprint
    wins — deterministic, unlike ``dropDuplicates`` which keeps an arbitrary
    row)."""
    from pyspark.sql import Window

    w = Window.partitionBy(fingerprint(text_col))
    return df.withColumn("__keep", F.min(id_col).over(w) == F.col(id_col)).filter(
        "__keep"
    ).drop("__keep")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


#: Mersenne prime 2^31-1: modulus of the universal hash family.
MINHASH_PRIME = 2_147_483_647


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for the affine hash family
    ``h_i(x) = (a_i·x + b_i) mod p``. a < 2^20 keeps a·x < 2^52 (no int64
    overflow for 32-bit shingle hashes)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, 1 << 20)), int(rng.integers(0, MINHASH_PRIME)))
        for _ in range(num_hashes)
    ]


def shingle_hashes(text_col: str, ngram: int = 5) -> Column:
    """32-bit integer hash per distinct character n-gram shingle — ONE md5 per
    shingle (first 8 hex digits), shared by every minhash function.
    Cross-engine reproducible: DuckDB ``CAST('0x'||substr(md5(s),1,8) AS BIGINT)``."""
    return F.transform(
        char_ngrams(text_col, ngram),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
    )


def minhash_array(hashes: Column | str, num_hashes: int = 16) -> Column:
    """MinHash signature as ONE array-valued expression: a single fold over the
    shingle-hash set carrying all ``num_hashes`` running minima
    (``acc[i] = min(acc[i], (a_i·h + b_i) mod p)``).

    Single-expression on purpose: the shingle/md5 source array is referenced
    exactly once, so however Catalyst collapses projections it is evaluated
    once per row — the naive "one column per hash function" formulation gets
    its source re-inlined k times by CollapseProject (k× the md5 work).
    """
    h = F.col(hashes) if isinstance(hashes, str) else hashes
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in minhash_params(num_hashes)
        ]
    )
    init = F.array_repeat(F.lit(MINHASH_PRIME).cast("bigint"), num_hashes)
    return F.aggregate(
        h,
        init,
        lambda acc, x: F.zip_with(
            acc, params, lambda m, p: F.least(m, (p["a"] * x + p["b"]) % F.lit(MINHASH_PRIME))
        ),
    )


def minhash_signature(text_col: str, num_hashes: int = 16, ngram: int = 5) -> list[Column]:
    """MinHash signature as ``mh0..mhk`` columns. Convenience/oracle surface —
    each column re-evaluates the fold, so for k minima over large corpora use
    :func:`minhash_array` (one fold) as :func:`minhash_lsh_pairs` does."""
    arr = minhash_array(shingle_hashes(text_col, ngram), num_hashes)
    return [arr[i].alias(f"mh{i}") for i in range(num_hashes)]


def minhash_from_hashes(hashes: Column | str, num_hashes: int = 16) -> list[Column]:
    """Per-column minhash minima over a precomputed shingle-hash array."""
    arr = minhash_array(hashes, num_hashes)
    return [arr[i].alias(f"mh{i}") for i in range(num_hashes)]


def minhash_signature_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    ngram: int = 5,
) -> DataFrame:
    """Signature table ``(id, mh0..mhk)`` — the throughput formulation.

    ``explode(shingle hashes) → groupBy(id).agg(k × min(affine))``: everything
    is whole-stage-codegen'd JVM expressions with map-side partial minima, so
    per-shingle cost is k fused arithmetic ops, not k interpreted lambda
    evaluations (the higher-order-function fold in :func:`minhash_array` is
    ~50× slower per element — kept only for single-expression contexts).
    The pre-explode repartition uses an explicit partition count: AQE would
    coalesce a size-based repartition of a small-file corpus back to one task,
    serializing the md5 pass. Documents with no shingles drop out (they cannot
    be near-duplicates of anything).
    """
    parts = df.sparkSession.sparkContext.defaultParallelism
    from makinage_spark.text import char_ngrams_of, normalize

    # normalize ONCE per row in its own projection (an inlined normalize()
    # subtree would re-run its regexp per shingle inside the transform
    # lambda), and md5 AFTER the explode — one hash per shingle row, no
    # intermediate hash array materialized
    ex = (
        df.select(F.col(id_col), normalize(F.col(text_col)).alias("__norm"))
        .repartition(parts, F.col(id_col))
        .select(F.col(id_col), F.explode(char_ngrams_of(F.col("__norm"), ngram)).alias("__s"))
        .select(
            F.col(id_col),
            F.conv(F.substring(F.md5("__s"), 1, 8), 16, 10).cast("bigint").alias("__h"),
        )
    )
    return ex.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"mh{i}")
            for i, (a, b) in enumerate(minhash_params(num_hashes))
        ]
    )


def _explode_bands(frame: DataFrame, keep: list[str], buckets: list[Column]) -> DataFrame:
    """One ``(*keep, band, bucket)`` row per input row per band, ``band`` =
    the position of its expression in ``buckets``."""
    return frame.select(
        *keep,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), bkt.alias("bucket"))
            for b, bkt in enumerate(buckets)
        ])).alias("bb"),
    ).select(*keep, "bb.band", "bb.bucket")


def _minhash_buckets(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, bands: int, ngram: int
) -> tuple[DataFrame, list[Column]]:
    """The ``(id, mh0..mhk)`` signature table of the non-null-text docs and
    the per-band bucket expressions over it (md5 of the band's minima)."""
    rows_per_band = num_hashes // bands
    if rows_per_band * bands != num_hashes:
        raise ValueError("bands must divide num_hashes")
    df = df.filter(F.col(text_col).isNotNull())
    if df.isStreaming:
        sig = df.select(
            F.col(id_col), *minhash_signature(text_col, num_hashes, ngram)
        )
    else:
        sig = minhash_signature_df(df, text_col, id_col, num_hashes, ngram)
    return sig, [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"mh{b * rows_per_band + r}").cast("string")
                  for r in range(rows_per_band)],
            )
        )
        for b in range(bands)
    ]


def minhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 5,
) -> DataFrame:
    """The shareable LSH index: one ``(id, band, bucket)`` row per document
    per band (bucket = md5 of the band's concatenated minima). This is the
    table a production pipeline MATERIALIZES once per corpus snapshot and
    reuses — self-joined for full-corpus pair mining
    (:func:`minhash_lsh_pairs`) or stream-static-joined to screen newly
    arriving documents against the historical corpus without recomputing
    anything on the static side.

    A STREAMING ``df`` gets its signature from the single-expression in-row
    fold (:func:`minhash_array`) instead of the explode→groupBy throughput
    formulation — bit-identical minima, but NO aggregation in the plan, so
    it runs in append mode (a streaming groupBy would demand watermarked
    state). That is the per-micro-batch side of a stream-static screen;
    batch builds keep the grouped form (the fold is ~50× slower per
    shingle).

    NULL-text docs are dropped by an explicit ``IS NOT NULL`` guard shared
    by BOTH paths (they cannot be near-duplicates of anything). Without it
    the paths diverge on degenerate docs — grouped would bucket them at
    md5('') via a NULL-shingle minima row while the fold maps them to the
    sentinel-minima bucket — and either way all null-text docs collide into
    ONE shared bucket per band, so a stream-static screen would flag every
    degenerate doc as a near-dup candidate of every other."""
    sig, buckets = _minhash_buckets(df, text_col, id_col, num_hashes, bands, ngram)
    return _explode_bands(sig, [id_col], buckets)


def _big_buckets(table: DataFrame, cap: int) -> DataFrame:
    """The ``(band, bucket)`` groups of ``table`` holding more than ``cap``
    rows — one map-side-combined size scan."""
    return (
        table.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__bs"))
        .filter(F.col("__bs") > cap)
        .select("band", "bucket")
    )


def _banded_pairs(
    stacked: DataFrame,
    id_col: str,
    bands: int,
    band_key: Callable[[str, int], Column],
    bucket_cap: int | None = None,
    salt: int | None = None,
    salt_threshold: int = 4096,
    extra: tuple[Column, ...] = (),
) -> DataFrame:
    """Emit-once self-join of an ``(id, band, bucket, …)`` table, shared by
    :func:`minhash_lsh_pairs` and :func:`simhash_pairs`: every pair of
    distinct ids sharing a (band, bucket) group comes out EXACTLY once, as
    ``(a, b, *extra)`` with ``a < b``. ``band_key(side, j)`` is the band-j
    key of the row aliased ``side`` (``"l"``/``"r"``), computed from what
    the row carries; ``extra`` columns may read both aliases and must be
    symmetric in them (salted cross cells can swap the sides). ``id_col``
    values must be unique — uniqueness of the output is by construction.

    **Emit-once instead of distinct (r11 minhash, r12 simhash).** A pair
    that collides in m bands used to be emitted m times and collapsed by a
    global ``distinct()`` — a full shuffle of the PAIR STREAM, the largest
    dataset in the pipeline. Measured on the hot-band fixture (SCALING.md
    r11): enumerating 465M pre-distinct rows took 16.6 s while the plan
    WITH the distinct took 111.7 s — the dedup shuffle was ~85% of the
    cost. Now the join emits a pair only at its FIRST colliding band (for
    all j < band: ``band_key(l, j) != band_key(r, j)``), so the union
    across bands is duplicate-free BY CONSTRUCTION and the pair stream
    never shuffles at all. Same pair set, bit-identical to the old distinct
    (the SQL oracles pin it). The predicate is UNROLLED over the
    compile-time band count with plain expressions, NOT
    slice/zip_with/forall: higher-order-function lambdas are interpreted
    per evaluation, and this predicate runs once per JOIN CANDIDATE — on a
    hot-bucket fixture the HOF form measured 322 s where the unrolled form
    (fully inside whole-stage codegen) and the old distinct-based plan
    measured ~94 s.

    ``bucket_cap``: drop (band, bucket) groups holding more than this many
    rows before the self-join. The capped contract is "pair surfaces iff
    equal in any KEPT band", so the first-hit test must not count an
    earlier equal band whose bucket was DROPPED: each doc also carries
    band-ordered ``__kept`` flags and the suppression term is ``collided
    AND kept``. Only docs that TOUCH a dropped bucket can carry a false
    flag (r12, VERDICT r11 task 2), so the per-doc groupBy runs over
    template members only — everyone else coalesces to the all-true literal
    instead of paying a corpus-wide shuffle on the id.

    ``salt`` (r10, VERDICT task 3): buckets LARGER than ``salt_threshold``
    split into ``salt`` blocks by id-hash and enumerate the triangular block
    grid: left rows carry their block i exploded to targets j ∈ [i, salt),
    right rows carry block j, join key = (band, bucket, j) — the shuffle
    spreads the bucket over ``salt`` reducer keys, each cross cell (i,j)
    runs (s/salt)² work, and every unordered pair lands exactly once
    (same-block cells keep the a<b guard; cross cells take
    least/greatest). Buckets at or under the threshold keep the plain
    self-join — the ~salt/2× left-side row expansion is paid only where it
    buys parallelism."""
    capped = bucket_cap is not None
    if capped:
        # persist the raw band table: three consumers derive from it below
        # (size scan, kept-flag build, the anti-join) and none should
        # recompute the signature pipeline
        stacked = materialize(stacked)
        dropped = _big_buckets(stacked, bucket_cap)
        touched = (
            stacked.join(dropped, ["band", "bucket"], "left_semi")
            .select(id_col)
            .distinct()
        )
        kept_arr = (
            stacked.join(touched, id_col, "left_semi")
            .join(
                dropped.withColumn("__dropped", F.lit(True)),
                ["band", "bucket"],
                "left",
            )
            .select(id_col, "band", F.col("__dropped").isNull().alias("__k"))
            .groupBy(id_col)
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("band", "__k"))),
                    lambda s: s["__k"],
                ).alias("__kept")
            )
        )
        all_true = F.array(*[F.lit(True) for _ in range(bands)])
        stacked = (
            stacked.join(dropped, ["band", "bucket"], "left_anti")
            .join(kept_arr, id_col, "left")
            .withColumn("__kept", F.coalesce(F.col("__kept"), all_true))
        )
    # Persist before the self-join: both join branches would otherwise
    # recompute the whole signature pipeline (a broadcast join has no
    # shuffle exchange for Catalyst to reuse). Same move as materializing the
    # signature table to storage before bucket-joining in a lake pipeline —
    # the band table is tiny relative to the text. It stays held for the
    # lazy result: run repeated calls inside materialize.scope().
    # NOT size_by, and specifically never repartitioned by "bucket"
    # (r8 review): HashPartitioning(bucket) satisfies the self-join's
    # (band, bucket) clustering on BOTH co-partitioned sides, so
    # EnsureRequirements would drop the join exchange. Keeping the exchange
    # lets AQE re-balance INPUT-size skew (many medium buckets hashing into
    # one fat partition); it does NOT split a single mega-bucket's s²
    # OUTPUT amplification — skew detection is input-bytes-based (r10) —
    # that case needs the cap or the salt.
    stacked = materialize(stacked)

    first_hit = F.lit(True)
    for j in range(bands - 1):
        t = (F.col("l.band") <= F.lit(j)) | (band_key("l", j) != band_key("r", j))
        if capped:
            t = t | ~F.col("l.__kept")[j]
        first_hit = first_hit & t

    def self_join(part: DataFrame) -> DataFrame:
        left, right = part.alias("l"), part.alias("r")
        return left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
                first_hit,
            ],
        ).select(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"), *extra
        )

    if salt is None or salt <= 1:
        return self_join(stacked)
    # Fill the persisted band table before the salted path fans out into
    # four consumers (size scan + anti/semi joins + plain self-join):
    # otherwise whichever branch's first action wins the persist fill race
    # recomputes the signature pipeline once more than intended (ADVICE
    # r10). This makes the salted call eager by one tiny cached-side job.
    stacked.count()
    big = _big_buckets(stacked, salt_threshold)
    plain = self_join(stacked.join(big, ["band", "bucket"], "left_anti"))
    bigpart = stacked.join(big, ["band", "bucket"], "left_semi")
    block = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)).cast("int")
    l2 = (
        bigpart.withColumn("__bi", block)
        .withColumn("__bj", F.explode(F.expr(f"sequence(__bi, {salt - 1})")))
        .alias("l")
    )
    r2 = bigpart.withColumn("__bj", block).alias("r")
    salted = (
        l2.join(
            r2,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col("l.__bj") == F.col("r.__bj"),
                (F.col("l.__bi") != F.col("r.__bj"))
                | (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
                first_hit,
            ],
        )
        .select(
            F.least(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("a"),
            F.greatest(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("b"),
            *extra,
        )
    )
    # no distinct: plain and salted partition each band's buckets by size
    # (disjoint), within a leg each unordered pair lands exactly once
    # (a<b guard / triangular grid), and first_hit suppresses every
    # band after a pair's first kept collision
    return plain.unionByName(salted)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 5,
    bucket_cap: int | None = None,
    salt: int | None = None,
    salt_threshold: int = 4096,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash banding.

    ``num_hashes`` minima are split into ``bands`` bands of ``num_hashes/bands``
    rows; documents agreeing on *all* rows of any band become a candidate pair.
    With r rows/band, collision probability is the classic S-curve
    ``1-(1-J^r)^b``.

    Physical plan: signature = narrow map; band bucket = md5 of the band's
    concatenated minima (constant width regardless of r); one shuffle per the
    exploded (band, bucket) key; pairs form by the emit-once equi-join
    *within* buckets only (:func:`_banded_pairs`), each row carrying the
    full band-ordered bucket array ``__bkts`` for the first-hit test.
    Returns distinct ``(a, b)`` pairs with ``a < b``.

    PRECONDITION: ``id_col`` values must be unique (one row per document):
    output uniqueness is BY CONSTRUCTION from unique ids — duplicate-id rows
    would emit one ``(a, b)`` row per colliding row combination. The band
    table (two tables when ``bucket_cap`` is on) stays held for the lazy
    result: run repeated calls inside ``materialize.scope()``. EAGERNESS:
    ``salt > 1`` materializes the band table at DataFrame-construction time
    (one small cached-side count job) — the returned DataFrame is otherwise
    lazy as usual.

    ``bucket_cap`` (off by default, so results are exactly the banding
    semantics): drop (band, bucket) groups holding more than this many docs
    before the self-join. A bucket of size s contributes s² candidate pairs —
    on boilerplate-heavy corpora a single template bucket can reach 10⁶+ docs
    = 10¹² pairs from one reducer key (the 25× scaling probe manufactured
    exactly this shape: 158M true pairs from replica-correlated shingles,
    SCALING.md round-4 section). Industrial dedup pipelines cap or sample
    such mega-buckets: members that numerous are mutual near-dups of a
    template; pair enumeration adds nothing a cluster label doesn't
    (:func:`lsh_mega_buckets` returns them as labels). Output is unchanged
    whenever no bucket exceeds the cap.

    ``salt`` (r10, VERDICT task 3): parallelize the s² pair expansion of
    buckets LARGER than ``salt_threshold`` across ``salt`` hash blocks —
    for when the pairs of a large bucket are genuinely wanted (organic
    near-dup neighborhoods too big for one task, too real to cap away).
    The r10 hot-band probe (tools/skewed_band_probe.py) showed why this
    cannot be left to AQE: OptimizeSkewedJoin detects skew by INPUT
    partition bytes, and a mega-bucket's input is s tiny rows while its
    join OUTPUT is s² — invisible to the detector, so the expansion
    serializes into one task no matter what. Output is bit-identical to
    the unsalted join.
    """
    sig, buckets = _minhash_buckets(df, text_col, id_col, num_hashes, bands, ngram)
    stacked = sig.select(
        F.col(id_col), F.array(*buckets).alias("__bkts")
    ).select(id_col, F.posexplode("__bkts").alias("band", "bucket"), "__bkts")
    return _banded_pairs(
        stacked, id_col, bands, lambda s, j: F.col(f"{s}.__bkts")[j],
        bucket_cap, salt, salt_threshold,
    )


def lsh_mega_buckets(
    band_table: DataFrame, bucket_cap: int, id_col: str = "doc_id"
) -> DataFrame:
    """Membership of the (band, bucket) groups LARGER than ``bucket_cap`` —
    the exact complement of ``minhash_lsh_pairs(bucket_cap=...)``, so what
    the cap drops from pair enumeration comes back as CLUSTER LABELS
    instead of s² pairs (r10, VERDICT task 3: the hot-band probe showed a
    2k-copy template bucket contributing millions of pairs that say
    nothing a single label doesn't). Members of a mega-bucket agree on an
    entire band of minhash minima — they are mutual near-dup candidates by
    construction — so ``cluster`` = min id over the bucket is the same
    keep-smallest convention :func:`connected_components` uses; a doc
    landing in mega-buckets of several bands yields one row per distinct
    label, and downstream cluster merge (CC over the label pairs, doc
    count ≤ corpus, never s²) unifies them when needed.

    Scale shape: one map-side-combined size scan + a semi-join + a
    bucket-partitioned min window — all linear in the band table; no pair
    expansion anywhere. Input is the MATERIALIZED band table
    (:func:`minhash_band_table`), shared with the pair mine, so a
    production run gets pairs-for-organic-buckets + labels-for-templates
    from one index build. The SimHash pigeonhole table has the same
    columns and the same s² exposure:
    ``lsh_mega_buckets(simhash_band_table(...), cap)`` labels what
    ``simhash_pairs(block_cap=cap)`` drops."""
    from pyspark.sql import Window

    members = band_table.join(
        _big_buckets(band_table, bucket_cap), ["band", "bucket"], "left_semi"
    )
    w = Window.partitionBy("band", "bucket")
    return (
        members.withColumn("cluster", F.min(id_col).over(w))
        .select(id_col, "cluster")
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verify / small-corpus dedup)
# ---------------------------------------------------------------------------

#: Max earlier-token carry per exploded prefix-join row (r13). Bounds the
#: emit-once __pre arrays of the PPJoin mines to a constant so the carry is
#: LINEAR in set size (uncapped it is triangular — ~|s|²/2 per doc on the
#: containment index side, measured 12× slower than the old pair-stream
#: distinct at |s|=1024; OPTIMIZATION_r13.md task 3). Also the SHORT/LONG
#: doc split point: docs whose exploded side fits the cap keep the exact
#: r12 emit-once plan (no dedup anywhere); candidates touching a longer
#: doc — where the capped suppression can miss a deep first match and
#: emit a pair twice — run through an id-level dropDuplicates instead.
#: 64 covers the prefix length of every organic bench/test doc (rarest-
#: first canonical order front-loads shared tokens, so real first matches
#: sit early regardless); a mixed-length brute-force test runs the long
#: arms at this value. Module-level so tests can also monkeypatch it tiny.
_PRE_CARRY_CAP = 64


def _item_sets(df: DataFrame, items_col: str, id_col: str) -> DataFrame:
    """``(doc_id, items)`` with each row's items made distinct."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(F.col(items_col)).alias("items"),
    )


def _carried(ordered: DataFrame, arr: str) -> tuple[DataFrame, DataFrame]:
    """Posexplode ``arr`` (``"prefix"`` or the full rarest-first set
    ``"oit"``) into one row per token — ``(doc_id, sz, ptok, __pos, __pre)``
    plus ``__plen`` for a prefix — where ``__pre`` holds the first
    min(pos, _PRE_CARRY_CAP) tokens before it; split into the rows of SHORT
    docs (the exploded array fits the cap) and of LONG docs."""
    lens = ["__plen"] if arr == "prefix" else []  # the full set's length is sz
    rows = ordered.select(
        "doc_id", "sz", *[F.size(arr).alias(c) for c in lens],
        F.posexplode(arr).alias("__pos", "ptok"), arr
    ).select(
        "doc_id", "sz", "ptok", "__pos", *lens,
        F.slice(arr, 1, F.least(F.col("__pos"), F.lit(_PRE_CARRY_CAP))).alias("__pre"),
    )
    n = F.col((lens or ["sz"])[0])
    return rows.filter(n <= _PRE_CARRY_CAP), rows.filter(n > _PRE_CARRY_CAP)


def _ppjoin(
    sets: DataFrame,
    threshold: float,
    index_arr: str,
    pair_cond: list[Column],
    need: Column,
) -> DataFrame:
    """PPJoin core (Xiao et al., WWW'08) of :func:`prefix_filter_pairs` and
    :func:`containment_pairs`. ``sets`` is ``(doc_id, items)`` with distinct
    items. Every set is ordered rarest-item-first by global document
    frequency; each set's PREFIX (its first ``|s| - ⌈t·|s|⌉ + 1`` items)
    probes the index side's ``index_arr`` (``"prefix"``, or ``"oit"`` = the
    full set); a probe row joins an index row on a shared token iff
    ``pair_cond`` holds and the positional bound reaches ``need`` (the
    overlap the mine's threshold demands). Each candidate pair comes out
    once, with both full sets attached for the in-row verify. Returns
    ``(a, b, inter, sz_a, sz_b)`` — exact BIGINTs; the mine filters on its
    own score."""
    dfreq = (
        sets.select(F.explode("items").alias("it"))
        .groupBy("it")
        .agg(F.count(F.lit(1)).alias("dfr"))
    )
    # rarest-first canonical order: sort (df, item) structs, project back.
    # dfreq has one row per DISTINCT item — vocabulary scale for tokens but
    # corpus-token scale for word-n-gram items, so the join strategy is left
    # to Catalyst/AQE (a forced broadcast OOMs executors at 100 TB; AQE
    # broadcasts at runtime exactly when the table fits).
    # ordered feeds three branches (prefix explode + both sides of the array
    # attach) — persist so the sort-by-rarity aggregation runs once; it
    # stays held for the lazy result: run repeated calls inside
    # materialize.scope().
    ordered = materialize(
        sets.select("doc_id", F.explode("items").alias("it"))
        .join(dfreq, "it")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dfr, it))), s -> s.it)"
            ).alias("oit")
        )
        .select(
            "doc_id",
            "oit",
            F.size("oit").cast("bigint").alias("sz"),
            F.expr(
                f"slice(oit, 1, size(oit) - CAST(ceil({threshold} * size(oit)) AS INT) + 1)"
            ).alias("prefix"),
        )
        # NOT size_by (r8 A/B): this |docs|-row relation EXPLODES into
        # prefix-token rows downstream, so its partition count sets the map
        # parallelism of the expanded join build — sizing it to ~250k input
        # rows (4 partitions at sf0.1) throttled the prefix join 4.5x
        # (dedup_jaccard_pairs 5.1 -> 22.7 s). The sizing rule applies to
        # relations consumed at their own row count (graph edges, band
        # tables), never to pre-explosion inputs.
    )
    # Emit-once instead of distinct (r12, carrying the r11 minhash result
    # over): a pair sharing m prefix tokens used to be emitted m times and
    # collapsed by a global distinct() — a full shuffle of the PAIR stream,
    # the largest dataset in the mine. Now each exploded row also carries
    # __pre — the tokens BEFORE its own position — and the join emits a
    # pair only at its FIRST shared token: both sides are sorted by the
    # same global (dfr, it) order, so "an earlier shared token exists" is
    # exactly arrays_overlap(a.__pre, b.__pre) (for t' < t, "t' in b's
    # array anywhere" ⟺ "t' before t there"), a native (non-lambda)
    # expression that stays inside whole-stage codegen.
    # CARRY CAP + SHORT/LONG ARMS (r13; VERDICT r12 "What's wrong" #3): the
    # full carry is triangular (~|s|²/2 tokens per doc through the
    # exchange; the containment index side explodes the FULL set) —
    # measured 12× slower than the old distinct at |s|=1024
    # (OPTIMIZATION_r13.md task 3). Fix, two parts:
    #   1. Each exploded row carries only the first _PRE_CARRY_CAP earlier
    #      tokens — the carry is LINEAR in set size. The in-row suppression
    #      stays exact whenever the pair's first shared token sits within
    #      the cap on both sides; deeper first matches can emit the pair
    #      more than once (the capped arrays cannot see the earlier match).
    #   2. The join splits into doc-length arms (_carried): short×short
    #      candidates are exactly the r12 emit-once plan (full carries,
    #      provably exactly-once, NO dedup anywhere), and only candidates
    #      touching a LONG doc flow through a dropDuplicates on the
    #      candidate ids. Arm membership is a DOC property, so every
    #      candidate row of a pair lands in the same arm — no cross-arm
    #      duplicates. On corpora with no long docs the three long arms are
    #      empty (AQE sees 0-row stages) and the plan costs what r12's did.
    #      Long-arm pairs still benefit from emit-once: the capped
    #      suppression kills every within-cap duplicate in-row, so the
    #      dedup exchange ships ~unique candidate ids.
    # Losslessness: at a qualifying pair's first match there is NO earlier
    # shared token, and the capped arrays are subsets of the exact
    # earlier-token sets (subsets of disjoint sets are disjoint), so that
    # row always survives; the long-arm dedup only collapses exact (a, b)
    # duplicates before the attach, which computes identical verified
    # columns per pair either way.
    # POSITIONAL filter (PPJoin §3.2 — r12): a match at 0-based positions
    # (i, j) of the canonically-sorted sets bounds the overlap by
    # 1 + min(|a|-i-1, |b|-j-1) (one for the match, the shorter suffix for
    # everything after; earlier shared tokens are impossible at the pair's
    # FIRST match, the only row emit-once keeps), so rows whose bound falls
    # short of ``need`` are pruned BEFORE the arrays_overlap suppression
    # runs — on hot long-set corpora that test dominates per-candidate cost
    # (SCALING.md r12). The 1e-9 slack makes float rounding strictly
    # conservative (can only under-prune): a genuine pair's first-match row
    # always satisfies the exact bound.
    a_short, a_long = _carried(ordered, "prefix")
    b_short, b_long = (a_short, a_long) if index_arr == "prefix" else _carried(ordered, index_arr)
    ubound = 1 + F.least(
        F.col("a.sz") - F.col("a.__pos") - 1, F.col("b.sz") - F.col("b.__pos") - 1
    )

    def cand(left: DataFrame, right: DataFrame) -> DataFrame:
        return (
            left.alias("a")
            .join(
                right.alias("b"),
                on=[
                    F.col("a.ptok") == F.col("b.ptok"),
                    *pair_cond,
                    ubound >= need - 1e-9,
                    ~F.arrays_overlap(F.col("a.__pre"), F.col("b.__pre")),
                ],
            )
            .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        )

    pairs = cand(a_short, b_short).union(
        cand(a_long, b_short)
        .union(cand(a_short, b_long))
        .union(cand(a_long, b_long))
        .dropDuplicates(["a", "b"])
    )
    left = ordered.select(
        F.col("doc_id").alias("a"), F.col("oit").alias("ta"),
        F.col("sz").alias("sz_a"),
    )
    right = ordered.select(
        F.col("doc_id").alias("b"), F.col("oit").alias("tb"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("ta", "tb")).cast("bigint")
    return pairs.join(left, "a").join(right, "b").select(
        "a", "b", inter.alias("inter"), "sz_a", "sz_b"
    )


def prefix_filter_pairs(
    df: DataFrame,
    items_col: str,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """PPJoin-style LOSSLESS set-similarity join over an array column.

    Order each row's (distinct) item set rarest-item-first by global document
    frequency, keep only the first ``|s| - ⌈t·|s|⌉ + 1`` items as the
    "prefix", and generate candidate pairs ONLY from rows sharing a prefix
    item — the prefix-filter theorem guarantees every pair with Jaccard ≥ t
    shares at least one, so exact verification of candidates (in-row
    ``array_intersect`` of the two full sets) returns exactly the unpruned
    O(n²) answer. The core is :func:`_ppjoin`; this mine adds the PPJoin
    LENGTH filter (Jaccard ≥ t forces min(|a|,|b|) ≥ t·max(|a|,|b|), so
    wildly different-sized sets never become candidates) and the overlap
    Jaccard ≥ t demands: t/(1+t)·(|a|+|b|).

    Why this is the 100 TB default over a raw inverted-index join: the naive
    join keys on EVERY item, so one stop-item ("of the" shingles, common
    tokens) with document frequency f contributes f² candidate pairs on a
    single reducer key. Here the frequent items never enter the join — only
    the ~(1-t)·|s| rarest per row do — and verification touches the two
    bounded item arrays, never the corpus.

    Returns ``(a, b, inter, sz_a, sz_b, jaccard)``; ``inter``/sizes are exact
    BIGINTs, the filter compares the raw (unrounded) ratio.
    """
    scored = _ppjoin(
        _item_sets(df, items_col, id_col),
        threshold,
        "prefix",
        [
            F.col("a.doc_id") < F.col("b.doc_id"),
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= threshold * F.greatest(F.col("a.sz"), F.col("b.sz")),
        ],
        (threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz")),
    )
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    )
    return scored.filter(jac >= threshold).withColumn("jaccard", jac)


def containment_pairs(
    df: DataFrame,
    items_col: str,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """ASYMMETRIC set-containment join: pairs ``(a, b)`` where
    ``C(a→b) = |a ∩ b| / |a| ≥ threshold`` — "a is mostly contained in b".
    The duplication mode symmetric Jaccard cannot see: a short document
    quoted wholesale inside a long one has tiny Jaccard (the union is
    dominated by b) but containment ≈ 1. Training-data pipelines drop the
    contained side (it contributes nothing the container doesn't).

    Lossless prefix filter, containment form: ``inter ≥ ⌈t·|a|⌉`` means a
    can miss at most ``|a| - ⌈t·|a|⌉`` of its own items in b, so among a's
    ``|a| - ⌈t·|a|⌉ + 1`` globally-RAREST items at least one is shared —
    the probe side explodes only that prefix. The index side must stay
    full (b has no prefix bound in a containment join — b may be
    arbitrarily larger), but join keys are only a-prefix items, i.e. the
    rarest of each probe row: stop-item posting lists never become join
    keys unless a tiny doc is all stop items. A size guard
    ``|b| ≥ t·|a|`` (implied by inter ≤ |b|) rides the join condition, and
    the positional bound must reach t·|a|. Verification is an in-row
    ``array_intersect`` of the two bounded item arrays — exactly the
    unpruned O(n²) answer, as with :func:`prefix_filter_pairs` (same core,
    :func:`_ppjoin`; the carry cap matters MOST here, where the index side
    explodes the full set).

    Returns ``(a, b, inter, sz_a, sz_b, containment)``; both directions of
    a mutual containment appear as separate rows. The ``ordered`` relation
    stays held for the lazy result: run repeated calls inside
    ``materialize.scope()``.
    """
    scored = _ppjoin(
        _item_sets(df, items_col, id_col).filter(F.size("items") > 0),
        threshold,
        "oit",
        [
            F.col("a.doc_id") != F.col("b.doc_id"),
            F.col("b.sz") >= threshold * F.col("a.sz"),
        ],
        threshold * F.col("a.sz"),
    )
    cont = F.col("inter").cast("double") / F.col("sz_a")
    return scored.filter(cont >= threshold).withColumn("containment", cont)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_words: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs — prefix-filtered by default.

    Delegates to :func:`prefix_filter_pairs` over the distinct word-shingle
    sets: lossless (identical answer to the naive inverted-index join, which
    survives only as the oracle formulation) and immune to stop-shingle skew —
    a high-document-frequency shingle never becomes a join key. The rounded
    ``jaccard`` is display-only; thresholding happens on the raw ratio.
    """
    from makinage_spark.text import tokens, word_shingles_of

    sets = df.select(
        F.col(id_col).alias("doc_id"),
        word_shingles_of(tokens(F.lower(F.col(text_col))), ngram_words).alias("__sh"),
    )
    out = prefix_filter_pairs(sets, "__sh", "doc_id", threshold)
    return out.select("a", "b", F.round("jaccard", 4).alias("jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(text_col: str, bits: int = 32) -> Column:
    """SimHash over word tokens, expression-only and cross-engine reproducible.

    Per token, md5 hex supplies ``bits`` pseudo-random bits (hex digit → 4
    bits); bit j of the document hash is the sign of Σ_tokens (±1). Near-dup
    docs differ in few bits. 32 bits keeps the expression tree small; extend to
    64 by doubling the hex prefix.
    """
    toks = F.array_distinct(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"[\p{L}\p{N}]+"), 0)
    )
    hexes = F.transform(toks, lambda t: F.substring(F.md5(t), 1, bits // 4))
    out = F.lit(0).cast("bigint")
    def _bit_adder(digit: int, bitpos: int):
        def _add(acc, h):
            hexval = F.instr(F.lit("0123456789abcdef"), F.substring(h, digit + 1, 1)) - 1
            return acc + F.shiftright(hexval, bitpos) % 2

        return _add

    for j in range(bits):
        digit = j // 4          # which hex char
        bitpos = 3 - (j % 4)    # bit within the hex digit, MSB first
        # vote_j = Σ tokens: +1 if bit set else -1  ⇒  2*ones - n
        ones = F.aggregate(hexes, F.lit(0), _bit_adder(digit, bitpos))
        bit = (ones * 2 > F.size(hexes)).cast("bigint")
        out = out + F.shiftleft(bit, j)
    return out


def simhash_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """``(id, sh)`` SimHash table — the throughput formulation (same shape as
    :func:`minhash_signature_df`): explode distinct tokens → one md5 +
    integer conversion per token → ``bits`` fused sum aggregates with map-side
    partials. Produces bit-identical hashes to the per-bit fold in
    :func:`simhash` (bit j of the hash is the majority of token-hash bit
    ``bits-1-j``), which costs ``bits`` re-folds of the token array per row and
    is kept only for single-expression contexts."""
    parts = df.sparkSession.sparkContext.defaultParallelism
    toks = F.array_distinct(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"[\p{L}\p{N}]+"), 0)
    )
    ex = (
        df.select(F.col(id_col), toks.alias("__t"))
        .repartition(parts, F.col(id_col))
        .select(F.col(id_col), F.explode_outer("__t").alias("__tok"))
        .select(
            F.col(id_col),
            F.conv(F.substring(F.md5("__tok"), 1, bits // 4), 16, 10)
            .cast("bigint")
            .alias("__h"),
        )
    )
    g = ex.groupBy(id_col).agg(
        F.count("__h").alias("__n"),
        *[
            F.sum(F.shiftright(F.col("__h"), bits - 1 - j).bitwiseAND(F.lit(1))).alias(
                f"__o{j}"
            )
            for j in range(bits)
        ],
    )
    sh = F.lit(0).cast("bigint")
    for j in range(bits):
        bit = (F.coalesce(F.col(f"__o{j}"), F.lit(0)) * 2 > F.col("__n")).cast("bigint")
        sh = sh + F.shiftleft(bit, j)
    return g.select(F.col(id_col), sh.alias("sh"))


def _block(sh: Column, b: int, block_bits: int) -> Column:
    """Block ``b`` of a SimHash: bits ``[b·block_bits, (b+1)·block_bits)``."""
    return F.shiftright(sh, b * block_bits).bitwiseAND(F.lit((1 << block_bits) - 1))


def simhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    blocks: int = 4,
) -> DataFrame:
    """The SimHash pigeonhole index: one ``(id, sh, band, bucket)`` row per
    document per block — ``band`` is the block number, ``bucket`` the
    block's ``bits/blocks``-bit value, ``sh`` the full hash for the verify
    stage. Any two hashes within Hamming distance < ``blocks`` agree on ≥1
    whole block, so an equi-join on (band, bucket) generates every such
    pair (no cross product). Same ``band``/``bucket`` columns as
    :func:`minhash_band_table`, so :func:`lsh_mega_buckets` runs on it
    unchanged."""
    return _explode_bands(
        simhash_df(df, text_col, id_col, bits),
        [id_col, "sh"],
        [_block(F.col("sh"), b, bits // blocks) for b in range(blocks)],
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    blocks: int = 4,
    block_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash with pigeonhole blocking: split the hash into
    ``blocks`` blocks (:func:`simhash_band_table`); any pair within Hamming
    distance < ``blocks`` agrees on ≥1 whole block, so candidates come from
    equi-joins on block values (no cross product). Verify stage computes the
    true Hamming distance via ``bit_count(xor)``.

    Candidates come from the emit-once self-join shared with
    :func:`minhash_lsh_pairs` (:func:`_banded_pairs`, r12): a pair within
    Hamming ≤ ``max_hamming`` typically agrees on SEVERAL whole blocks but
    is emitted only at its FIRST agreeing block, so the pair stream never
    shuffles through a distinct. Both sides carry the full hash ``sh``, so
    "block j also agreed" is plain bit arithmetic (``shiftright``/
    ``bitwiseAND`` — no carried arrays at all). Output is bit-identical to
    the old distinct-based plan.

    ``block_cap`` (off by default): drop (band, bucket) block groups larger
    than this before the self-join — the same mega-bucket guard as
    :func:`minhash_lsh_pairs` ``bucket_cap`` (a template block of s docs is
    s² candidate pairs on one reducer key; see SCALING.md round-4 — and the
    round-10 hot-band probe: AQE's skew split cannot see that s² OUTPUT
    amplification, so the cap is the only defense, not a belt-and-braces).
    What the cap drops comes back as cluster labels via
    ``lsh_mega_buckets(simhash_band_table(...), cap)``.

    Scale sizing (measured, SCALING.md round-5): block-value cardinality is
    ``2^(bits/blocks)`` — with the 32-bit/4-block default that is only 256
    values, so EVERY block bucket holds ~corpus/256 docs once the corpus is
    large, and a fixed ``block_cap`` then drops nearly all buckets
    (recall collapse: cap=50 kept 1,633 of 52M pairs at the 25× probe). The
    correct scale lever is WIDER blocks — ``bits=60, blocks=4`` gives 15-bit
    blocks (32k values; 60 bits = 15 hex chars keeps ``conv`` inside bigint)
    with ``max_hamming`` scaled ~2× for the longer hash; keep ``block_cap``
    as a template-bucket safety valve only, sized ≫ corpus/2^(bits/blocks)."""
    block_bits = bits // blocks
    hamming = F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming")
    return _banded_pairs(
        simhash_band_table(df, text_col, id_col, bits, blocks),
        id_col,
        blocks,
        lambda s, j: _block(F.col(f"{s}.sh"), j, block_bits),
        bucket_cap=block_cap,
        extra=(hamming,),
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_on: str | Column | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Without ``block_on``: exact all-pairs within the DataFrame — O(n²), only
    for bounded inputs (a verify stage or a small corpus). With ``block_on``
    (e.g. an LSH bucket from ``vectors.hyperplane_bucket`` or a cluster id):
    pairs form only within blocks — the scale path.

    Cosine is computed with ``zip_with``/``aggregate`` — JVM higher-order
    functions, no Python.
    """
    from makinage_spark.vectors import cosine

    cols = [F.col(id_col), F.col(vec_col)]
    if block_on is not None:
        blk = F.col(block_on) if isinstance(block_on, str) else block_on
        cols.append(blk.alias("__blk"))
    v = df.select(*cols)
    a, b = v.alias("a"), v.alias("b")
    cond = [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
    if block_on is not None:
        cond.append(F.col("a.__blk") == F.col("b.__blk"))
    return (
        a.join(b, on=cond)
        .select(
            F.col(f"a.{id_col}").alias("a"),
            F.col(f"b.{id_col}").alias("b"),
            F.round(cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Duplicate clustering (connected components)
# ---------------------------------------------------------------------------


def _is_star_forest(edges: DataFrame) -> bool:
    """Whether canonical ``(big, small)`` edges form a star forest: no
    ``small`` endpoint is also a ``big`` endpoint, and every ``big`` has
    exactly one edge. ONE job on the checkpointed edges — both violations
    feed one ``limit(1)`` (``{(5,1),(4,1),(4,2)}`` fails only the second)."""
    chained = edges.alias("x").join(
        edges.alias("y"), F.col("x.small") == F.col("y.big"), "left_semi"
    ).select("big")
    shared = edges.groupBy("big").count().where("count > 1").select("big")
    return chained.union(shared).limit(1).count() == 0


def connected_components(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    stats: dict | None = None,
    checkpoint: str = "local",
) -> DataFrame:
    """Connected components of an undirected similar-pair graph → duplicate
    clusters. Returns ``(id, cluster_id)`` with ``cluster_id`` = min node id
    in the component (deterministic), one row per node that appears in
    ``pairs``.

    The step a dedup pipeline runs *after* pair generation: near-duplicate
    similarity is not transitive, so keep-one-per-pair over-deletes; the
    standard policy (Lee et al., "Deduplicating Training Data Makes Language
    Models Better") is keep-one-per-*cluster* of the pair graph.

    Algorithm (r13): the **large-star/small-star alternation** (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14). State is
    the canonical edge list (big > small); each alternation applies

    - large-star: for every node u, point every LARGER neighbor v at
      m = min(Γ(u) ∪ {u}) → edges (v, m); then
    - small-star: for every big endpoint u, point u and every smaller
      neighbor at m = min(Γ⁻(u) ∪ {u}) → edges (small, m) ∪ (u, m).

    Both steps preserve connectivity; the fixpoint is a star forest
    centered at the component minima, so labels read directly off the final
    edges. This replaced the r7–r12 hash-to-min pointer-jumping loop after
    the VERDICT r12 task-2 A/B (OPTIMIZATION_r13.md, interleaved
    min-of-3, bit-identical clusters asserted first): the real dup-pair
    graphs converge in HALF the rounds — the sf0.1 minhash e2e graph takes
    10 hash-to-min rounds but 5 alternations, dedup_pipeline_e2e
    8.545 → 5.925 s (1.44×), CC-only on that graph 7.15 → 4.63 s;
    entity_resolution_e2e at parity (2.812 vs 2.781 s). The alternation
    also needs no persisted loop-invariant edge relation (state shrinks and
    is re-checkpointed each round), so the old sized-persist setup passes
    disappear with it.

    Trade-off, measured and accepted: on a DEGENERATE-diameter synthetic
    (250k-node path) the alternation converges in a similar round count
    (19 vs 18) but each alternation chains two star passes, measuring
    28.4 s vs 14.7 — path graphs are the adversarial corner, not a dup
    graph (every measured dup-pair graph is star-heavy). Alternation count
    on paths tracks ~ceil(log2 n)+2 (64→7, 1k→11, 10k→15, 250k→19), so
    ``max_iter=25`` keeps headroom for a ~2^22-node path component.

    Each alternation is ONE eager job: the large∘small composition chains
    lazily into a single checkpoint, and the convergence signature (edge
    count + exact DECIMAL(38,0) endpoint sums) rides that job as
    ``observe`` metrics. When the signature repeats, convergence is PROVEN
    (never assumed) by one star-forest check (:func:`_is_star_forest`: no
    ``small`` endpoint also appears as a ``big`` endpoint, and each ``big``
    appears once) before the loop exits. Lineage is cut
    per round: ``checkpoint="local"`` (default) uses executor-local
    storage — fastest, but a lost executor forces recompute from source
    lineage; on a real cluster pass ``checkpoint="reliable"`` after
    ``spark.sparkContext.setCheckpointDir(hdfs_path)`` so each round's
    edges land on fault-tolerant storage and a mid-job loss resumes from
    the last round instead of hour-one. Each superseded round is released
    as soon as the next one is materialized (its blocks, or its snapshot
    files in reliable mode), so a run holds the init checkpoint plus the
    last round whatever the round count.

    ``stats`` (optional out-param) receives ``{"rounds": r, "converged":
    bool}`` — the number of executed alternations including the
    fixpoint-confirming one, and whether the star-forest fixpoint was
    actually reached (``converged=False`` ⇒ the loop hit ``max_iter`` and
    a warning was emitted; ``rounds == max_iter`` alone is ambiguous
    between the two). Unconverged labels are collapsed to one row per id
    (the smallest label seen), so the output contract holds either way.
    """
    if checkpoint not in ("local", "reliable"):
        raise ValueError(f"checkpoint must be local|reliable, got {checkpoint!r}")

    # ONE materialization of the (possibly expensive) pair mine: canonical
    # big>small edges — NO distinct, so the checkpoint is a narrow map
    # write (the emit-once mines and the blocked linkage both produce
    # unique pairs BY CONSTRUCTION; a dedup here would re-introduce
    # exactly the pair-stream shuffle emit-once removed). Duplicate input
    # pairs are harmless: each star step ends in a groupBy/distinct of
    # its own, so round 1 absorbs them. Self-pairs (a == b) cannot join
    # the alternation (a star edge needs two distinct endpoints) but
    # their nodes are part of the "every node that appears in pairs"
    # contract — they re-enter as singleton clusters from the same
    # checkpoint below. Their COUNT rides the checkpoint job as an
    # observe metric so the (usual) zero-self-pair case skips both the
    # pre-filter and the singleton branch entirely and the output plan
    # stays the bare star-forest read (the unconditional branch measured
    # ~0.5 s of plan overhead per evaluation on the sf0.1 e2e graph).
    # Reliable mode needs spark.sparkContext.setCheckpointDir(...).
    obs0 = Observation()
    e0 = materialize(
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("big"),
            F.least(F.col(src), F.col(dst)).alias("small"),
        ).observe(
            obs0,
            F.sum((F.col("big") == F.col("small")).cast("long")).alias("nself"),
        ),
        mode=checkpoint,
    )
    n_self = obs0.get["nself"] or 0
    e = e0.filter(F.col("big") != F.col("small")) if n_self else e0

    def large_star(edges: DataFrame) -> DataFrame:
        sym = edges.select(
            F.col("big").alias("u"), F.col("small").alias("v")
        ).union(edges.select(F.col("small").alias("u"), F.col("big").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mm = m.select("u", F.least("u", "mn").alias("m"))
        return (
            sym.join(mm, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("big"), F.col("m").alias("small"))
            .distinct()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        m = edges.groupBy("big").agg(F.min("small").alias("m"))
        repointed = (
            edges.join(m, "big")
            .where(F.col("small") != F.col("m"))
            .select(F.col("small").alias("big"), F.col("m").alias("small"))
        )
        return m.select("big", F.col("m").alias("small")).union(repointed).distinct()

    prev = None
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        # ONE eager job per alternation: large∘small chains lazily into a
        # single checkpoint, and the convergence signature rides it as
        # observe metrics (fire on the eager checkpoint, verified on
        # Spark 4.1). Exact decimal endpoint sums: order-independent, so
        # the signature is bit-identical across partitionings.
        obs = Observation()
        nxt = small_star(large_star(e)).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("big").cast("decimal(38,0)")).alias("sb"),
            F.sum(F.col("small").cast("decimal(38,0)")).alias("ss"),
        )
        nxt = materialize(nxt, mode=checkpoint)
        sig = (obs.get["n"], obs.get["sb"], obs.get["ss"])
        if rounds > 1:
            release(e)  # the superseded round; e0 stays for the self-pairs
        e = nxt
        # candidate fixpoint — PROVE it before exiting (signature equality
        # alone could collide); checked only at the candidate round
        if sig == prev and _is_star_forest(e):
            converged = True
            break
        prev = sig
    if not converged:
        # ADVICE r8: rounds == max_iter alone cannot distinguish "converged
        # exactly on the last allowed round" from "hit the cap unconverged" —
        # the loop used to exit silently with possibly-unconverged labels.
        import warnings

        warnings.warn(
            f"connected_components hit max_iter={max_iter} without the "
            "star-forest fixpoint being reached — clusters may be "
            "under-merged, and each id keeps the smallest label seen; raise "
            "max_iter (alternations track ~log2(component diameter))",
            stacklevel=2,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    # labels read off the final star forest: members point at their
    # component minimum; centers label themselves; self-pair-only nodes
    # (absent from the alternation) are singleton clusters — that branch
    # exists only when the observe above actually saw self-pairs.
    roots = e.select(F.col("small").alias("id")).distinct()
    members = e.select(F.col("big").alias("id"), F.col("small").alias("label"))
    labels = members.union(roots.select("id", F.col("id").alias("label")))
    if n_self:
        # distinct here, not on the whole edge list: a self-pair-only node
        # listed twice must still emit ONE singleton row
        selfies = (
            e0.filter(F.col("big") == F.col("small"))
            .select(F.col("big").alias("id"))
            .distinct()
        )
        only_self = selfies.join(labels.select("id"), "id", "left_anti").select(
            "id", F.col("id").alias("label")
        )
        labels = labels.union(only_self)
    if not converged:
        # off the star-forest fixpoint a node can still be a big endpoint
        # of several edges (and a root too): one row per id, smallest label
        labels = labels.groupBy("id").agg(F.min("label").alias("label"))
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# Bloom-filter membership pruning (incremental dedup against a history corpus)
# ---------------------------------------------------------------------------


def bloom_positions(fp: Column | str, m: int, k: int) -> Column:
    """``array<bigint>`` of ``k`` bit positions in ``[0, m)`` for one key:
    position *i* is the first 8 md5 hex digits of ``fp || '#i'`` mod ``m``.
    md5-derived so a SQL oracle reproduces every position bit-for-bit
    (same recipe as ``text.md5_hash64``)."""
    col = F.col(fp) if isinstance(fp, str) else fp
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(col, F.lit(f"#{i}"))), 1, 8), 16, 10
            ).cast("bigint")
            % m
            for i in range(k)
        ]
    )


def bloom_build(
    history: DataFrame, fp_col: str = "fp", m: int = 1 << 16, k: int = 4
) -> DataFrame:
    """Distributed Bloom-filter build: the packed bitmap as an
    ``(word, bits)`` relation — ``word`` = bit-position div 64, ``bits`` =
    ``bit_or`` of the 64-bit masks landing in that word. At most ``m/64``
    rows (1 024 longs = 8 KB at m=2^16, 2 MB at m=2^27).

    This is the scale path for "have I seen this fingerprint before" at
    100 TB: instead of shuffling every candidate against a billions-row
    history table (a corpus-sized join per increment), the history
    compresses ONCE to ``m`` bits with a plain explode + ``bit_or``
    aggregate (map-side combine, one narrow shuffle of ≤ m/64 rows), and
    the probe side joins candidates against a kilobytes-sized relation that
    AQE always broadcasts. No false negatives ever (every true member
    probes all-set positions); false-positive rate ≈ (1-e^(-kn/m))^k,
    tunable via m — the audit query pins both properties."""
    pos = history.select(
        F.explode(bloom_positions(fp_col, m, k)).alias("pos")
    )
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
    return (
        pos.groupBy(F.shiftright(F.col("pos"), 6).alias("word"))
        .agg(F.bit_or(mask).alias("bits"))
    )


def bloom_probe(
    candidates: DataFrame,
    bitmap: DataFrame,
    fp_col: str = "fp",
    id_col: str = "doc_id",
    m: int = 1 << 16,
    k: int = 4,
    out: str = "bloom_hit",
) -> DataFrame:
    """Probe each candidate fingerprint against a built bitmap: hit iff ALL
    ``k`` positions have their bit set. Candidates explode to ``k`` rows,
    left-join the (≤ m/64)-row bitmap on the word index (AQE broadcasts it),
    test the bit in-row, and fold back with ``every`` — one narrow shuffle
    keyed by ``id_col``; a missing word means bit unset, not an error."""
    pos = candidates.select(
        id_col, F.explode(bloom_positions(fp_col, m, k)).alias("pos")
    )
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
    hit = F.coalesce(
        F.col("bits").bitwiseAND(mask) != 0, F.lit(False)
    )
    return (
        pos.withColumn("word", F.shiftright(F.col("pos"), 6))
        .join(bitmap, "word", "left")
        .select(id_col, hit.alias("__hit"))
        .groupBy(id_col)
        .agg(F.every(F.col("__hit")).alias(out))
    )


def _signed64(v: int) -> int:
    """Wrap an unsigned 64-bit pattern into Spark's signed BIGINT range."""
    return v - (1 << 64) if v >= (1 << 63) else v


def bloom_test_packed(
    fp: Column | str, words: list[int], m: int, k: int
) -> Column:
    """In-row Bloom membership test against a driver-collected packed bitmap
    (``words`` = dense list of ``m/64`` longs, index = bit-position div 64).

    The broadcast-literal path: where :func:`bloom_probe` joins candidates
    against the bitmap *relation* (right for batch), this folds the whole
    filter into the expression tree — 8 KB of literals at m=2^16 — so the
    test is a pure map-side Column usable in a STREAMING projection with no
    stream-static join and no state. Collecting the bitmap is a bounded
    control-plane read (≤ m/64 rows), same class as the k-means centroid
    collect. Returns false (never null) for null keys."""
    col = F.col(fp) if isinstance(fp, str) else fp
    assert len(words) == m // 64, "words must be the dense m/64 bitmap"
    word_arr = F.array(*[F.lit(_signed64(int(w))).cast("bigint") for w in words])
    mask_arr = F.array(*[F.lit(_signed64(1 << i)).cast("bigint") for i in range(64)])
    hit = F.forall(
        bloom_positions(col, m, k),
        lambda p: (
            F.element_at(word_arr, F.floor(p / 64).cast("int") + 1).bitwiseAND(
                F.element_at(mask_arr, (p % 64).cast("int") + 1)
            )
            != 0
        ),
    )
    # the null-key branch is taken BEFORE forall: a null key yields an array
    # of null positions, and forall's codegen NPEs on null lambda results
    # (Spark 4.1) — when() keeps nulls out of the lambda entirely
    return F.when(col.isNotNull(), hit).otherwise(F.lit(False))


#: Size gate for the packed-literal Bloom path (VERDICT r8 task 5): the
#: driver collect is m/64 longs ≈ m/8 bytes, and bloom_test_packed folds the
#: SAME m/8 bytes into the expression tree as array literals — at the default
#: ceiling 2^24 bits that is 2 MB collected + a 2 MB plan (analysis and task
#: broadcast stay cheap); at m = 10^9 bits it would be 125 MB of literals,
#: which no plan should carry. Beyond the gate the right tool is
#: :func:`bloom_probe` — the word-keyed JOIN against the bitmap RELATION,
#: fully distributed, no driver materialization at any m (batch), or a
#: stream-static join on the same relation (streaming). Spark's native
#: bloom_filter_agg/might_contain would be the third option, but they are
#: internal expressions NOT registered for SQL in Spark 4.1 (probed
#: 2026-08-16: UNRESOLVED_ROUTINE; used only by the optimizer's runtime
#: row-level filtering), and the JVM-side DataFrameStatFunctions.bloomFilter
#: also materializes the filter driver-side — so the m-threshold dispatch is
#: packed-literal below the gate, relation-join above it.
BLOOM_PACKED_MAX_BITS = 1 << 24


def bloom_collect(bitmap: DataFrame, m: int, max_bits: int = BLOOM_PACKED_MAX_BITS) -> list[int]:
    """Collect a :func:`bloom_build` bitmap relation into the dense word list
    :func:`bloom_test_packed` consumes (missing words = 0).

    Bounded control-plane read: m/64 longs (m/8 bytes — 8 KB at the m=2^16
    the registry queries use). Refuses m beyond ``max_bits`` (default 2^24 =
    2 MB packed): past that the packed-literal pattern stops being the right
    plan — route membership through :func:`bloom_probe`'s distributed
    relation join instead (see BLOOM_PACKED_MAX_BITS for the arithmetic)."""
    if m > max_bits:
        raise ValueError(
            f"m={m} bits exceeds the packed-literal gate ({max_bits}): the "
            f"driver collect + expression-tree literals would be {m // 8} "
            "bytes EACH. Use bloom_probe (distributed word-join against the "
            "bitmap relation) for filters this large, or raise max_bits "
            "deliberately."
        )
    got = {int(r["word"]): int(r["bits"]) for r in bitmap.collect()}
    return [got.get(i, 0) for i in range(m // 64)]
