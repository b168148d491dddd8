"""Similarity search over embedding columns (``array<float>``) — north-star
extension (BASELINE.json).

- :func:`cosine` / :func:`dot` / :func:`l2norm` — JVM higher-order-function
  expressions (``zip_with`` + ``aggregate``), no Python in the hot path.
- :func:`brute_force_topk` — exact top-k by cosine: narrow map + TakeOrdered
  (per-partition heap, driver merges k·partitions candidates — never a full
  sort). The correctness baseline.
- :func:`hyperplane_bucket` — random-hyperplane LSH bucketing: the scale path.
  Buckets shrink candidate sets by ~2^planes; probing a query = broadcast of
  one bucket id.
- :func:`ivf_centroids` / :func:`ivf_topk` — IVF: coarse quantization by
  sampled k-means centroids (driver-side on a bounded sample), search probes
  only the ``nprobe`` nearest cells. At 100 TB the index DataFrame is written
  partitioned by cell so a probe is a partition-pruned scan.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from makinage_spark.materialize import materialize, release


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """NULL (not an ANSI DIVIDE_BY_ZERO error) when either vector has zero
    norm — zero vectors exist in any real 100 TB embedding corpus (failed
    encoders, padding rows) and have no defined direction. Comparisons with
    NULL are false, so thresholds drop them; desc ordering sorts them last."""
    return F.try_divide(dot(a, b), l2norm(a) * l2norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k nearest rows to ``query_vec``. The query vector is a literal
    array (broadcast by value into the plan); scoring is a narrow projection;
    ``orderBy().limit(k)`` plans TakeOrderedAndProject. Deterministic tie-break
    on ``id_col``."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col(vec_col).cast("array<double>")
    score = cosine(v, q) if metric == "cosine" else -F.sqrt(
        F.aggregate(F.zip_with(v, q, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, d: acc + d)
    )
    return (
        df.select(F.col(id_col), F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((planes, dim)).tolist()


def hyperplane_bucket(
    vec_col: str = "embedding",
    dim: int = 16,
    planes: int = 8,
    seed: int = 42,
) -> Column:
    """Random-hyperplane LSH bucket id (SimHash for vectors): bit i = sign of
    ``v·h_i``. Deterministic given ``seed``; the hyperplanes are plan literals,
    so executors never fetch anything. Cosine-similar vectors collide with
    probability ``1 - θ/π`` per plane."""
    hps = _hyperplanes(dim, planes, seed)
    v = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0).cast("bigint")
    for i, h in enumerate(hps):
        hcol = F.array(*[F.lit(float(x)) for x in h])
        bit = (dot(v, hcol) > 0).cast("bigint")
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 8,
    seed: int = 42,
    probes: int = 1,
    tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only the query's LSH bucket(s).

    Recall knobs, in the order a production index tunes them:

    - ``tables`` — OR-amplification (the classic L-hash-table scheme): each
      table draws independent hyperplanes (seed + t); a row is scanned if it
      collides with the query in ANY table. Single-table collision for
      cosine-θ neighbors is ``(1 - θ/π)^planes`` — with 4 planes and 60°
      neighbors that is ~0.2, so one table misses most of the top-k *by
      construction*; L tables lift recall to ``1-(1-p^planes)^L``.
    - ``probes`` — multi-probe within each table (Lv et al., VLDB'07): also
      probe the buckets reached by flipping the ``probes - 1`` bits whose
      margin ``|q·h_i|`` is smallest (the flips most likely to hold true
      neighbors). Trades scan width for tables.
    - ``planes`` — bucket granularity (fewer planes → bigger buckets).

    All probed bucket ids are plan literals, so the filter is a narrow
    boolean OR over per-table ``isin`` — on an index materialized with L
    bucket columns this is L semi-scans of probes/2^planes of the data
    each, never a shuffle."""
    dim = len(query_vec)
    v = F.col(vec_col)
    cond = F.lit(False)
    for t in range(tables):
        tseed = seed + t
        bucket = hyperplane_bucket(vec_col, dim, planes, tseed)
        hps = _hyperplanes(dim, planes, tseed)
        margins = [float(np.dot(query_vec, h)) for h in hps]
        qb = 0
        for i, m in enumerate(margins):
            if m > 0:
                qb |= 1 << i
        # flip order: smallest |margin| first — the multi-probe sequence
        flip_order = sorted(range(planes), key=lambda i: abs(margins[i]))
        buckets = [qb] + [
            qb ^ (1 << i) for i in flip_order[: max(0, probes - 1)]
        ]
        cond = cond | bucket.isin(*buckets)
    return brute_force_topk(df.filter(cond), query_vec, k, vec_col, id_col)


def ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample_rows: int = 10000,
    iters: int = 5,
    seed: int = 42,
) -> list[list[float]]:
    """Train IVF coarse centroids with Lloyd's k-means on a bounded sample.

    The sample (≤ ``sample_rows``) is the only data that reaches the driver;
    at 100 TB that is a fixed-size random sample via ``df.sample``, not a
    collect of the table. Returns plain lists (plan literals for
    :func:`ivf_assign`). NULL embeddings are filtered before sampling — a
    real corpus carries them (failed encoders) and one None in the sample
    turns the training matrix into an object array."""
    df = df.filter(F.col(vec_col).isNotNull())
    n = df.count()
    frac = min(1.0, sample_rows / max(n, 1))
    sample = np.array(
        df.sample(fraction=frac, seed=seed).select(vec_col).toPandas()[vec_col].tolist(),
        dtype=np.float64,
    )
    rng = np.random.default_rng(seed)
    cents = sample[rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)]
    for _ in range(iters):
        d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents.tolist()


def ivf_assign(centroids: list[list[float]], vec_col: str = "embedding") -> Column:
    """Cell id = argmin_c ||v - centroid_c||² as a pure expression (the
    ``-2·v·c + ||c||²`` form, since ||v||² is constant per row). argmin is
    ``least()`` over (score, cell) structs — a when()-chain would reference
    the running best in two branches and double the dot-product subtree per
    cell (exponential codegen; see kmeans_lloyd). Ties take the lower cell.

    Edge contract: a single centroid assigns every row to cell 0 (``least``
    needs ≥2 args), and a NULL embedding yields a NULL cell id (it belongs to
    no cell; callers filter or impute upstream)."""
    v = F.col(vec_col).cast("array<double>")
    pairs = []
    for i, c in enumerate(centroids):
        ccol = F.array(*[F.lit(float(x)) for x in c])
        c2 = float(np.dot(c, c))
        score = F.lit(c2) - F.lit(2.0) * dot(v, ccol)
        pairs.append(F.struct(score, F.lit(i)))
    if len(pairs) == 1:
        return F.when(v.isNotNull(), F.lit(0))
    return F.when(v.isNotNull(), F.least(*pairs).getField("col2"))


def ivf_topk(
    df: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search: score only rows whose cell is among the ``nprobe`` cells
    nearest the query. When the index table is partitioned by cell id, the
    filter is partition-pruned — the scan touches nprobe/n_cells of the data
    (see :func:`ivf_write_index` / :func:`ivf_topk_indexed` for that path)."""
    probe = probe_cells(centroids, query_vec, nprobe)
    cell = ivf_assign(centroids, vec_col)
    return brute_force_topk(
        df.filter(cell.isin(*probe)), query_vec, k, vec_col, id_col
    )


def probe_cells(
    centroids: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` cell ids nearest the query (driver-side over the tiny
    centroid table; deterministic tie-break on cell id)."""
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = [float(((q - np.asarray(c)) ** 2).sum()) for c in centroids]
    return sorted(range(len(centroids)), key=lambda i: (d2[i], i))[:nprobe]


def ivf_write_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> None:
    """Materialize the IVF index: assign every vector its coarse cell and
    write parquet PARTITIONED BY the cell id — the physical layout that turns
    an nprobe search into a partition-pruned scan. At 100 TB this is the
    difference between reading nprobe/n_cells of the corpus and reading all
    of it; the cell assignment itself is a narrow expression-only map."""
    df.withColumn(cell_col, ivf_assign(centroids, vec_col)).write.partitionBy(
        cell_col
    ).mode("overwrite").parquet(path)


def ivf_topk_indexed(
    spark,
    path: str,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
) -> DataFrame:
    """Search a materialized IVF index (:func:`ivf_write_index`): the probe
    filter lands on the PARTITION column, so Catalyst prunes non-probed
    cells at planning time (``PartitionFilters`` in the scan — asserted by
    tests/test_partition_pruning.py) and the scan reads only
    nprobe/n_cells of the files."""
    probe = probe_cells(centroids, query_vec, nprobe)
    idx = spark.read.parquet(path).filter(F.col(cell_col).isin(*probe))
    return brute_force_topk(idx, query_vec, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8)
# ---------------------------------------------------------------------------


def sq8_stats(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Per-dimension ``(pos, mn, mx)`` calibration table for 8-bit scalar
    quantization. ``posexplode`` + groupBy(pos): map-side partial min/max
    collapse the shuffle to (#partitions × dim) rows, and the result is
    dim-sized — always broadcastable."""
    d = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    ).select("pos", F.col("v").cast("double").alias("v"))
    return d.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))


def sq8_quantize(
    df: DataFrame, stats: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """8-bit scalar quantization against a calibration table: each dimension
    maps to ``floor((v - mn) * 255 / (mx - mn) + 0.5)`` ∈ [0, 255] — 4× memory
    cut for float32 corpora, the standard first rung of ANN index compression
    (before PQ). ``floor(x + 0.5)`` rather than ``round`` pins half-up
    semantics across engines.

    Emits one row per (id, pos, v, qv, mn, mx); callers either re-assemble an
    ``array<tinyint>`` (production layout) or roll up fidelity metrics (see
    the ``embedding_quantize_sq8`` query). The stats join broadcasts — dim
    rows — so the only wide data movement is the final per-id rollup."""
    d = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    ).select(F.col(id_col), "pos", F.col("v").cast("double").alias("v"))
    j = d.join(F.broadcast(stats), "pos")
    return j.select(
        F.col(id_col),
        "pos",
        "v",
        "mn",
        "mx",
        F.floor((F.col("v") - F.col("mn")) * 255.0 / (F.col("mx") - F.col("mn")) + 0.5)
        .cast("bigint")
        .alias("qv"),
    )


# ---------------------------------------------------------------------------
# Distributed Lloyd's k-means (full-corpus, engine-exact)
# ---------------------------------------------------------------------------


def _kmeans_dist(v: Column, c: Column, exact: bool) -> Column:
    """Squared-L2 distance fold between two array<double> columns, in the
    exact-decimal or production-double arithmetic of :func:`kmeans_lloyd`
    (shared by the literal and table assignment paths so the two produce
    IDENTICAL assignments for the same centroids)."""
    if not exact:
        return F.aggregate(
            F.zip_with(v, c, lambda x, cv: (x - cv) * (x - cv)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    # terms at (30,12): addition widens to (31,12) -- scale PRESERVED
    # (at (38,12) Spark would cap precision and drop to scale 11, silently
    # rounding every partial); the cast back to (30,12) never loses value
    # because the fold total stays far below 18 integer digits
    zero = F.lit(0).cast("decimal(30,12)")
    terms = F.zip_with(
        v, c, lambda x, cv: F.round((x - cv) * (x - cv), 12).cast("decimal(30,12)")
    )
    return F.aggregate(terms, zero, lambda acc, t: (acc + t).cast("decimal(30,12)"))


#: k from which :func:`kmeans_lloyd` assigns through the centroid table
#: instead of plan literals. MEASURED, not guessed (SCALING.md § Large-k
#: assignment crossover, d=64, n=50k, production arithmetic): literal
#: codegen + the k-way least() chain grow linearly in k — table wins 5.3× at
#: k=32, 21× at k=64 — while below ~32 both are sub-10s. The crossover
#: shifts with d (smaller vectors → cheaper literal folds).
KMEANS_TABLE_K = 32


def _kmeans_lloyd_table(
    df: DataFrame,
    k: int,
    iters: int,
    vec_col: str,
    id_col: str,
    exact: bool,
    return_centroids: bool = False,
) -> DataFrame:
    """Large-k assignment path for :func:`kmeans_lloyd`: centroids live in a
    DataFrame, never in the plan. Assignment is map-only (r12): the centroid
    table collapses to ONE broadcast row — an array of (cluster, cvec)
    structs — and each vector computes its argmin in-row via an
    ``array_min`` over (dist, cluster) structs, so the assignment pass has
    zero shuffles and zero sorts (the former crossJoin + ``min_by`` argmin
    materialized n·k rows and planned as two SortAggregates — min_by's
    struct buffer has no hash-agg path). The k·d payload per executor is
    the same as the broadcast-table form. The update is the same
    (cluster, dim) partial-sum shuffle as the literal path but the new
    centroid table STAYS distributed (localCheckpoint per round) — no k·d
    driver collect, so adaptive-k policies (SemDeDup's n/250 cells) scale to
    k in the millions where a literal-struct plan dies at k in the low
    thousands (codegen/plan-size limits) and a driver round-trip dies at
    k·d collect. Same seeds, same arithmetic, same tie-break as the literal
    path: for equal inputs the two paths return identical assignments
    (tested), so callers may switch on k freely.

    Practical k ceiling of the ONE-ROW centroid pack (ADVICE r12): the
    in-row argmin packs all k (cluster, cvec) structs into a single
    broadcast row, so that row is ~k·d·8 bytes — ~3 GB at k=4M·d=100,
    pressing single-row and broadcast-relation limits the old
    row-per-centroid broadcast TABLE did not have. The update side and the
    distributed centroid table scale past that unchanged; if k·d·8
    approaches executor/broadcast memory (rule of thumb: k·d ≳ 10⁸), chunk
    the pack into bounded-size array rows (array of ≤10⁷-element packs,
    argmin per chunk then across chunks) or fall back to the two-level
    path, whose per-probe candidate set is √k-bounded by construction.
    """
    from pyspark.sql import Window

    v = F.col(vec_col).cast("array<double>")
    vecs = df.select(F.col(id_col).alias("__vid"), v.alias("__v"))
    w = Window.orderBy("__sid")
    cents = materialize(
        vecs.orderBy("__vid")
        .limit(k)
        .select(F.col("__vid").alias("__sid"), F.col("__v").alias("cvec"))
        .select(
            (F.row_number().over(w) - 1).cast("bigint").alias("cluster"), "cvec"
        ),
        mode="local",
    )

    def assign(cents_df: DataFrame) -> DataFrame:
        # IN-ROW argmin over a single broadcast centroid-pack row (r12,
        # guide §2.1/§3.1 — the same construction the two-level path's
        # supercell probe already uses): the k (cluster, cvec) rows collapse
        # into ONE array via collect_list, travel as one broadcast row
        # (data, not plan literals — no codegen wall at large k), and each
        # vector folds its distances inside a projection. This replaces the
        # previous n·k-row BroadcastNestedLoopJoin output + min_by
        # aggregation — the min_by(struct) buffer has no hash-agg path, so
        # the argmin planned as TWO SortAggregates with full sorts of the
        # n·k distance stream plus an n-row exchange; all of it is gone
        # (assignment is now map-only: zero exchanges, zero sorts).
        # Tie-break equivalence: array_min over (dist, cluster) structs is
        # the lexicographic minimum — identical to
        # min_by(cluster, struct(dist, cluster)), lowest cluster id on
        # equal distances; collect_list order cannot matter because
        # array_min is order-independent. Requires unique __vid only in the
        # sense the old groupBy did (ids are unique by contract; with the
        # groupBy gone, assignment is per input ROW).
        cents_arr = cents_df.agg(
            F.collect_list(F.struct("cluster", "cvec")).alias("__cents")
        )
        best = F.array_min(
            F.transform(
                "__cents",
                lambda c: F.struct(
                    _kmeans_dist(F.col("__v"), c["cvec"], exact).alias("d"),
                    c["cluster"].alias("cluster"),
                ),
            )
        )
        return vecs.crossJoin(F.broadcast(cents_arr)).select(
            "__vid", best["cluster"].alias("cluster"), "__v"
        )

    for _ in range(iters - 1):
        assigned = assign(cents)
        cell = assigned.select("cluster", F.posexplode("__v").alias("pos", "x"))
        ssum = (
            F.sum(F.round("x", 9).cast("decimal(18,9)")) if exact else F.sum("x")
        )
        cells = cell.groupBy("cluster", "pos").agg(
            (ssum.cast("double") / F.count(F.lit(1)).cast("double")).alias("c")
        )
        nxt = materialize(
            cells.groupBy("cluster").agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "c"))),
                    lambda s: s["c"],
                ).alias("cvec")
            ),
            mode="local",
        )
        release(cents)  # superseded round
        cents = nxt
    if return_centroids:
        # the centroid set the FINAL assignment is computed against (after
        # iters-1 updates) — NOT one more update past it; two-level
        # assignment against this table with exhaustive probing reproduces
        # kmeans_lloyd's assignment exactly (tested)
        return cents.select(F.col("cluster"), F.col("cvec"))
    return assign(cents).select(F.col("__vid").alias(id_col), "cluster")


def kmeans_assign_two_level(
    df: DataFrame,
    centroids: DataFrame,
    probe_cells: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: bool = False,
) -> DataFrame:
    """EXTREME-k assignment: coarse→fine two-level argmin against a trained
    centroid TABLE ``(cluster bigint, cvec array<double>)``; returns
    ``(id_col, cluster)``.

    The table path (:func:`_kmeans_lloyd_table`) pairs every vector with
    every centroid — n·k rows of distance work. Fine to k in the thousands,
    but a SemDeDup-scale k (n/250 ≈ 4M cells at 1B vectors) makes n·k
    astronomically large. Standard IVF answer, applied to the centroid set
    itself: cluster the k centroids into kc = ⌈√k⌉ supercells (k·kc·d work
    — negligible), give each vector its ``probe_cells`` nearest supercells
    (n·kc), then argmin only over centroids in those supercells
    (n·probe_cells·k/kc average). Total ≈ n·√k·(1+probe_cells)·d — a √k
    reduction; at k=4M that is ~2000 vs 4M distance folds per vector.

    APPROXIMATE: the true nearest centroid can sit in an unprobed supercell.
    The loss is quantified, not argued — ``kmeans_twolevel_agreement``
    registers the agreement fraction vs the exact table argmin as a
    hash-checkable assertion row, and raising ``probe_cells`` trades work
    for agreement (probe_cells=kc is exhaustive = exact). Use after
    training at feasible k (sampled or table-path Lloyd), as with
    :func:`ivf_centroids` → assignment.

    The supercell-tagged centroid table is persisted (it feeds the
    candidate join): run repeated calls inside ``materialize.scope()``."""
    v = F.col(vec_col).cast("array<double>")
    vecs = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__vid"), v.alias("__v")
    )
    cents = centroids.select(
        F.col("cluster").cast("bigint").alias("__cid"),
        F.col("cvec").cast("array<double>").alias("__cvec"),
    )
    k = cents.count()
    kc = max(1, math.isqrt(k - 1) + 1) if k > 1 else 1
    # level 1: cluster the centroids themselves (tiny: k rows) — reuse the
    # table-path Lloyd verbatim so super-cell geometry is real, not hashed
    sup_of_cent = _kmeans_lloyd_table(
        cents.select(F.col("__cid"), F.col("__cvec")),
        k=kc, iters=2, vec_col="__cvec", id_col="__cid", exact=False,
    ).select(F.col("__cid"), F.col("cluster").alias("__sup"))
    cents_sup = materialize(cents.join(sup_of_cent, "__cid"))
    sup_cents = materialize(
        cents_sup.select("__sup", F.posexplode("__cvec").alias("pos", "x"))
        .groupBy("__sup", "pos")
        .agg((F.sum("x") / F.count(F.lit(1))).alias("c"))
        .groupBy("__sup")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("__scvec")
        ),
        mode="local",
    )
    # level 2a: each vector's probe_cells nearest supercells — IN-ROW, no
    # shuffle: the kc supercell centroids travel as ONE broadcast row (an
    # array of (sup, cvec) structs — data, not plan literals, so neither
    # the codegen wall of the literal path nor the n·kc shuffle a
    # crossJoin+window formulation would pay), each vector folds distances
    # over that array, sorts the (dist, sup) structs lexicographically, and
    # keeps the first probe_cells — emitting n·p rows total
    sup_pack = sup_cents.agg(
        F.collect_list(F.struct("__sup", "__scvec")).alias("__cells")
    )
    probes = (
        vecs.crossJoin(F.broadcast(sup_pack))
        .select(
            "__vid",
            "__v",
            F.slice(
                F.array_sort(
                    F.transform(
                        "__cells",
                        lambda c: F.struct(
                            _kmeans_dist(F.col("__v"), c["__scvec"], False),
                            c["__sup"],
                        ),
                    )
                ),
                1,
                probe_cells,
            ).alias("__top"),
        )
        .select("__vid", "__v", F.explode("__top").alias("__t"))
        .select("__vid", "__v", F.col("__t.__sup").alias("__sup"))
    )
    # level 2b: argmin over centroids in the probed supercells only
    cand = probes.join(cents_sup, "__sup").select(
        "__vid",
        F.col("__cid").alias("cluster"),
        _kmeans_dist(F.col("__v"), F.col("__cvec"), exact).alias("__dist"),
    )
    return cand.groupBy("__vid").agg(
        F.min_by("cluster", F.struct(F.col("__dist"), F.col("cluster"))).alias(
            "cluster"
        )
    ).select(F.col("__vid").alias(id_col), "cluster")


def kmeans_centroid_table(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: bool = True,
) -> DataFrame:
    """Train Lloyd centroids and return them AS A TABLE ``(cluster, cvec)``
    (the input :func:`kmeans_assign_two_level` consumes): exactly the
    centroid set :func:`kmeans_lloyd`'s returned assignment is computed
    against (after ``iters-1`` updates), so exhaustive two-level probing
    against this table reproduces the Lloyd assignment bit-for-bit."""
    df = df.filter(F.col(vec_col).isNotNull())
    return _kmeans_lloyd_table(
        df, k, iters, vec_col, id_col, exact, return_centroids=True
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: bool = True,
) -> DataFrame:
    """Full-corpus Lloyd's k-means; returns ``(id_col, cluster)``.

    Unlike :func:`ivf_centroids` (driver-side k-means on a bounded sample,
    fine for training a coarse quantizer), this is the distributed textbook
    loop over ALL rows — the shape you run when cluster assignments themselves
    are the product (topic bucketing, dedup sharding, IVF with exact balance):

    - **assignment** is a map-only pass: the k×d centroid set is tiny, so it
      rides into the plan as literals (broadcast by value) and each row folds
      its distance to every centroid via ``zip_with``/``aggregate`` — no
      shuffle, no UDF, whole-stage-codegen'd.
    - **update** is one shuffle of (cluster, dim) decimal partial sums —
      map-side combined, so each partition contributes at most k·d rows no
      matter how many vectors it holds.
    - per round, exactly k·d aggregated values reach the driver (the new
      centroids) — at 100 TB that is still k·d doubles.

    Engine-exact determinism (duckdb-oracle replayable, partition-invariant):
    distance terms are ``round((x-c)², 12)`` snapped to DECIMAL(38,12) before
    the per-row fold (decimal addition is associative; double inputs are
    bit-identical on any IEEE engine); argmin tie-breaks on lowest cluster id
    via strict ``<``; centroid updates keep exact decimal sums
    (``round(x, 9)`` → DECIMAL(18,9)) and derive each component in ONE IEEE
    double division sum/count. Seeds are the k lowest-``id_col`` vectors (no
    RNG). Empty clusters drop out (classic sparse Lloyd).

    ``exact=False`` is the PRODUCTION path: plain IEEE-double distance folds
    and centroid sums. Distances stay row-deterministic (fixed in-row fold
    order) but centroid sums become shuffle-order dependent, so the result
    is not bit-replayable by an external oracle — in exchange the distance
    arithmetic vectorizes (measured 4.3× end-to-end at sf0.1, k=16, d=64:
    20.4 s → 4.8 s; BigDecimal ops defeat codegen). Same plan shape, same
    seeds, same tie-break; on separated data the clusterings coincide
    (tested).

    The assignment strategy follows k: below :data:`KMEANS_TABLE_K` the
    literal map-only broadcast-by-value pass above (the literal plan avoids
    a shuffle), from it on the centroid-table path
    (:func:`_kmeans_lloyd_table`: centroid DataFrame collapsed to one
    broadcast array row + in-row argmin) — REQUIRED for large k: a literal
    plan with thousands of centroid structs hits codegen/plan-size walls,
    and the literal path's per-round k·d driver collect stops scaling long
    before SemDeDup-style adaptive k reaches millions of cells. Both paths
    share seeds, distance arithmetic, and tie-break, so they produce
    identical assignments for identical inputs (tested) — the oracle for
    one verifies the other.
    """
    # NULL embeddings have no cluster (and a None seed would crash the
    # float() unpack) — drop them up front, same contract as ivf_centroids
    df = df.filter(F.col(vec_col).isNotNull())
    if k >= KMEANS_TABLE_K:
        return _kmeans_lloyd_table(df, k, iters, vec_col, id_col, exact)
    seeds = (
        df.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    cents: list[tuple[int, list[float]]] = [
        (int(r[id_col]), [float(x) for x in r["v"]]) for r in seeds
    ]
    # re-key seed clusters 0..k-1 by seed order (stable: sorted by id)
    cents = [(i, v) for i, (_, v) in enumerate(cents)]

    def _assign(centroids: list[tuple[int, list[float]]]) -> Column:
        v = F.col(vec_col).cast("array<double>")

        def dist_to(cvec: list[float]) -> Column:
            # arithmetic lives in _kmeans_dist, SHARED with the table path:
            # exact=True folds round((x-c)²,12) decimals (engine-replayable),
            # exact=False is the production IEEE-double fold
            # (row-deterministic, 4.3× faster — BigDecimal defeats codegen)
            c = F.array(*[F.lit(x) for x in cvec])
            return _kmeans_dist(v, c, exact)

        # argmin via least() over (dist, cid) structs: lexicographic struct
        # ordering takes the smallest distance and breaks ties on the lower
        # cluster id. A when()-chain would reference each running best in two
        # branches, doubling the distance subtree per centroid (measured 44s
        # -> 9s of codegen at k=8, d=64). Unnamed struct fields are col1/col2.
        pairs = [
            F.struct(dist_to(cvec), F.lit(cid).cast("bigint"))
            for cid, cvec in centroids
        ]
        if len(pairs) == 1:  # least() needs ≥2 args; k=1 is a constant assign
            return F.lit(centroids[0][0]).cast("bigint")
        return F.least(*pairs).getField("col2")

    for _ in range(iters - 1):
        assigned = df.select(
            _assign(cents).alias("cluster"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
        )
        ssum = (
            F.sum(F.round("x", 9).cast("decimal(18,9)"))
            if exact
            else F.sum("x")
        )
        rows = (
            assigned.groupBy("cluster", "pos")
            .agg(ssum.alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cid.setdefault(int(r["cluster"]), {})[int(r["pos"])] = float(
                r["s"]
            ) / int(r["n"])
        cents = [
            (cid, [dims[p] for p in sorted(dims)])
            for cid, dims in sorted(by_cid.items())
        ]
    return df.select(F.col(id_col), _assign(cents).alias("cluster"))
