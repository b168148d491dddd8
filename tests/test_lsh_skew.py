"""Hot-band LSH skew handling (VERDICT r9 task 3).

A boilerplate template collapses thousands of near-identical docs into one
(band, bucket) value; the s² pair expansion of that single key is invisible
to AQE's skew split (input-bytes-based detection, output amplification —
measured in tools/skewed_band_probe.py). These tests pin the two defenses:

- ``salt``: triangular block self-join for buckets above ``salt_threshold``
  — must be BIT-IDENTICAL to the unsalted join (every unordered pair
  exactly once, no self-pairs, no duplicates);
- ``bucket_cap`` + ``lsh_mega_buckets``: what the cap drops from pair
  enumeration comes back as cluster labels over the same band table.
"""

import itertools
from collections import defaultdict

import pytest
from conftest import broadcast_disabled
from pyspark.sql import functions as F

from makinage_spark import dedup, materialize


def _corpus(spark, n_tpl=40, n_bg=60):
    """n_tpl near-identical template docs + n_bg distinct background docs."""
    tpl = spark.range(n_tpl).selectExpr(
        "id AS doc_id",
        "concat('the quick brown fox jumps over the lazy dog again and again"
        " and again padding words everywhere', ' t', id) AS text",
    )
    bg = spark.range(n_bg).selectExpr(
        f"id + {n_tpl} AS doc_id",
        "concat_ws(' ', transform(sequence(0, 29),"
        " i -> concat('w', pmod(xxhash64(id, i), 500)))) AS text",
    )
    return tpl.unionByName(bg)


def test_salted_pairs_bit_identical(spark):
    docs = _corpus(spark)
    plain = {
        (r.a, r.b) for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    salted = {
        (r.a, r.b)
        for r in dedup.minhash_lsh_pairs(
            docs, salt=4, salt_threshold=8
        ).collect()
    }
    assert salted == plain
    assert all(a < b for a, b in salted)
    # the template's intra-cluster pairs are present (it IS a near-dup set)
    assert (0, 1) in salted


def test_salt_one_and_none_equivalent(spark):
    docs = _corpus(spark, n_tpl=12, n_bg=20)
    plain = {(r.a, r.b) for r in dedup.minhash_lsh_pairs(docs).collect()}
    degenerate = {
        (r.a, r.b)
        for r in dedup.minhash_lsh_pairs(docs, salt=1).collect()
    }
    assert degenerate == plain


def test_mega_buckets_label_what_the_cap_drops(spark):
    docs = _corpus(spark)
    stacked = dedup.minhash_band_table(docs)
    capped = dedup.minhash_lsh_pairs(docs, bucket_cap=8)
    labels = dedup.lsh_mega_buckets(stacked, bucket_cap=8)
    lab = {r.doc_id: r.cluster for r in labels.collect()}
    # every template doc is labeled, with the keep-smallest convention
    for d in range(40):
        assert lab.get(d) == 0, (d, lab.get(d))
    # and the capped pair mine no longer enumerates the template's pairs
    tpl_pairs = capped.filter(F.col("a") < 40).filter(F.col("b") < 40)
    assert tpl_pairs.count() == 0
    # union of (capped pairs ∪ labeled docs) covers the template cluster:
    # nothing silently vanished
    assert set(lab.keys()) >= set(range(40))


def test_mega_bucket_labels_generalize_to_simhash_blocks(spark):
    """The labels complement works on any band table with the same s²
    exposure — here the simhash pigeonhole table."""
    docs = _corpus(spark)
    labels = dedup.lsh_mega_buckets(dedup.simhash_band_table(docs), bucket_cap=8)
    lab = defaultdict(set)
    for r in labels.collect():
        lab[r.doc_id].add(r.cluster)
    # Unlike minhash bands, a simhash BLOCK can flip on a near-identical doc
    # (one perturbed token flips any bit whose vote margin was ±1), so a
    # template doc may carry extra labels from smaller mega-blocks. The
    # guarantees under test: every template doc is labeled, and the shared
    # template block puts (nearly) all of them in cluster 0 — a doc misses
    # it only if its perturbation flipped a bit in EVERY one of the 4
    # blocks, which the 40-doc fixture should make rare.
    for d in range(40):
        assert lab[d], f"template doc {d} unlabeled"
    in_main = sum(1 for d in range(40) if 0 in lab[d])
    assert in_main >= 36, in_main


def test_cap_and_salt_compose(spark):
    """bucket_cap and salt together: the cap drops template buckets FIRST,
    then salt thresholds what remains — output equals the capped unsalted
    mine exactly (salt never resurrects capped-out buckets)."""
    docs = _corpus(spark)
    capped = {
        (r.a, r.b)
        for r in dedup.minhash_lsh_pairs(docs, bucket_cap=8).collect()
    }
    both = {
        (r.a, r.b)
        for r in dedup.minhash_lsh_pairs(
            docs, bucket_cap=8, salt=4, salt_threshold=2
        ).collect()
    }
    assert both == capped


def test_salted_join_shuffles_on_block_key(spark):
    """The salt's whole point is the physical plan: the big-bucket join must
    hash-partition on (band, bucket, __bj) so a mega-bucket spreads over
    ``salt`` reducer keys instead of landing on one. Pin it in the plan —
    with broadcast disabled so the join is a real shuffle join."""
    docs = _corpus(spark)
    with broadcast_disabled(spark):
        pairs = dedup.minhash_lsh_pairs(docs, salt=4, salt_threshold=8)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "__bj" in plan, plan
        import re

        exchanges = re.findall(r"Exchange hashpartitioning\([^)]*\)", plan)
        assert any("__bj" in e for e in exchanges), exchanges


def _banding_reference(rows, cap=None):
    """Pure-Python banding of a collected band table: every pair of docs
    sharing a (band, bucket) group of at most ``cap`` members."""
    groups = defaultdict(list)
    for r in rows:
        groups[(r.band, r.bucket)].append(r.doc_id)
    pairs = set()
    for ids in groups.values():
        if cap is None or len(ids) <= cap:
            pairs.update(itertools.combinations(sorted(ids), 2))
    return pairs


def _kernel_corpus(spark):
    """``_corpus`` plus the capped emit-once edge: ten copies of T fill
    mega buckets in bands 0, 1 and 3 that the two "ah " + T docs share,
    while band 2 puts those two alone in a kept bucket (the fixture of
    test_minhash_cap_emits_pair_whose_first_equal_band_is_dropped)."""
    t = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
         "eiusmod tempor")
    edge = [(1000 + i, t) for i in range(10)] + [(1010, "ah " + t), (1011, "ah " + t)]
    return _corpus(spark).unionByName(
        spark.createDataFrame(edge, "doc_id long, text string")
    )


@pytest.mark.parametrize(
    "mode", [{}, {"bucket_cap": 8}, {"salt": 4, "salt_threshold": 8}],
    ids=["plain", "bucket_cap", "salted"],
)
def test_minhash_pairs_equal_python_banding(spark, mode):
    """The emit-once banded self-join against a pure-Python banding of
    the collected minhash_band_table: same pair set, each pair once."""
    docs = _kernel_corpus(spark)
    with materialize.scope():
        rows = dedup.minhash_band_table(docs).collect()
        got = [(r.a, r.b) for r in dedup.minhash_lsh_pairs(docs, **mode).collect()]
    want = _banding_reference(rows, mode.get("bucket_cap"))
    assert len(got) == len(set(got)) and set(got) == want
    capped = _banding_reference(rows, 8)
    assert capped != _banding_reference(rows) and (1010, 1011) in capped


@pytest.mark.parametrize("block_cap", [None, 8], ids=["plain", "block_cap"])
def test_simhash_pairs_equal_python_blocking(spark, block_cap):
    """The same kernel under simhash_pairs against a pure-Python blocking
    of the collected simhash_band_table, Hamming-filtered."""
    docs = _kernel_corpus(spark)
    with materialize.scope():
        rows = dedup.simhash_band_table(docs).collect()
        got = [(r.a, r.b, r.hamming) for r in
               dedup.simhash_pairs(docs, max_hamming=3, block_cap=block_cap).collect()]
    sh = {r.doc_id: r.sh for r in rows}
    want = {(a, b, bin(sh[a] ^ sh[b]).count("1"))
            for a, b in _banding_reference(rows, block_cap)}
    assert len(got) == len(set(got))
    assert set(got) == {w for w in want if w[2] <= 3}
