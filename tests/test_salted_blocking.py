"""Salted skew defusal for hot blocks (north rule: "explicit salted
repartitioning to defuse head-term skew in blocks").

salted_block_pairs spreads a block's quadratic pair enumeration over
S(S+1)/2 shuffle cells (triangle partitioning); salted_cross_pairs is the
asymmetric probe-vs-history twin used by the incremental path. Both must
produce EXACTLY the plain self-join's pair set for every salt count —
salting redistributes work, never changes results."""

import itertools

from pyspark.sql import functions as F

from pelinker_spark.blocking import (
    block_pairs,
    lsh_candidate_pairs,
    salted_block_pairs,
    salted_cross_pairs,
)


def _naive_pairs(keys):
    return {
        (min(a, b), max(a, b))
        for a, b in itertools.combinations(sorted(set(keys)), 2)
    }


def test_salted_block_pairs_equals_naive(spark):
    """Pair-set identity vs itertools on blocks of several sizes, for salt
    counts bracketing the block sizes (S=1 degenerates to the plain
    self-join; S > n leaves some cells empty)."""
    blocks = {
        "b0": [f"k{i:02d}" for i in range(1)],
        "b1": [f"m{i:02d}" for i in range(2)],
        "b2": [f"n{i:02d}" for i in range(13)],
        "b3": [f"p{i:02d}" for i in range(40)],
    }
    rows = [(blk, k) for blk, keys in blocks.items() for k in keys]
    df = spark.createDataFrame(rows, "blk string, key string")
    expected = {
        (blk, a, b)
        for blk, keys in blocks.items()
        for a, b in _naive_pairs(keys)
    }
    for s in (1, 2, 3, 8, 64):
        got = {
            (r.blk, r.key_a, r.key_b)
            for r in salted_block_pairs(df, ["blk"], "key", s).collect()
        }
        assert got == expected, f"salt count {s}"


def test_block_pairs_equals_naive(spark):
    """The pair kernel equals the naive within-block self-join on random
    small blocks: blocks over max_block are dropped whole, pairs stay
    within a word group, and a keep predicate filters on member fields."""
    import random

    rng = random.Random(5)
    rows = [
        (f"b{b}", f"k{b}_{i}", rng.randint(1, 2), rng.random() < 0.3)
        for b in range(12)
        for i in range(rng.randint(1, 9))
    ]
    df = spark.createDataFrame(rows, "blk string, key string, wg int, f boolean")
    max_block = 6
    blocks = {}
    for blk, key, wg, f in rows:
        blocks.setdefault(blk, []).append((key, wg, f))
    assert any(len(ms) > max_block for ms in blocks.values())

    def naive(keep):
        flag = {key: f for _, key, _, f in rows}
        return {
            (a, b)
            for ms in blocks.values()
            if len(ms) <= max_block
            for wg in (1, 2)
            for a, b in _naive_pairs([k for k, w, _ in ms if w == wg])
            if keep(flag[a], flag[b])
        }

    for keep, ref in (
        (None, lambda a, b: True),
        (lambda x, y: x["f"] | y["f"], lambda a, b: a or b),
    ):
        pairs, _ = block_pairs(df, ["blk"], max_block, keep=keep)
        got = [(r.key_a, r.key_b) for r in pairs.collect()]
        assert len(got) == len(set(got))  # each pair once
        assert set(got) == naive(ref) and got


def test_salted_cross_pairs_equals_plain_join(spark):
    """Ordered cross-product identity vs the unsalted block join, for
    asymmetric side sizes."""
    left = [("b", f"l{i}") for i in range(7)] + [("c", "x")]
    right = [("b", f"r{i}") for i in range(11)] + [("d", "y")]
    ldf = spark.createDataFrame(left, "blk string, k1 string")
    rdf = spark.createDataFrame(right, "blk string, k2 string")
    expected = {
        (bl, a, b) for bl, a in left for bb, b in right if bl == bb
    }
    for s in (1, 3, 8):
        got = {
            (r.blk, r.k1, r.k2)
            for r in salted_cross_pairs(
                ldf, rdf, ["blk"], "k1", "k2", s
            ).collect()
        }
        assert got == expected, f"salt count {s}"


def test_lsh_salt_mode_recovers_hot_bucket_pairs(spark):
    """With a cap small enough that real LSH buckets exceed it, salt mode
    must enumerate exactly the pairs an uncapped run produces for every
    bucket up to stop_block — i.e. salting recovers the recall that drop
    mode sacrifices, with identical pair semantics."""
    # hyphen-position variants share almost all 3-gram shingles, so they
    # concentrate into the same LSH buckets -> one genuinely hot bucket
    word = "identifier"
    keys = [word] + [word[:i] + "-" + word[i:] for i in range(1, 15)]
    surfaces = spark.createDataFrame([(k,) for k in keys], "key string")

    kw = dict(num_hashes=12, bands=4, rows=3)
    uncapped = {
        (r.key_a, r.key_b)
        for r in lsh_candidate_pairs(surfaces, max_block=10_000, **kw).collect()
    }
    dropped = {
        (r.key_a, r.key_b)
        for r in lsh_candidate_pairs(surfaces, max_block=2, **kw).collect()
    }
    salted = {
        (r.key_a, r.key_b)
        for r in lsh_candidate_pairs(
            surfaces, max_block=2, hot_bucket_mode="salt",
            stop_block=10_000, hot_salts=4, **kw
        ).collect()
    }
    assert salted == uncapped
    assert dropped < salted, "drop mode must actually lose hot-bucket pairs"


def test_lsh_salt_mode_still_drops_stop_buckets(spark):
    """Buckets past stop_block stay dropped in salt mode (stopword-grade
    noise): with stop_block == max_block the salt path adds nothing."""
    word = "identifier"
    keys = [word] + [word[:i] + "-" + word[i:] for i in range(1, 15)]
    surfaces = spark.createDataFrame([(k,) for k in keys], "key string")
    kw = dict(num_hashes=12, bands=4, rows=3, max_block=2)
    dropped = {
        (r.key_a, r.key_b)
        for r in lsh_candidate_pairs(surfaces, **kw).collect()
    }
    salted_stopped = {
        (r.key_a, r.key_b)
        for r in lsh_candidate_pairs(
            surfaces, hot_bucket_mode="salt", stop_block=2, **kw
        ).collect()
    }
    assert salted_stopped == dropped


def test_incremental_salt_mode_matches_batch(spark, tmp_path):
    """Single-drop incremental run with hot_bucket_mode='salt' enumerates
    exactly the batch pipeline's salt-mode pair set (the same parity
    guarantee the default caps already have)."""
    from pelinker_spark.blocking import compact_key_pairs
    from pelinker_spark.pipeline import LinkConfig, prefilter_pairs
    from pelinker_spark.streaming import (
        _write_incremental_state,
        incremental_candidate_pairs,
    )

    cfg = LinkConfig(max_block=2, hot_bucket_mode="salt",
                     lsh_stop_block=10_000, lsh_hot_salts=4)
    word = "identifier"
    keys = [word] + [word[:i] + "-" + word[i:] for i in range(1, 15)]
    surfaces = spark.createDataFrame([(k,) for k in keys], "key string")

    batch_pairs = prefilter_pairs(
        lsh_candidate_pairs(
            surfaces,
            num_hashes=cfg.lsh_num_hashes,
            bands=cfg.lsh_bands,
            rows=cfg.lsh_rows,
            max_block=cfg.max_block,
            hot_bucket_mode="salt",
            stop_block=cfg.lsh_stop_block,
            hot_salts=cfg.lsh_hot_salts,
        ).unionByName(
            compact_key_pairs(surfaces, max_block=cfg.compact_max_block)
        )
    ).dropDuplicates(["key_a", "key_b"])

    out = str(tmp_path / "inc_state_salt")
    _write_incremental_state(surfaces, out, cfg, 0)
    inc_pairs = incremental_candidate_pairs(spark, out, cfg, 0)

    a = {(r.key_a, r.key_b) for r in batch_pairs.collect()}
    b = {(r.key_a, r.key_b) for r in inc_pairs.collect()}
    assert a == b
    assert a, "the hot bucket must produce pairs in salt mode"


def test_salted_cells_bound_per_task_pairs(spark):
    """The redistribution claim itself: no (block, lo, hi) cell holds more
    than ceil(n/S)+slack members per side, so per-task pair work is
    ~(n/S)^2, not n^2. Verified by recomputing the cell occupancy with the
    same salt function the implementation uses."""
    n, s = 64, 8
    keys = [f"k{i:03d}" for i in range(n)]
    df = spark.createDataFrame([("b", k) for k in keys], "blk string, key string")
    occ = (
        df.withColumn(
            "g", F.pmod(F.xxhash64(F.col("key"), F.lit(17)), F.lit(s))
        )
        .groupBy("g")
        .count()
        .collect()
    )
    sizes = {r.g: r["count"] for r in occ}
    # xxhash64 spreads uniformly; allow generous slack over the n/S mean
    assert max(sizes.values()) <= 3 * (n // s)
    # and the pair set is still exact
    got = {
        (r.key_a, r.key_b)
        for r in salted_block_pairs(df, ["blk"], "key", s).collect()
    }
    assert got == _naive_pairs(keys)
