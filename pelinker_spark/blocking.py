"""Candidate blocking — two channels, both pure column algebra.

Channel 1 (reference parity): exact normalized-surface-form key. Mentions
with the same blocking key are trivially candidates (reference equi-match,
pelinker/onto.py:146-156 + util.py:1025-1053). Because the pipeline blocks
on *distinct surfaces* (groupBy key first), identical keys never pairwise-
score — the group IS the block, which is the single biggest scale lever:
pair generation runs on |distinct surfaces|, not |mentions|.

Channel 2 (scale addition per north rule): MinHash-LSH over character
3-gram shingles. Entirely JVM-side — shingles via substring/transform,
minhash via xxhash64 with per-hash seeds + array_min, bands via hashing
minhash slices — no Python, no ml.feature stage (those require Vector
columns and a fit step; this formulation is stateless and streams).

Both channels, in batch and in the incremental path, enumerate pairs
through one kernel, block_pairs: a block is an LSH bucket or a compact
group, and the incremental path's "new key × accumulated history" join is
the same kernel with a predicate that keeps pairs touching a new key.

Skew: head surface-form keys (stopword-ish unigrams) produce giant blocks.
Blocks over the cap are dropped whole (stop-blocks), or in salt mode the
mid-sized ones are enumerated over salted shuffle cells
(salted_block_pairs, salted_cross_pairs).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .exprcache import session_cached

_KEY_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def has_nonkey_chars(key: Column) -> Column:
    """True when the key contains characters outside [a-z0-9 ].

    Equivalent to rlike("[^a-z0-9 ]") but via translate (a char-map walk):
    java.util.regex costs ~25us/key, which at 12.5M surfaces was ~40s per
    pass at 8 cores (measured); translate is ~10x cheaper."""
    return F.length(F.translate(key, _KEY_ALPHABET, "")) > 0


def compact_form(key: Column) -> Column:
    """key with non-[a-z0-9 ] characters removed — the regex runs ONLY on
    the punctuated minority (translate gate first), everything else passes
    through unchanged (compact == key there by definition)."""
    return F.when(
        has_nonkey_chars(key), F.regexp_replace(key, "[^a-z0-9 ]", "")
    ).otherwise(key)


def char_shingles(s: Column, n: int = 3) -> Column:
    """Distinct character n-grams of a string (padded so short strings
    still produce one shingle). NB: rpad TRUNCATES longer strings, so pad
    conditionally."""
    padded = F.when(F.length(s) < n, F.rpad(s, n, "_")).otherwise(s)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(padded) - F.lit(n - 1)),
            lambda i: F.substring(padded, i, n),
        )
    )


# Odd 31-bit multipliers for the arithmetic hash family. The base shingle
# hash is masked to 31 bits so 31x31-bit products never overflow int64
# (ANSI mode throws on long overflow).
_MH_A = [
    0x7F4A7C15, 0x1CE4E5B9, 0x133111EB, 0x6659FD93, 0x25A5A5A5, 0x27D4EB4F,
    0x1E3779F9, 0x165667C5, 0x7F4A7D07, 0x1CE4E4A1, 0x13311203, 0x6659FC89,
    0x27D4EA57, 0x1E3778E1, 0x165666B3, 0x7F4A7B0B,
]


def minhash_signatures_agg(
    surfaces: DataFrame, key_col: str = "key", num_hashes: int = 12, n: int = 3
) -> DataFrame:
    """Scalable minhash: explode shingles → scalar xxhash64 (whole-stage
    codegen) → groupBy(key) with num_hashes min() aggregates. Partial
    aggregation collapses each key to its running minima map-side, so the
    shuffle carries |keys| rows, not |keys|x|shingles|.

    Returns (key, mh0..mh{num_hashes-1})."""
    assert num_hashes <= len(_MH_A)
    c_prep, c_sh, aggs = _mh_cols(key_col, num_hashes, n)
    # explode an integer sequence, then scalar substring — building the
    # shingle array with a transform() lambda would run interpreted per
    # element; this shape stays in whole-stage codegen
    ex = surfaces.select(*c_prep).select(*c_sh)
    return ex.groupBy(key_col).agg(*aggs)


@session_cached
def _mh_cols(key_col: str, num_hashes: int, n: int):
    """Static Column fragments of minhash_signatures_agg, built once per
    session (py4j construction cost — see exprcache)."""
    k = F.col(key_col)
    padded = F.when(F.length(k) < n, F.rpad(k, n, "_")).otherwise(k)
    c_prep = [
        F.col(key_col),
        padded.alias("__p"),
        F.explode(
            F.sequence(F.lit(1), F.length(padded) - F.lit(n - 1))
        ).alias("i"),
    ]
    c_sh = [F.col(key_col), F.expr(f"substr(__p, i, {n})").alias("sh")]
    h = F.shiftrightunsigned(F.xxhash64(F.col("sh")), 33)
    aggs = [
        F.min((h + F.lit(j)) * F.lit(_MH_A[j]) % F.lit(2147483647)).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    return c_prep, c_sh, aggs


def lsh_buckets(
    keys: DataFrame,
    key_col: str = "key",
    num_hashes: int = 12,
    bands: int = 4,
    rows: int = 3,
) -> DataFrame:
    """key table → (key, band, bh) LSH bucket membership rows: minhash
    signature (scalable agg form) banded into `bands` bucket hashes of
    `rows` consecutive signature values each. Deterministic in the key
    string alone, so bucket ids computed incrementally (per streaming
    batch) are IDENTICAL to a batch run — the property the incremental
    blocking path relies on (streaming.incremental_link_batch)."""
    assert num_hashes >= bands * rows
    sig = minhash_signatures_agg(keys.select(key_col), key_col, num_hashes)
    c_band, c_post = _band_cols(key_col, bands, rows)
    return sig.select(*c_band).select(*c_post)


@session_cached
def _band_cols(key_col: str, bands: int, rows: int):
    """Static Column fragments of lsh_buckets (see exprcache)."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ":", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
                ),
                F.lit(b),
            ).alias("bh"),
        )
        for b in range(bands)
    ]
    c_band = [F.col(key_col), F.explode(F.array(*band_structs)).alias("bnd")]
    c_post = [
        F.col(key_col),
        F.col("bnd.band").alias("band"),
        F.col("bnd.bh").alias("bh"),
    ]
    return c_band, c_post


def lsh_candidate_pairs(
    surfaces: DataFrame,
    key_col: str = "key",
    num_hashes: int = 12,
    bands: int = 4,
    rows: int = 3,
    max_block: int = 50,
    registry: list | None = None,
    hot_bucket_mode: str = "drop",
    stop_block: int | None = None,
    hot_salts: int = 8,
    dedup: bool = True,
) -> DataFrame:
    """Distinct-surface table → candidate pairs (key_a, key_b), key_a < key_b.

    surfaces must have one row per distinct `key_col`. Pairs are generated
    within LSH buckets by the block_pairs kernel; buckets larger than
    max_block are handled per hot_bucket_mode (below) so a degenerate
    bucket can't put its quadratic pair work on one reduce task.

    hot_bucket_mode:
      "drop" (default) — oversized buckets are stop-buckets
        (low-information, quadratic-pair risk) and are skipped outright: a
        hash aggregate + semi join, cheaper and more skew-robust than a
        global sort-based per-bucket cap. The reference's cap discipline
        (sampling.py:101-153) survives in cap_group_rows for callers that
        need exact-k retention.
      "salt" — buckets in (max_block, stop_block] keep ALL their pairs,
        enumerated via salted_block_pairs (triangle partitioning: the
        bucket's n² pairs spread over hot_salts(hot_salts+1)/2 shuffle
        keys — the north rule's explicit salted repartitioning). Buckets
        above stop_block (default 40·max_block) are still dropped: past
        that size a shingle bucket is stopword-grade noise, and recall
        belongs to the other blocking channels. Trades bounded extra
        compute for recall on mid-sized head blocks.
    """
    assert hot_bucket_mode in ("drop", "salt")
    bucketed = lsh_buckets(surfaces, key_col, num_hashes, bands, rows)
    # the word count rides on each bucket-membership row, so the kernel
    # never generates cross-width pairs (WordGrouping, pelinker/onto.py:
    # 247-252: an n-word surface never links to an m-word one); bucket
    # caps still count the whole (band, bh) bucket
    bucketed = bucketed.select(
        "band", "bh", F.col(key_col).alias("key"),
        F.size(F.split(F.col(key_col), " ")).alias("wg"),
    )
    # the bucket table feeds the kernel's size aggregation and its semi
    # join (and the hot path in salt mode) — without materialization the
    # minhash lineage recomputes up to 3x
    bucketed = bucketed.persist()
    if registry is not None:
        registry.append(bucketed)
    raw, sizes = block_pairs(bucketed, ["band", "bh"], max_block)
    if hot_bucket_mode == "salt":
        hot = hot_block_members(
            bucketed, sizes, ["band", "bh"], max_block, stop_block
        )
        raw = raw.unionByName(
            salted_block_pairs(hot, ["band", "bh", "wg"], "key", hot_salts)
            .select("key_a", "key_b")
        )
    # dedup=False lets a caller that deduplicates the UNION of several
    # channels anyway (link_pipeline) skip this extra shuffle: a pair
    # found in several bands reaches it several times, and its own
    # dropDuplicates yields the identical set
    return raw.dropDuplicates(["key_a", "key_b"]) if dedup else raw


def compact_key_pairs(
    surfaces: DataFrame, key_col: str = "key", max_block: int = 20,
    registry: list | None = None, dedup: bool = True,
) -> DataFrame:
    """Deterministic third blocking channel: surfaces whose keys become
    equal after stripping intra-token punctuation ("acti-vate" ≡
    "activate") are candidates. Catches OCR/hyphenation typos with
    probability 1 where LSH is probabilistic. A compact group is a block
    of the pair kernel (block_pairs), with the same stop-block cap as the
    LSH channel, and a pair needs at least one punctuated member."""
    key = F.col(key_col)
    # Plan shape matters at scale: punctuated variants are a small
    # minority of surfaces, so probe the FULL surface table with a
    # broadcast semi join on their compact forms first — the
    # |surfaces|-sized side is scanned once and never shuffled (measured
    # 16.2s → ~2s at 2M surfaces vs grouping every surface). Only groups
    # holding a punctuated key can pair, so group sizes counted on the hit
    # set are the full group sizes. The translate gate keeps the removal
    # regex on the punctuated minority; the probe carries their (small)
    # compact-form multiset, as a semi join ignores multiplicity.
    probe = surfaces.where(has_nonkey_chars(key)).select(
        F.regexp_replace(key, "[^a-z0-9 ]", "").alias("ck")
    )
    hit = (
        surfaces.select(key.alias("key"), compact_form(key).alias("ck"))
        .join(F.broadcast(probe), "ck", "left_semi")
        .select(
            "ck", "key",
            F.size(F.split(F.col("key"), " ")).alias("wg"),
            has_nonkey_chars(F.col("key")).alias("punct"),
        )
        .persist()
    )
    if registry is not None:
        registry.append(hit)
    out, _ = block_pairs(
        hit, ["ck"], max_block, keep=lambda x, y: x["punct"] | y["punct"]
    )
    # each key sits in exactly one compact group, so the kernel emits
    # every pair once; dedup=True keeps the channel-local contract
    return out.dropDuplicates(["key_a", "key_b"]) if dedup else out


def block_pairs(
    members: DataFrame,
    block_cols: list[str],
    max_block: int,
    keep: Callable[[Column, Column], Column] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Within-block candidate pairs: the one pair kernel of both blocking
    channels, batch and incremental (the self-join and the
    batch-against-history join are the same kernel with a different
    `keep`).

    members: one row per (block, key), with a `key` and a `wg` (word
    count) column; every other non-block column rides along, so
    keep(x, y) can read it from either member struct. Blocks of more than
    max_block members are dropped whole — stop-blocks, found by a hash
    aggregate and a semi join, not a global sort. Each remaining block is
    collected into one array (never more than max_block entries, however
    degenerate the raw block) and expanded row-side by a double explode:
    one exchange and codegen'd explodes instead of a self-join. A pair is
    kept when x.wg == y.wg and x.key < y.key, and keep(x, y) when given,
    so within a block every unordered pair is emitted at most once.

    Returns (pairs (key_a, key_b), sizes (block_cols..., bn)); a salted
    path reads the blocks over the cap from `sizes` (hot_block_members)."""
    sizes = members.groupBy(*block_cols).agg(F.count("*").alias("bn"))
    cold = members.join(
        sizes.where(F.col("bn") <= max_block).select(*block_cols),
        block_cols,
        "left_semi",
    )
    fields = [c for c in members.columns if c not in block_cols]
    x, y = F.col("x"), F.col("y")
    pred = (x["wg"] == y["wg"]) & (x["key"] < y["key"])
    if keep is not None:
        pred = pred & keep(x, y)
    pairs = (
        cold.groupBy(*block_cols)
        .agg(F.collect_list(F.struct(*fields)).alias("ms"))
        .select(F.explode("ms").alias("x"), "ms")
        .select("x", F.explode("ms").alias("y"))
        .where(pred)
        .select(x["key"].alias("key_a"), y["key"].alias("key_b"))
    )
    return pairs, sizes


def hot_block_members(
    members: DataFrame,
    sizes: DataFrame,
    block_cols: list[str],
    max_block: int,
    stop_block: int | None,
) -> DataFrame:
    """Members of the blocks block_pairs dropped for size but that salt
    mode keeps: more than max_block and at most stop_block members
    (default 40·max_block — past that a shingle bucket is stopword-grade
    noise, and recall belongs to the other channels)."""
    stop = stop_block if stop_block is not None else max_block * 40
    hot = sizes.where((F.col("bn") > max_block) & (F.col("bn") <= stop))
    return members.join(hot.select(*block_cols), block_cols, "left_semi")


def salted_block_pairs(
    members: DataFrame,
    block_cols: list[str],
    key_col: str = "key",
    num_salts: int = 8,
) -> DataFrame:
    """All unordered within-block pairs, with each block's quadratic work
    spread over num_salts*(num_salts+1)/2 shuffle keys instead of one —
    the north rule's "explicit salted repartitioning to defuse head-term
    skew in blocks", as triangle partitioning.

    Each member gets a deterministic salt g = xxhash64(key) mod S. The
    unordered salt-cells (lo, hi), lo <= hi, tile all pairs: the LEFT side
    replicates a salt-g row into cells (g, g..S-1), the RIGHT side into
    cells (0..g, g), and the join key carries (block, lo, hi) — so a block
    of n rows shuffles as S(S+1)/2 keys of ~n/S rows each, and no single
    reduce task sees the block's full n² (each cell's pair work is
    ~(n/S)²). Every pair lands in exactly one cell: for salts gx < gy only
    cell (gx, gy) has x on the left and y on the right; the diagonal cell
    (g, g) sees both orders and keeps key_a < key_b. Replication cost:
    each row appears S+1 times across the two sides — paid only on the
    hot minority routed here.

    Output: (block_cols..., key_a, key_b) with key_a < key_b, exactly the
    pair set of a plain within-block self-join."""
    S = int(num_salts)
    assert S >= 1
    g = F.pmod(F.xxhash64(F.col(key_col), F.lit(17)), F.lit(S)).cast("int")
    m = members.select(*block_cols, F.col(key_col)).withColumn("__g", g)
    left = m.select(
        *block_cols,
        F.col(key_col).alias("__ka"),
        F.col("__g").alias("__lo"),
        F.explode(F.sequence(F.col("__g"), F.lit(S - 1))).alias("__hi"),
    )
    right = m.select(
        *block_cols,
        F.col(key_col).alias("__kb"),
        F.explode(F.sequence(F.lit(0), F.col("__g"))).alias("__lo"),
        F.col("__g").alias("__hi"),
    )
    return (
        left.join(right, [*block_cols, "__lo", "__hi"])
        .where((F.col("__lo") < F.col("__hi")) | (F.col("__ka") < F.col("__kb")))
        .select(
            *block_cols,
            F.least("__ka", "__kb").alias("key_a"),
            F.greatest("__ka", "__kb").alias("key_b"),
        )
    )


def salted_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    block_cols: list[str],
    left_key: str = "k1",
    right_key: str = "k2",
    num_salts: int = 8,
) -> DataFrame:
    """Every ordered (left, right) pair within a block, spread over
    num_salts² shuffle keys per block — the asymmetric (probe × history)
    twin of salted_block_pairs, used by the incremental path where the
    batch's new keys pair against accumulated state. Left rows replicate
    across all right-salts and vice versa (each row S copies), so a hot
    block's cross product lands in S² cells of ~(|L|/S)·(|R|/S) pairs.
    Output: (block_cols..., left_key, right_key) — no ordering or
    self-pair filtering; the caller applies its own predicates."""
    S = int(num_salts)
    assert S >= 1
    ga = F.pmod(F.xxhash64(F.col(left_key), F.lit(17)), F.lit(S)).cast("int")
    gb = F.pmod(F.xxhash64(F.col(right_key), F.lit(17)), F.lit(S)).cast("int")
    l = left.select(*block_cols, left_key).withColumn("__ga", ga).withColumn(
        "__gb", F.explode(F.sequence(F.lit(0), F.lit(S - 1)))
    )
    r = right.select(*block_cols, right_key).withColumn("__gb", gb).withColumn(
        "__ga", F.explode(F.sequence(F.lit(0), F.lit(S - 1)))
    )
    return l.join(r, [*block_cols, "__ga", "__gb"]).select(
        *block_cols, left_key, right_key
    )


def cap_group_rows(
    df: DataFrame, group_cols: list[str], k: int, order_col: str
) -> DataFrame:
    """Per-group deterministic top-k cap (reference cap_mentions_per_entity,
    pelinker/sampling.py:101-153): row_number over xxhash64(order_col)."""
    w = Window.partitionBy(*group_cols).orderBy(F.xxhash64(F.col(order_col)))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
