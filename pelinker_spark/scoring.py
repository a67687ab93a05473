"""Pairwise scoring: embedding cosine (pure column algebra) and
Jaro-Winkler (Arrow-batched pandas UDF).

Reference parity: dense-embedding similarity (pelinker/util.py:139-209
BERT-family encode + cosine scoring clustering_grid.py:395-423) re-expressed
as (a) a deterministic hash-based encoder stand-in with the exact UDF shape
a transformer would use at scale (Iterator pandas UDF, model state loaded
once per executor), and (b) cosine as zip_with/aggregate column algebra —
whole-stage-codegen'd, no Python on the similarity hot path.

The hash encoder is NOT a toy shortcut of the pipeline: it is the encode
stage's contract (text → unit Array<Float>, batched, deterministic). At
production scale the body of `_encode_batch` swaps for a transformer
forward pass; nothing else in the engine changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .exprcache import session_cached

EMBED_DIM = 32


def _unit_vec(s: str, dim: int) -> np.ndarray:
    """Deterministic pseudo-random unit vector for a feature (md5-seeded)."""
    seed = int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big")
    rng = np.random.RandomState(seed)
    v = rng.standard_normal(dim)
    return v / np.linalg.norm(v)


def _features(s: str) -> set[str]:
    """fastText-style character trigrams of the padded string plus whole
    tokens — near-identical surfaces share most features (high cosine),
    unrelated surfaces share almost none. Intra-token punctuation is
    stripped first: subword encoders are robust to OCR hyphenation, and the
    stand-in must model that (otherwise short typo'd surfaces score low
    cosine that a real encoder would not)."""
    s = "".join(c for c in s if c.isalnum() or c == " ")
    padded = f"^{s}$"
    grams = {padded[i : i + 3] for i in range(max(1, len(padded) - 2))}
    grams.update("tok:" + t for t in s.split(" "))
    return grams


# Worker-lifetime caches (guide §4.5: heavyweight state once per task, and
# via spark.python.worker.reuse once per *worker process*): feature vectors
# and encoded strings are pure functions of (salt, string), so sharing them
# across Arrow batches, tasks, and pipeline runs changes nothing but the
# constant factor. Before round 6 both dicts were rebuilt per batch, so
# every task re-derived the md5-seeded feature vectors from scratch (the
# dominant cost of the hash encoder) and the second bench link run re-paid
# the whole model build. Keys are f"{salt}\x00{gram}"; the memo is capped
# to bound a long session's footprint.
_FEAT_CACHE: dict[str, np.ndarray] = {}
_STR_MEMO: dict[str, np.ndarray] = {}
_STR_MEMO_MAX = 1_000_000


def _encode_batch(
    texts: pd.Series, dim: int = EMBED_DIM, salt: str = ""
) -> pd.Series:
    """Mean-pooled feature vectors, L2-normalized. Vectorized per Arrow
    batch with a worker-lifetime feature-vector cache (the 'model' here)
    plus a string-level memo — pair tables repeat keys, so each distinct
    string encodes once per worker. `salt` keys the feature space:
    distinct salts model distinct embedding sources (the reference's
    model/layer axis) with the same similarity structure but independent
    vectors."""
    cache = _FEAT_CACHE
    memo = _STR_MEMO
    out = []
    for s in texts:
        s = s or ""
        mk = f"{salt}\x00{s}"
        v = memo.get(mk)
        if v is None:
            acc = np.zeros(dim)
            for g in _features(s):
                ck = f"{salt}\x00{g}"
                fv = cache.get(ck)
                if fv is None:
                    fv = cache[ck] = _unit_vec(salt + g, dim)
                acc += fv
            n = np.linalg.norm(acc)
            if len(memo) >= _STR_MEMO_MAX:
                memo.clear()
            v = memo[mk] = (acc / n if n > 0 else acc).astype(np.float32)
        out.append(v)
    return pd.Series(out)


@F.pandas_udf(T.ArrayType(T.FloatType()))
def encode_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Iterator form — per-executor amortization point for real encoders
    (reference loads HF models once per model_type, model.py:1028-1043)."""
    for texts in batches:
        yield _encode_batch(texts)


def make_encode_udf(variant: str = "default"):
    """Encoder factory keyed by source variant (the engine's analog of the
    reference's (model, layer) embedding-source axis, model.py:1028-1043):
    variant 'default' is the canonical encoder (bit-identical to
    encode_udf); 'transformer' (or 'transformer:<name>' for an
    independent source) runs the real numpy transformer forward pass
    (encoder.py — attention/FFN/mask/pool with seeded weights, the
    production compute shape); any other variant salts the hash-encoder
    feature space. All variants share the contract text -> unit
    Array<Float>, so fusion (J2/J3) and model selection mix them freely."""
    if variant == "default":
        return encode_udf
    if variant == "transformer" or variant.startswith("transformer:"):
        from .encoder import encode_batch_transformer

        t_salt = variant.partition(":")[2]

        @F.pandas_udf(T.ArrayType(T.FloatType()))
        def encode_transformer(
            batches: Iterator[pd.Series],
        ) -> Iterator[pd.Series]:
            # Weights materialize lazily on first batch and persist for
            # the executor's lifetime (encoder._MODELS) — the same
            # once-per-process amortization as a checkpoint load.
            for texts in batches:
                yield encode_batch_transformer(texts, salt=t_salt)

        return encode_transformer
    salt = f"{variant}\x1f"

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def encode_variant(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in batches:
            yield _encode_batch(texts, salt=salt)

    return encode_variant


def cosine_col(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine of two pre-normalized Array<Float> columns — pure column
    algebra (SURVEY.md F12), no UDF.

    When the vector width is statically known (the pipeline's encoders
    always emit k·EMBED_DIM), pass `dim`: the zip_with/aggregate
    higher-order lambdas are *interpreted* per element, while the unrolled
    sum below is whole-stage-codegen'd scalar arithmetic (round 6;
    measured on the 40k bench's cosine-join stage). The accumulation is
    the same left-associated (((0+x0)+x1)+…) chain over the same element
    products, so the result is bit-identical to the HOF form."""
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    acc = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + F.element_at(a, i) * F.element_at(b, i)
    return acc


def _jaro_winkler(s1: str, s2: str) -> float:
    """Classic Jaro-Winkler (prefix scale 0.1, max prefix 4)."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    match_dist = max(l1, l2) // 2 - 1
    f1 = [False] * l1
    f2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_dist)
        hi = min(l2, i + match_dist + 1)
        for j in range(lo, hi):
            if not f2[j] and s2[j] == c:
                f1[i] = f2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if f1[i]:
            while not f2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return jaro + prefix * 0.1 * (1.0 - jaro)


def _bag_prefix_bound(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Vectorized (numpy, no per-row Python) sound upper bound on
    Jaro-Winkler per row. Jaro = (m/l1 + m/l2 + (m-t)/m)/3 with match
    count m and transpositions t >= 0, so Jaro <= (m/l1 + m/l2 + 1)/3,
    and jw = jaro + 0.1*p*(1-jaro) is monotone in jaro for p <= 4, so
    substituting upper bounds for m and p keeps the bound sound. Computed
    batch-wise: byte-level bag intersection B >= match count m
    (each matched char contributes >= 1 byte to both bags), char lengths
    for the Jaro denominators, and equal-leading-BYTE count as an upper
    bound on the Winkler prefix (char-prefix length p implies >= p equal
    leading bytes, so eb >= p and substituting eb keeps the bound sound;
    exact for ASCII keys)."""
    # one python pass per side builds (char_len, utf8_bytes); everything
    # after is numpy. Bytes are folded into 64 buckets (b & 0x3F): bucket
    # collisions only OVERcount the intersection, so the bound stays sound
    # while the per-row count matrix shrinks 4x ([a-z0-9 ] stay distinct
    # except a handful of letter/digit collisions).
    pa = [((s := x if isinstance(x, str) else ""), len(s), s.encode())
          for x in a]
    pb = [((s := x if isinstance(x, str) else ""), len(s), s.encode())
          for x in b]
    n = len(pa)
    la = np.fromiter((t[1] for t in pa), np.int64, n)
    lb = np.fromiter((t[1] for t in pb), np.int64, n)
    nba = np.fromiter((len(t[2]) for t in pa), np.int64, n)
    nbb = np.fromiter((len(t[2]) for t in pb), np.int64, n)
    bytes_a = np.frombuffer(b"".join(t[2] for t in pa), dtype=np.uint8)
    bytes_b = np.frombuffer(b"".join(t[2] for t in pb), dtype=np.uint8)
    ids_a = np.repeat(np.arange(n), nba)
    ids_b = np.repeat(np.arange(n), nbb)
    ca = np.bincount(
        ids_a * 64 + (bytes_a & 0x3F), minlength=n * 64
    ).reshape(n, 64)
    cb = np.bincount(
        ids_b * 64 + (bytes_b & 0x3F), minlength=n * 64
    ).reshape(n, 64)
    bag = np.minimum(ca, cb).sum(axis=1)
    m_up = np.minimum(bag, np.minimum(la, lb)).astype(np.float64)

    # equal-leading-byte count, capped at 4; distinct pads (0x00 vs 0xFF)
    # guarantee mismatch past either string's real length
    f4a = np.zeros((n, 4), dtype=np.uint8)
    f4b = np.full((n, 4), 255, dtype=np.uint8)
    starts_a = np.concatenate(([0], np.cumsum(nba)[:-1]))
    starts_b = np.concatenate(([0], np.cumsum(nbb)[:-1]))
    for k in range(4):
        va = nba > k
        f4a[va, k] = bytes_a[starts_a[va] + k]
        vb = nbb > k
        f4b[vb, k] = bytes_b[starts_b[vb] + k]
    eq = f4a == f4b
    run = eq[:, 0].astype(np.int64)
    p = run.copy()
    for k in range(1, 4):
        run = run & eq[:, k]
        p += run

    with np.errstate(divide="ignore", invalid="ignore"):
        jaro_up = np.where(
            (m_up == 0) | (la == 0) | (lb == 0),
            # JW("","") == 1.0 (equal-string fast path) — the bound must
            # not under-cut it, or the gate would drop a true score-1.0
            # pair; one empty side against a non-empty one is truly 0.0
            np.where((la == 0) & (lb == 0), 1.0, 0.0),
            (m_up / la + m_up / lb + 1.0) / 3.0,
        )
    return jaro_up + 0.1 * p * (1.0 - jaro_up)


def _pad_codes(strs: list[str], pad: int) -> tuple[np.ndarray, np.ndarray]:
    """Strings → (n, Lmax) int64 code-point matrix padded with `pad`, plus
    char lengths. Built with ONE encode of the concatenation and a single
    vectorized scatter — no per-row Python past the length fromiter."""
    n = len(strs)
    ls = np.fromiter((len(s) for s in strs), np.int64, n)
    total = int(ls.sum())
    L = int(ls.max()) if n else 0
    M = np.full((n, max(L, 1)), pad, dtype=np.int64)
    if total:
        cat = "".join(strs)
        codes = np.frombuffer(cat.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
        rows = np.repeat(np.arange(n), ls)
        starts = np.concatenate(([0], np.cumsum(ls)[:-1]))
        cols = np.arange(total) - starts[rows]
        M[rows, cols] = codes
    return M, ls


def _jw_exact_chunk(sa: list[str], sb: list[str]) -> np.ndarray:
    """Exact Jaro-Winkler for a chunk of string pairs, fully vectorized:
    the greedy match loop advances over s1 POSITIONS (i), with all pairs
    in the chunk processed per step by (m, window) boolean algebra —
    candidate mask = (char equal) & (s2 slot unmatched) & (|j-i| <= d),
    first-True via argmax, matched-flag scatters. Transpositions fall out
    of row-major np.nonzero on the two flag matrices (ascending i / j —
    exactly the scalar pairing order), counted with one bincount.
    Arithmetic mirrors _jaro_winkler expression-for-expression (same
    association order), so results are BIT-identical (tested).

    Pads: -1 (s1) vs -2 (s2) can never equal each other or any real code
    point, so positions past either string's true length fall out of the
    mask and the Winkler prefix run with no branches. Callers must
    pre-route equal pairs and empty-side pairs (fast paths)."""
    m = len(sa)
    A, l1 = _pad_codes(sa, -1)
    B, l2 = _pad_codes(sb, -2)
    L1, L2 = A.shape[1], B.shape[1]
    d = np.maximum(l1, l2) // 2 - 1  # may be -1: window empty, no matches
    dM = int(d.max()) if m else 0
    dcol = d[:, None]
    f1 = np.zeros((m, L1), dtype=bool)
    f2 = np.zeros((m, L2), dtype=bool)
    Jfull = np.arange(L2)
    rows = np.arange(m)
    for i in range(L1):
        # chunk-wide window [i-dM, i+dM]: columns no row can match skip
        # the boolean work entirely (chunks are length-sorted, so dM is
        # near-tight for every row in the chunk)
        w0, w1 = max(0, i - dM), min(L2, i + dM + 1)
        if w0 >= w1:
            continue
        Jw = Jfull[w0:w1][None, :]
        cand = (
            (B[:, w0:w1] == A[:, i][:, None])
            & ~f2[:, w0:w1]
            & (Jw >= i - dcol)
            & (Jw <= i + dcol)
        )
        j = cand.argmax(axis=1)
        has = cand[rows, j]  # argmax==0 is ambiguous; one gather resolves
        jj = j + w0
        f2[has, jj[has]] = True
        f1[has, i] = True
    matches = f1.sum(axis=1).astype(np.float64)
    r1, p1 = np.nonzero(f1)
    r2, p2 = np.nonzero(f2)
    t = np.bincount(r1, weights=(A[r1, p1] != B[r2, p2]), minlength=m) // 2
    l1f = l1.astype(np.float64)
    l2f = l2.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = np.where(
            matches == 0.0,
            0.0,
            (matches / l1f + matches / l2f + (matches - t) / matches) / 3.0,
        )
    K = min(4, L1, L2)
    p = np.zeros(m, dtype=np.int64)
    if K:
        run = np.ones(m, dtype=bool)
        for k in range(K):
            run &= A[:, k] == B[:, k]
            p += run
    return jaro + p * 0.1 * (1.0 - jaro)


def jw_exact_batch(av: np.ndarray, bv: np.ndarray, chunk: int = 4096) -> np.ndarray:
    """Vectorized exact Jaro-Winkler over object arrays of strings —
    bit-identical to _jaro_winkler per row (property-tested), no per-row
    Python in the scoring path (the north rule's 'vectorized pandas/Arrow
    UDFs, no per-row Python' applied to the LAST holdout).

    Shape that made it win where round 2's attempt lost: rows are sorted
    by max(len) and processed in `chunk`-row slabs, each padded only to
    ITS OWN Lmax — so a length-40 outlier can't inflate the boolean work
    of 4000 length-12 rows, and per-op numpy overhead amortizes over
    thousands of rows instead of a small per-length bucket. Equal pairs
    and empty-side pairs route to closed forms first.

    MEASURED (round 4, 200k realistic multi-word blocking keys, zero
    equal pairs — the gated-survivor profile): 7.1µs/row vs the scalar
    loop's 18.9µs (2.7x); with 40% equal pairs 4.7 vs 11.2µs (2.4x).
    Round 2's per-length-bucket variant measured 0.3-0.7x — the chunking
    discipline is the difference, not numpy itself."""
    n = len(av)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    eq = av == bv
    out[eq] = 1.0  # covers JW("","") == 1.0
    idx = np.flatnonzero(~eq)
    if idx.size == 0:
        return out
    la = np.fromiter((len(av[i]) for i in idx), np.int64, idx.size)
    lb = np.fromiter((len(bv[i]) for i in idx), np.int64, idx.size)
    nz = (la > 0) & (lb > 0)  # one empty side (unequal) is exactly 0.0
    idx = idx[nz]
    if idx.size == 0:
        return out
    mx = np.maximum(la[nz], lb[nz])
    order = np.argsort(mx, kind="stable")
    for c0 in range(0, idx.size, chunk):
        sel = idx[order[c0 : c0 + chunk]]
        out[sel] = _jw_exact_chunk(av[sel].tolist(), bv[sel].tolist())
    return out


def make_gated_jw_udf(threshold: float):
    """Arrow-batched JW scorer with the vectorized bag+prefix pre-gate
    fused in: the exact kernel runs ONLY on rows whose sound upper
    bound can reach `threshold`; provably-failing rows score 0.0 (their
    true JW is < threshold, so any caller filtering `>= threshold` gets
    bit-identical edges — tested).

    Why in-batch rather than a Catalyst predicate: the same bound as a
    column expression falls out of whole-stage codegen (~90µs/row
    interpreted, measured round 3) while this numpy form costs ~1µs/row
    and removed 62% of pairs from the exact-JW stage on the 40k bench
    (5.9s → 1.5s) with zero edge difference. Round 4 replaces the
    surviving rows' scalar loop with jw_exact_batch (vectorized exact,
    2.7x) — the whole scorer is now numpy end-to-end.

    Returned non-deterministic (round 6): every caller computes the score
    with withColumn and immediately filters on it, and filter pushdown
    duplicates a deterministic UDF into two ArrowEvalPython nodes — one
    below the pushed filter, one in the surviving projection — so every
    pair paid the gate twice and every survivor the exact kernel twice
    (verified in the q39/score_pairs plans). Marking it non-deterministic
    pins a single evaluation; the score itself is a pure function of
    (a, b), so results are unchanged.

    Memoized per (session, threshold): constructing and registering the
    pandas UDF is a py4j round trip re-paid per pipeline call otherwise
    (exprcache)."""
    return _make_gated_jw_udf_cached(float(threshold))


@session_cached
def _make_gated_jw_udf_cached(threshold: float):
    thr = float(threshold) - 1e-12

    @F.pandas_udf(T.DoubleType())
    def gated_jw(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.zeros(len(a), dtype=np.float64)
        if len(a):
            keep = np.flatnonzero(_bag_prefix_bound(a, b) >= thr)
            if keep.size:
                av = a.astype(str).to_numpy()
                bv = b.astype(str).to_numpy()
                out[keep] = jw_exact_batch(av[keep], bv[keep])
        return pd.Series(out)

    return gated_jw.asNondeterministic()


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched ungated JW scorer (the gated variant is the
    pipeline's; this is the standalone function surface).

    Measurement history on realistic blocking keys (5-40 chars):
    round 2 built a per-length-bucket lock-step vectorization — 0.3-0.7x
    the scalar loop, rejected. Round 4's jw_exact_batch (length-SORTED
    fixed-size chunks, each padded to its own Lmax) measures 2.7x the
    scalar loop with bit-identical output, so the scalar loop survives
    only as the parity oracle (_jaro_winkler). On a real cluster
    rapidfuzz.process.cpdist (C++) would still beat this ~10x; the UDF
    shape stays either way."""
    if not len(a):
        return pd.Series([], dtype="float64")
    return pd.Series(
        jw_exact_batch(a.astype(str).to_numpy(), b.astype(str).to_numpy()),
        dtype="float64",
    )
