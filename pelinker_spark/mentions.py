"""Mention-candidate generation — pure JVM-side column algebra.

Reference semantics (SURVEY.md §2 W4/M3, pelinker/onto.py:146-156,
util.py:801-822): whitespace-normalize, split into sentences, slide word
windows of width 1/2/3 over each sentence, keep windows that pass the
keep-predicate (no empty-normalizing token, not all stopwords), and key
each window by its normalized surface form (the blocking key).

Everything here is Catalyst-visible higher-order-function algebra
(split / transform / aggregate / posexplode) — whole-stage-codegen'd, zero
Python, zero shuffle. Char offsets (a, b sentence-local; a_abs, b_abs
doc-global) are exact over the whitespace-normalized text and computed
array-side with running-sum aggregates rather than a window function, so
mention generation is a single narrow stage.

Output schema mirrors the reference mention parquet
(pelinker/io/parquet.py:23-38) with pmid→url.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .exprcache import session_cached
from .textnorm import STOPWORDS, blocking_key_col, norm_token_col

MAX_WINDOW = 3  # W1/W2/W3 — reference pelinker/onto.py:12-16


def _starts(arr: Column) -> Column:
    """Running char offsets for an array of strings joined by single
    spaces: starts[i] = sum(len+1 for j<i); size = n+1 (last = total+1)."""
    return F.aggregate(
        arr,
        F.array(F.lit(0)),
        lambda acc, s: F.concat(
            acc, F.array(F.element_at(acc, -1) + F.length(s) + F.lit(1))
        ),
    )


def normalize_ws(text: Column) -> Column:
    """Whitespace-normalize (reference util.py:304-313) — after this, char
    offsets computed from token lengths are exact."""
    return F.regexp_replace(F.trim(text), r"\s+", " ")


def split_sentences(text: Column) -> Column:
    """array<string> of sentences (split on ./!/? followed by space)."""
    return F.filter(
        F.split(text, r"(?<=[.!?])\s+"), lambda s: F.trim(s) != ""
    )


def generate_mentions(pages: DataFrame, windows: tuple[int, ...] = (1, 2, 3),
                      lang: str | None = "en",
                      extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """pages(url, text, ...) → mention candidates.

    Output: url, itext, ichunk, wg, mention, key, a, b, a_abs, b_abs
      - wg: window width (word grouping)
      - key: normalized blocking key
      - a,b: half-open char span within the normalized sentence
      - a_abs,b_abs: half-open char span within the normalized document
    extra_cols are threaded through unchanged (e.g. warc_ts for streaming
    event-time windows — stream-stream joins can't re-attach them later).

    Physical plan (the third iteration, measured fastest): one posexplode
    over arrays_zip of the token array with its own 1- and 2-shifted
    slices — window w at token i reads (toks[i..i+w)) entirely from the
    zipped struct, so every per-token expression downstream is a *scalar*
    (whole-stage-codegen'd). No window function (no shuffle — unlike a
    lead() formulation) and no per-window interpreted transform() lambdas
    (unlike the HOF formulation the tests keep as its parity oracle:
    higher-order lambdas are interpreted, ~20x slower per element). The
    only remaining interpreted aggregates are the two _starts running
    sums, linear per sentence.
    """
    for w in windows:
        assert 1 <= w <= MAX_WINDOW, "windows limited to W1/W2/W3"
    df = pages
    if lang is not None and "lang" in df.columns:
        df = df.where(F.col("lang") == lang)

    # All Column fragments below are static given (windows, extra_cols):
    # building them is ~0.5 s of py4j round trips per call, re-paid per
    # pipeline run / streaming batch, so they are constructed once per
    # session (exprcache.session_cached; unresolved Columns are immutable
    # and reusable across DataFrames). Plan shape and values unchanged.
    (
        c_sents, c_explode1, c_post1, c_toks, c_explode2,
        c_b1, c_ab2, c_b3n, c_nens, c_wexplode, c_final,
    ) = _mention_plan_cols(tuple(windows), tuple(extra_cols))

    df = df.select(*c_sents)
    # doc-global offset of each sentence (array-side running sum, no shuffle)
    df = df.select(*c_explode1).select(*c_post1)

    # sentences are whitespace-normalized upstream (single spaces, no
    # edges), so a plain split can never produce empty tokens — skipping
    # tokenize_col's interpreted filter() lambda over ~100M tokens
    df = df.select(*c_toks)

    # zip toks with its own shifted slices: row i carries toks[i], toks[i+1],
    # toks[i+2]. arrays_zip null-pads the shorter shifted arrays, which
    # exactly marks the out-of-range windows at the sentence tail.
    df = df.select(*c_explode2)

    # Char offsets (round 6): ONE substring_index prefix scan per token row
    # — b1 = len(prefix through token pos+1); every other boundary is
    # length arithmetic over the single-space-joined sentence:
    # a = b1 - len(t1), b2 = b1 + 1 + len(t2), b3 = b2 + 1 + len(t3).
    # (The first formulation ran FOUR substring_index scans per row; the
    # original _starts running-sum aggregate before that was an
    # interpreted lambda whose array-concat accumulator copied O(n^2)
    # elements per sentence.) b2/b3 are null for windows past the sentence
    # tail (len(null)), exactly where the w-struct's in_range gate already
    # discards them, so emitted values are identical (parity-tested
    # against the tests' HOF formulation and oracle q53; noop-isolated
    # A/B at 40k pages: 1.4 -> 1.2 s steady).
    df = df.select(*c_b1).select(*c_ab2).select(*c_b3n)

    # per-token keep-predicate atoms, projected ONCE (round 6): the three
    # window structs previously inlined `(n_i != "")` and the 22-term
    # stopword isin per token per window — six copies of the isin tree in
    # one Project. Hoisting them as columns shrinks the expression tree
    # ~4x, which cuts Catalyst canonicalization/codegen time for every
    # plan that embeds the mention lineage, and the combining &/| below
    # uses the SAME operand subtrees so the three-valued-logic result is
    # unchanged (parity-tested).
    df = df.select(*c_nens)
    df = df.select(*c_wexplode)
    return df.select(*c_final)


@session_cached
def _mention_plan_cols(windows: tuple, extra_cols: tuple):
    """The static Column lists of generate_mentions' select chain, built
    once per (session, windows, extra_cols) — see the call site for the
    per-stage semantics. Every expression is identical to the inline
    round-6 form (oracle q53 + HOF-parity gated)."""
    ec = list(extra_cols)
    c_sents = [
        F.col("url"),
        *[F.col(c) for c in ec],
        F.lit(0).cast("long").alias("itext"),
        split_sentences(normalize_ws(F.col("text"))).alias("sents"),
    ]
    c_explode1 = [
        F.col("url"),
        *[F.col(c) for c in ec],
        F.col("itext"),
        F.posexplode(
            F.arrays_zip(
                F.col("sents"),
                F.slice(_starts(F.col("sents")), 1, F.size("sents")).alias("soff"),
            )
        ).alias("ichunk", "z"),
    ]
    c_post1 = [
        F.col("url"),
        *[F.col(c) for c in ec],
        F.col("itext"),
        F.col("ichunk").cast("long").alias("ichunk"),
        F.col("z.sents").alias("sent"),
        F.col("z.soff").alias("sent_off"),
    ]
    base = ["url", *ec, "itext", "ichunk", "sent_off"]
    toks = F.split(F.col("sent"), " ")
    c_toks = [*[F.col(c) for c in base], F.col("sent"), toks.alias("toks")]
    n = F.size("toks")
    c_explode2 = [
        *[F.col(c) for c in base],
        F.col("sent"),
        F.posexplode(
            F.arrays_zip(
                F.col("toks").alias("t1"),
                F.slice("toks", 2, F.greatest(n - 1, F.lit(0))).alias("t2"),
                F.slice("toks", 3, F.greatest(n - 2, F.lit(0))).alias("t3"),
            )
        ).alias("pos", "z"),
    ]
    # call_function: the python substring_index wrapper only takes an int
    # count, but the SQL function accepts a column count
    b1 = F.length(
        F.call_function(
            "substring_index", F.col("sent"), F.lit(" "), F.col("pos") + 1
        )
    ).cast("long")
    c_b1 = [
        *[F.col(c) for c in base],
        F.col("z.t1").alias("t1"),
        F.col("z.t2").alias("t2"),
        F.col("z.t3").alias("t3"),
        b1.alias("b1"),
    ]
    c_ab2 = [
        F.col("*"),
        (F.col("b1") - F.length("t1")).cast("long").alias("a"),
        (F.col("b1") + F.length("t2") + 1).cast("long").alias("b2"),
    ]
    c_b3n = [
        F.col("*"),
        (F.col("b2") + F.length("t3") + 1).cast("long").alias("b3"),
        norm_token_col(F.col("t1")).alias("n1"),
        norm_token_col(F.col("t2")).alias("n2"),
        norm_token_col(F.col("t3")).alias("n3"),
    ]
    c_nens = [
        F.col("*"),
        *[(F.col(f"n{i}") != "").alias(f"ne{i}") for i in (1, 2, 3)],
        *[
            (~F.col(f"n{i}").isin(*sorted(STOPWORDS))).alias(f"ns{i}")
            for i in (1, 2, 3)
        ],
    ]

    stype = "struct<wg:int,mention:string,key:string,b:bigint>"

    def _w_struct(w: int) -> Column:
        toks_w = [F.col(f"t{i}") for i in range(1, w + 1)]
        norms_w = [F.col(f"n{i}") for i in range(1, w + 1)]
        # keep-predicate, scalar form of window_is_valid_col: no token
        # normalizes empty, at least one token is a non-stopword
        no_empty = F.lit(True)
        for i in range(1, w + 1):
            no_empty = no_empty & F.col(f"ne{i}")
        not_all_stop = F.lit(False)
        for i in range(1, w + 1):
            not_all_stop = not_all_stop | F.col(f"ns{i}")
        in_range = toks_w[-1].isNotNull()
        return F.when(
            in_range & no_empty & not_all_stop,
            F.struct(
                F.lit(w).alias("wg"),
                F.concat_ws(" ", *toks_w).alias("mention"),
                F.concat_ws(" ", *norms_w).alias("key"),
                F.col(f"b{w}").alias("b"),
            ),
        ).otherwise(F.lit(None).cast(stype))

    wstructs = F.filter(
        F.array(*[_w_struct(w) for w in windows]).cast(f"array<{stype}>"),
        lambda s: s.isNotNull(),
    )
    c_wexplode = [
        *[F.col(c) for c in base],
        F.col("a"),
        F.explode(wstructs).alias("m"),
    ]
    c_final = [
        F.col("url"),
        *[F.col(c) for c in ec],
        F.col("itext"),
        F.col("ichunk"),
        F.col("m.wg").alias("wg"),
        F.col("m.mention").alias("mention"),
        F.col("m.key").alias("key"),
        F.col("a"),
        F.col("m.b").alias("b"),
        (F.col("sent_off") + F.col("a")).cast("long").alias("a_abs"),
        (F.col("sent_off") + F.col("m.b")).cast("long").alias("b_abs"),
    ]
    return (
        c_sents, c_explode1, c_post1, c_toks, c_explode2,
        c_b1, c_ab2, c_b3n, c_nens, c_wexplode, c_final,
    )


def kb_blocking_keys(kb: DataFrame) -> DataFrame:
    """KB (entity_id, label, ...) → (entity_id, label, wg, key).
    Uses the same textnorm rules as the mention side (single source of
    truth — SURVEY.md §7.3.5)."""
    from .textnorm import norm_tokens_col

    normed = norm_tokens_col(F.col("label"))
    return kb.select(
        "entity_id",
        "label",
        F.size(normed).alias("wg"),
        blocking_key_col(normed).alias("key"),
    ).where(F.col("wg").between(1, MAX_WINDOW))
