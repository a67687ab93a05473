"""Structured Streaming: incremental ingest with exactly-once resume,
and incremental blocking against the accumulated state."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pelinker_spark.streaming import run_incremental_link
from pelinker_spark.synth import web_pages
from test_fsio import _jobs_in


def test_incremental_link_exactly_once(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck2")
    web_pages(spark, 200, seed=42, n_entities=20, partitions=4).write.parquet(pages_dir)

    run_incremental_link(spark, pages_dir, out, ck)
    n1 = spark.read.parquet(f"{out}/mentions").count()
    assert n1 > 0

    # resume with no new files: checkpoint must prevent reprocessing
    run_incremental_link(spark, pages_dir, out, ck)
    n2 = spark.read.parquet(f"{out}/mentions").count()
    assert n2 == n1

    # new files arrive: only the delta is processed
    web_pages(spark, 100, seed=99, n_entities=20, partitions=2).write.mode(
        "append"
    ).parquet(pages_dir)
    run_incremental_link(spark, pages_dir, out, ck)
    n3 = spark.read.parquet(f"{out}/mentions").count()
    assert n3 > n2


def test_incremental_scoring_uses_first_seen_feed(spark, tmp_path):
    """VERDICT r2 #6: the first-seen feed drives incremental blocking —
    each micro-batch scores ONLY never-seen surfaces against the
    accumulated state, and the union of per-batch edges equals the
    batch-mode pipeline's edge set (hence identical clusters)."""
    from pelinker_spark.pipeline import LinkConfig, link_pipeline
    from pelinker_spark.streaming import finalize_incremental_link

    pages_dir = str(tmp_path / "pages_inc")
    out = str(tmp_path / "out_inc")
    ck = str(tmp_path / "ck_inc")
    # two drops, one file each → two micro-batches at maxFilesPerTrigger=1
    web_pages(spark, 150, seed=42, n_entities=20, partitions=4).coalesce(
        1
    ).write.mode("append").parquet(pages_dir)
    web_pages(spark, 150, seed=77, n_entities=20, partitions=4).coalesce(
        1
    ).write.mode("append").parquet(pages_dir)

    # lsh_min_mentions=1: mention mass is a cross-batch property an
    # append-only stream cannot apply; max_block above the corpus's
    # largest bucket (1852 measured) so no bucket crosses the cap between
    # batches — the exact-parity regime (the cap-at-emission-time
    # difference under hot buckets is documented on
    # incremental_link_batch)
    cfg = LinkConfig(lsh_min_mentions=1, max_block=2000, compact_max_block=2000)
    run_incremental_link(
        spark, pages_dir, out, ck, cfg=cfg, max_files_per_trigger=1
    )

    buckets = spark.read.parquet(f"{out}/buckets")
    # ≥2 scoring batches actually ran, and first-seen dedup held: every
    # key enters the state in exactly one batch
    assert buckets.select("batch_id").distinct().count() >= 2
    assert (
        buckets.groupBy("key")
        .agg(F.countDistinct("batch_id").alias("nb"))
        .where(F.col("nb") > 1)
        .count()
        == 0
    )

    # edge parity vs the batch pipeline over the same pages
    pages = spark.read.parquet(pages_dir)
    res = link_pipeline(spark, pages, cfg=cfg)
    batch_edges = {
        (r["key_a"], r["key_b"])
        for r in res.edges.select("key_a", "key_b").collect()
    }
    inc_edges = {
        (r["key_a"], r["key_b"])
        for r in spark.read.parquet(f"{out}/edges")
        .select("key_a", "key_b")
        .collect()
    }
    assert inc_edges == batch_edges

    # identical edges → identical components → identical cluster labels
    inc_clusters = finalize_incremental_link(spark, out)
    a = {
        (r["key"], r["cluster_id"])
        for r in inc_clusters.select("key", "cluster_id").distinct().collect()
    }
    b = {
        (r["key"], r["cluster_id"])
        for r in res.clusters.select("key", "cluster_id").distinct().collect()
    }
    assert a == b
    res.unpersist()


def test_incremental_compact_cap_matches_batch(spark, tmp_path):
    """Both paths read the compact-channel cap from the SAME LinkConfig
    field: a compact group sized between max_block (10) and
    compact_max_block (20) pairs in both, and a single-batch incremental
    run enumerates exactly the batch pair set at DEFAULT caps (the regime
    the end-to-end parity test can't cover because it lifts the caps)."""
    from pelinker_spark.blocking import compact_key_pairs, lsh_candidate_pairs
    from pelinker_spark.pipeline import LinkConfig, prefilter_pairs
    from pelinker_spark.streaming import (
        _write_incremental_state,
        incremental_candidate_pairs,
    )

    cfg = LinkConfig()
    word = "identifier"
    # 15 hyphen-position variants + the clean form: ONE compact group of
    # size 15 — above the LSH cap, below the compact cap
    keys = [word] + [word[:i] + "-" + word[i:] for i in range(1, 15)]
    surfaces = spark.createDataFrame([(k,) for k in keys], "key string")

    batch_pairs = prefilter_pairs(
        lsh_candidate_pairs(
            surfaces,
            num_hashes=cfg.lsh_num_hashes,
            bands=cfg.lsh_bands,
            rows=cfg.lsh_rows,
            max_block=cfg.max_block,
        ).unionByName(
            compact_key_pairs(surfaces, max_block=cfg.compact_max_block)
        )
    ).dropDuplicates(["key_a", "key_b"])

    out = str(tmp_path / "inc_state")
    _write_incremental_state(surfaces, out, cfg, 0)
    inc_pairs = incremental_candidate_pairs(spark, out, cfg, 0)

    a = {(r.key_a, r.key_b) for r in batch_pairs.collect()}
    b = {(r.key_a, r.key_b) for r in inc_pairs.collect()}
    assert a == b
    assert a, "the 15-key compact group must produce pairs at default caps"


def test_incremental_cap_applies_at_emission_time(spark, tmp_path):
    """The compact-group cap counts the group's ACCUMULATED size when a
    batch emits: batch 0's three-key group pairs; batch 1's fourth key
    takes the group over the cap, so batch 1 emits nothing while batch
    0's pairs stay emitted; under a cap the group never crosses, the new
    key pairs with every accumulated member. max_block=1 keeps the LSH
    channel silent, so every pair is the deterministic compact
    channel's."""
    from pelinker_spark.pipeline import LinkConfig
    from pelinker_spark.streaming import (
        _write_incremental_state,
        incremental_candidate_pairs,
    )

    batches = [["identifier", "ident-ifier", "identi-fier"], ["iden-tifier"]]

    def emitted(cap):
        cfg = LinkConfig(max_block=1, compact_max_block=cap)
        out = str(tmp_path / f"cap{cap}")
        per_batch = []
        for b, keys in enumerate(batches):
            nk = spark.createDataFrame([(k,) for k in keys], "key string")
            _write_incremental_state(nk, out, cfg, b)
            pairs = incremental_candidate_pairs(spark, out, cfg, b)
            per_batch.append({(r.key_a, r.key_b) for r in pairs.collect()})
        return per_batch

    def unordered(pairs):
        return {tuple(sorted(p)) for p in pairs}

    first = unordered([
        ("identifier", "ident-ifier"), ("identifier", "identi-fier"),
        ("ident-ifier", "identi-fier"),
    ])
    assert emitted(3) == [first, set()]
    assert emitted(4) == [
        first, unordered((k, "iden-tifier") for k in batches[0])
    ]


def test_state_layout_and_history_read(spark, tmp_path):
    """Membership state is partitioned by batch_id alone: a batch
    directory holds at most spark.sql.shuffle.partitions parquet files
    and no subdirectories, and compaction folds each table into a base
    of at most defaultParallelism files. A wide batch 0 then a single-key
    batch 1, planned with AQE off as inside foreachBatch: building the
    pair frame runs no Spark job beyond the two state tables' own reads
    (no driver-side probe), and pairing still sees the cross-batch
    partner."""
    from pelinker_spark.pipeline import LinkConfig
    from pelinker_spark.streaming import (
        BASE_BATCH,
        _STATE_TABLES,
        _write_incremental_state,
        compact_incremental_state,
        incremental_candidate_pairs,
    )

    cfg = LinkConfig(lsh_min_mentions=1)
    # batch 0 is deduplicated as incremental_link_batch does, so it has
    # the shuffle partitioning every micro-batch's state write sees
    base = [f"surface{i:04d} term{i % 97}" for i in range(400)] + ["activate"]
    out = str(tmp_path / "pstate")
    b0 = spark.createDataFrame([(k,) for k in base], "key string")
    _write_incremental_state(b0.dropDuplicates(["key"]), out, cfg, 0)
    b1 = spark.createDataFrame([("acti-vate",)], "key string")
    _write_incremental_state(b1, out, cfg, 1)

    def layout(d):
        entries = os.listdir(d)
        dirs = [e for e in entries if os.path.isdir(os.path.join(d, e))]
        return dirs, sum(e.endswith(".parquet") for e in entries)

    max_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for t in _STATE_TABLES:
        dirs, n_files = layout(f"{out}/{t}/batch_id=0")
        assert dirs == [] and 1 <= n_files <= max_files, (t, dirs, n_files)

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, n_read = _jobs_in(spark, lambda: [
            spark.read.parquet(f"{out}/{t}") for t in _STATE_TABLES
        ])
        pairs, n_build = _jobs_in(
            spark, lambda: incremental_candidate_pairs(spark, out, cfg, 1)
        )
        got = {(r.key_a, r.key_b) for r in pairs.collect()}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert n_build <= n_read, (n_build, n_read)
    assert ("acti-vate", "activate") in got

    compact_incremental_state(spark, out, upto_batch_id=1)
    for t in _STATE_TABLES:
        dirs, n_files = layout(f"{out}/{t}/batch_id={BASE_BATCH}")
        assert dirs == [], (t, dirs)
        assert 1 <= n_files <= spark.sparkContext.defaultParallelism, (t, n_files)
