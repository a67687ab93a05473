"""Incremental-state compaction: folding batch partitions into the base
must be invisible to pairing, caps, and replay — and survive a crash at
any protocol boundary."""

from __future__ import annotations

import pytest

from pelinker_spark.pipeline import LinkConfig
from pelinker_spark.streaming import (
    BASE_BATCH,
    _STATE_TABLES,
    compact_incremental_state,
    compacted_upto,
    incremental_link_batch,
    recover_compaction,
)

CFG = LinkConfig(lsh_min_mentions=1)

BATCHES = [
    ["activate kinase", "harvard university", "alpha synuclein",
     "new york city", "membrane receptor"],
    ["acti-vate kinase", "harvard universiy", "yellowstone park"],
    ["activate kinasee", "alpha synuclien", "totally novel surface"],
]


def _drip(spark, out, upto):
    for b in range(upto + 1):
        nk = spark.createDataFrame([(k,) for k in BATCHES[b]], "key string")
        incremental_link_batch(spark, nk, out, CFG, batch_id=b)


def _edges(spark, out):
    return {
        (r.key_a, r.key_b)
        for r in spark.read.parquet(f"{out}/edges")
        .select("key_a", "key_b")
        .collect()
    }


def _state_counts(spark, out):
    got = {}
    for t in ("buckets", "compact"):
        got[t] = spark.read.parquet(f"{out}/{t}").count()
    return got


def test_compaction_preserves_pairing_caps_and_state(spark, tmp_path):
    """Reference run (no compaction) vs compact-after-batch-1 run: later
    batches must produce identical edge sets, membership row counts and
    running-cap sums must be preserved exactly, and the folded batch
    dirs must be gone from disk."""
    ref, cmp_ = str(tmp_path / "ref"), str(tmp_path / "cmp")
    _drip(spark, ref, 2)

    for b in range(2):
        nk = spark.createDataFrame([(k,) for k in BATCHES[b]], "key string")
        incremental_link_batch(spark, nk, cmp_, CFG, batch_id=b)
    before = _state_counts(spark, cmp_)
    res = compact_incremental_state(spark, cmp_, upto_batch_id=1)
    assert res["upto"] == 1 and compacted_upto(spark, cmp_) == 1
    assert _state_counts(spark, cmp_) == before

    nk = spark.createDataFrame([(k,) for k in BATCHES[2]], "key string")
    incremental_link_batch(spark, nk, cmp_, CFG, batch_id=2)

    assert _edges(spark, cmp_) == _edges(spark, ref)
    # a post-compaction batch actually linked against a FOLDED (base)
    # partner — the cross-boundary case compaction must not break
    assert ("activate kinase", "activate kinasee") in _edges(spark, cmp_)

    # folded partitions physically gone: only base + post-watermark dirs
    for t in ("buckets", "edges"):
        batches = {
            r["batch_id"]
            for r in spark.read.parquet(f"{cmp_}/{t}")
            .select("batch_id")
            .distinct()
            .collect()
        }
        assert batches == {BASE_BATCH, 2}, t


def test_replay_of_folded_batch_is_noop(spark, tmp_path):
    """foreachBatch replay of a micro-batch that compaction already
    folded must not duplicate membership or re-inflate the running
    caps."""
    out = str(tmp_path / "st")
    _drip(spark, out, 1)
    compact_incremental_state(spark, out, upto_batch_id=1)
    before = _state_counts(spark, out)
    edges_before = _edges(spark, out)

    nk = spark.createDataFrame([(k,) for k in BATCHES[1]], "key string")
    incremental_link_batch(spark, nk, out, CFG, batch_id=1)  # replay
    assert _state_counts(spark, out) == before
    assert _edges(spark, out) == edges_before


def test_default_upto_spares_newest_batch(spark, tmp_path):
    """The newest state batch may be a crashed half-batch (membership
    written, edges not) — the default watermark must stop below it so
    its replay still runs in full."""
    out = str(tmp_path / "st")
    _drip(spark, out, 2)
    res = compact_incremental_state(spark, out)  # no explicit upto
    assert res["upto"] == 1
    batches = {
        r["batch_id"]
        for r in spark.read.parquet(f"{out}/buckets")
        .select("batch_id")
        .distinct()
        .collect()
    }
    assert batches == {BASE_BATCH, 2}


def test_crash_recovery_mid_swap(spark, tmp_path, monkeypatch):
    """Kill the compaction after the pending marker, mid-way through the
    per-table swaps (first table committed, rest not): recovery must
    finish path B for the swapped table and path A for the others, and
    the result must equal a clean compaction."""
    import pelinker_spark.streaming as S

    clean, crash = str(tmp_path / "clean"), str(tmp_path / "crash")
    for out in (clean, crash):
        _drip(spark, out, 1)
    expect = compact_incremental_state(spark, clean, upto_batch_id=1)

    real_swap = S._swap_in_base
    calls = {"n": 0}

    def dying_swap(spark_, out_dir, table, upto):
        if calls["n"] >= 1:
            raise RuntimeError("simulated crash mid-compaction")
        calls["n"] += 1
        real_swap(spark_, out_dir, table, upto)

    monkeypatch.setattr(S, "_swap_in_base", dying_swap)
    with pytest.raises(RuntimeError):
        compact_incremental_state(spark, crash, upto_batch_id=1)
    monkeypatch.setattr(S, "_swap_in_base", real_swap)

    # crashed state: pending marker present, no commit watermark
    assert compacted_upto(spark, crash) == BASE_BATCH - 1
    assert recover_compaction(spark, crash) is True
    assert compacted_upto(spark, crash) == 1
    assert recover_compaction(spark, crash) is False  # idempotent

    for t in (*_STATE_TABLES, "edges"):
        a = spark.read.parquet(f"{crash}/{t}")
        b = spark.read.parquet(f"{clean}/{t}")
        assert a.count() == b.count(), t
        assert a.exceptAll(b).count() == 0, t
    assert expect["upto"] == 1 and expect["edges_upto"] == 1


def test_edges_fold_capped_at_cc_watermark(spark, tmp_path):
    """Edge batches the persisted incremental-CC map has NOT absorbed
    must never move into the base partition (batch_id=-1 sits below
    every watermark, so folding them would silently drop their edges
    from the map). Batches at or below the CC watermark fold; the
    post-compaction incremental map must equal the pre-compaction one
    row for row."""
    from pelinker_spark.streaming import incremental_components

    out = str(tmp_path / "st")
    _drip(spark, out, 2)  # edge batches 0, 1, 2
    # persists the map up to safe=1 (newest spared), folds batch 2 on
    # the fly into the RETURNED map
    before = {
        (r.key, r.component)
        for r in incremental_components(spark, out).collect()
    }

    res = compact_incremental_state(spark, out, upto_batch_id=2)
    assert res["upto"] == 2  # membership folds to the requested cap
    assert res["edges_upto"] == 1  # edges stop at the CC watermark

    edge_batches = {
        r["batch_id"]
        for r in spark.read.parquet(f"{out}/edges")
        .select("batch_id")
        .distinct()
        .collect()
    }
    assert edge_batches == {BASE_BATCH, 2}

    after = {
        (r.key, r.component)
        for r in incremental_components(spark, out).collect()
    }
    assert after == before


def test_edges_fold_without_cc_state(spark, tmp_path):
    """With no persisted CC map, every requested edge batch folds (the
    from-scratch incremental-CC path reads the base partition), and a
    later incremental_components over the folded state matches full CC
    over the unfolded reference run."""
    from pelinker_spark.cc import connected_components
    from pelinker_spark.streaming import incremental_components

    ref, cmp_ = str(tmp_path / "ref"), str(tmp_path / "cmp")
    _drip(spark, ref, 2)
    _drip(spark, cmp_, 2)

    res = compact_incremental_state(spark, cmp_, upto_batch_id=1)
    assert res["edges_upto"] == 1
    got = {
        (r.key, r.component)
        for r in incremental_components(spark, cmp_).collect()
    }
    full = connected_components(
        spark.read.parquet(f"{ref}/edges"), "key_a", "key_b"
    )
    expect = {(r.key, r.component) for r in full.collect()}
    assert got == expect


def test_run_incremental_link_compact_every(spark, tmp_path):
    """End-to-end: the streaming driver with compact_every=1 must emit
    the same edge set as the uncompacted run, and leave the state tables
    holding only the base partition plus at most the final batch."""
    from pelinker_spark.streaming import run_incremental_link
    from pelinker_spark.synth import web_pages

    pages_dir = str(tmp_path / "pages")
    web_pages(spark, 120, seed=42, n_entities=15, partitions=2).coalesce(
        1
    ).write.mode("append").parquet(pages_dir)
    web_pages(spark, 120, seed=77, n_entities=15, partitions=2).coalesce(
        1
    ).write.mode("append").parquet(pages_dir)

    edge_sets = {}
    for variant, every in (("plain", None), ("compacted", 1)):
        out = str(tmp_path / f"out_{variant}")
        ck = str(tmp_path / f"ck_{variant}")
        run_incremental_link(
            spark, pages_dir, out, ck,
            max_files_per_trigger=1, compact_every=every,
        )
        edge_sets[variant] = _edges(spark, out)

    assert edge_sets["plain"] == edge_sets["compacted"]
    assert edge_sets["plain"]  # non-trivial: some edges were scored

    out_c = str(tmp_path / "out_compacted")
    batches = {
        r["batch_id"]
        for r in spark.read.parquet(f"{out_c}/buckets")
        .select("batch_id")
        .distinct()
        .collect()
    }
    assert batches == {BASE_BATCH}  # every scored batch folded
    assert compacted_upto(spark, out_c) >= 0
