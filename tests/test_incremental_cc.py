"""Incremental connected components (contraction warm-start): the
persisted key→component map advanced with only new edge batches must be
bit-identical to full CC over the entire edge history, at every point in
the stream."""

from __future__ import annotations

import json

from pelinker_spark.cc import connected_components
from pelinker_spark.pipeline import LinkConfig
from pelinker_spark.streaming import (
    _CC_MARKER,
    _CC_STATE,
    finalize_incremental_link,
    incremental_components,
    incremental_link_batch,
)

CFG = LinkConfig(lsh_min_mentions=1)

# three drops whose typo'd repeats create cross-batch merges: batch 1
# must join keys into batch-0 components, batch 2 must bridge further
BATCHES = [
    ["activate kinase", "harvard university", "alpha synuclein",
     "new york city", "membrane receptor"],
    ["acti-vate kinase", "harvard universiy", "yellowstone park"],
    ["activate kinasee", "alpha synuclien", "totally novel surface"],
]


def _drip_one(spark, out, b):
    nk = spark.createDataFrame([(k,) for k in BATCHES[b]], "key string")
    incremental_link_batch(spark, nk, out, CFG, batch_id=b)


def _full_cc(spark, out):
    from pelinker_spark.fsio import fs_list_subdirs

    if not any(
        d.startswith("batch_id=") for d in fs_list_subdirs(spark, f"{out}/edges")
    ):
        return set()  # no edge batch committed yet: nothing to cluster
    edges = spark.read.parquet(f"{out}/edges").dropDuplicates(
        ["key_a", "key_b"]
    )
    return {
        (r["key"], r["component"])
        for r in connected_components(edges, "key_a", "key_b").collect()
    }


def _inc_cc(spark, out):
    return {
        (r["key"], r["component"])
        for r in incremental_components(spark, out).collect()
    }


def test_incremental_matches_full_at_every_batch(spark, tmp_path):
    out = str(tmp_path / "st")
    for b in range(3):
        _drip_one(spark, out, b)
        assert _inc_cc(spark, out) == _full_cc(spark, out), f"batch {b}"
    # the final map is non-trivial: some component has >= 2 members
    comps = {}
    for k, c in _inc_cc(spark, out):
        comps.setdefault(c, set()).add(k)
    assert any(len(m) >= 2 for m in comps.values())


def test_watermark_spares_newest_batch(spark, tmp_path):
    out = str(tmp_path / "st")
    for b in range(3):
        _drip_one(spark, out, b)
    incremental_components(spark, out)
    from pelinker_spark.fsio import fs_read_text

    st = json.loads(fs_read_text(spark, f"{out}/{_CC_STATE}/{_CC_MARKER}"))
    assert st["upto"] == 1  # newest committed batch (2) folded on the fly

    # idempotent: a second call with no new edges returns the same map
    # and leaves the watermark untouched
    m1 = _inc_cc(spark, out)
    m2 = _inc_cc(spark, out)
    assert m1 == m2
    st2 = json.loads(fs_read_text(spark, f"{out}/{_CC_STATE}/{_CC_MARKER}"))
    assert st2 == st


def test_finalize_incremental_cc_matches_full(spark, tmp_path):
    """End-to-end finalize parity: warm-started CC must hand every
    mention the same cluster_id as the full recompute."""
    from pelinker_spark.synth import web_pages
    from pelinker_spark.streaming import run_incremental_link

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    web_pages(spark, 120, seed=42, n_entities=15, partitions=2).coalesce(
        1
    ).write.mode("append").parquet(pages_dir)
    web_pages(spark, 120, seed=77, n_entities=15, partitions=2).coalesce(
        1
    ).write.mode("append").parquet(pages_dir)
    run_incremental_link(spark, pages_dir, out, ck, max_files_per_trigger=1)

    cols = ["url", "key", "cluster_id"]
    full = {
        tuple(r)
        for r in finalize_incremental_link(spark, out)
        .select(*cols)
        .collect()
    }
    inc = {
        tuple(r)
        for r in finalize_incremental_link(spark, out, incremental_cc=True)
        .select(*cols)
        .collect()
    }
    assert inc == full
    assert inc  # non-trivial
