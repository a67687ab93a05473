#!/usr/bin/env python
"""Incremental-vs-batch linking benchmark.

Synthesizes a page corpus as K separate drops (files), lands them one
at a time and runs the chained incremental pipeline on each
(run_incremental_link: single-extraction ingest → first-seen feed →
per-batch scoring against accumulated state), finalizes, then runs the
batch pipeline on the same corpus, and prints one JSON line with both
walls, the per-drop latencies and their growth (last / first), the
state file count, per-batch edge/bucket growth, and cluster counts.

Cluster counts may differ slightly from batch mode under DEFAULT caps:
the incremental hot-bucket cap applies to the accumulated size at
emission time (pairs emitted before a bucket went hot stay), while batch
mode drops hot blocks wholesale — the documented append-only-stream
semantics (streaming.incremental_link_batch).

Per-batch `history_rows` is the accumulated bucket state the scorer's
history read scans at that batch.

Per-batch `fs_old_shuffle_rows` vs `fs_new_shuffle_rows` is the
first-seen shuffle receipt (VERDICT r4 #1): against the ACTUAL state
tables the run left behind, each batch's key set is replayed through
both formulations of the first-seen dedup —

  old:  nk LEFT ANTI JOIN seen            (sort-merge; shuffles every
                                           key EVER seen, O(history))
  new:  already = seen ⋉ broadcast(nk)    (history scanned map-side,
        nk ANTI broadcast(already)         never shuffled; O(batch))

— and the stage-level shuffleWriteRecords delta around each (Spark REST
API) is recorded, plus row-set parity between the two. The replay runs
with spark.sql.autoBroadcastJoinThreshold=-1: at bench scale the whole
history fits the 64 MB auto-broadcast threshold, so BOTH forms would
plan broadcast and the receipt would show nothing — the regime the
weak is about is accumulated history >> threshold (the 100-TB stream),
where only EXPLICIT broadcast hints survive. The new formulation's
broadcasts ARE explicit hints (streaming.py), so what's measured is
exactly what production executes at scale; the old formulation reverts
to its at-scale sort-merge plan. The criterion: new ~ batch size and
flat across batches; old ~ accumulated history and growing.

Usage: python tools/incremental_bench.py <cores> <n_pages> <n_drops>
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parquet_files(root: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs
    )


def load1() -> float:
    return float(open("/proc/loadavg").read().split()[0])


def shuffle_write_records(spark) -> int:
    """Cumulative shuffleWriteRecords across all completed stages of this
    app, via the local UI's REST API (the session is built with
    spark.ui.enabled=true here for exactly this)."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.loads(r.read())
    return sum(int(s.get("shuffleWriteRecords", 0) or 0) for s in stages)


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 40000
    n_drops = int(sys.argv[3]) if len(sys.argv) > 3 else 5

    from pyspark.sql import functions as F

    from pelinker_spark.pipeline import LinkConfig, link_pipeline
    from pelinker_spark.session import get_spark
    from pelinker_spark.streaming import (
        finalize_incremental_link,
        run_incremental_link,
    )
    from pelinker_spark.synth import web_pages

    spark = get_spark(
        f"incbench_{cores}",
        cores=cores,
        shuffle_partitions=cores,
        # UI on: the first-seen shuffle receipt reads stage-level
        # shuffleWriteRecords from the REST API
        extra_conf={"spark.ui.enabled": "true"},
    )
    tmp = tempfile.mkdtemp(prefix="pel_incbench_")
    drops_dir = f"{tmp}/drops"
    pages_dir = f"{tmp}/pages"
    out = f"{tmp}/out"
    ck = f"{tmp}/ck"
    try:
        # K deterministic drops, one file each (disjoint seeds ≈ disjoint
        # crawl slices), staged outside the stream's source directory
        per = n_pages // n_drops
        for d in range(n_drops):
            web_pages(
                spark, per, seed=100 + d, n_entities=200, partitions=8
            ).coalesce(1).write.parquet(f"{drops_dir}/{d}")

        # warm-up (JIT + UDF workers), excluded
        wp = web_pages(spark, 2000, seed=7, n_entities=50, partitions=8)
        w = link_pipeline(spark, wp, cfg=LinkConfig())
        w.clusters.count()
        w.unpersist()

        la = load1()
        drop_s = []
        for d in range(n_drops):
            # one drop lands, then the stream processes it (availableNow)
            spark.read.parquet(f"{drops_dir}/{d}").coalesce(1).write.mode(
                "append"
            ).parquet(pages_dir)
            t0 = time.monotonic()
            run_incremental_link(spark, pages_dir, out, ck)
            drop_s.append(time.monotonic() - t0)
        state_files = parquet_files(out)
        t0 = time.monotonic()
        inc_clusters = (
            finalize_incremental_link(spark, out)
            .select("cluster_id")
            .distinct()
            .count()
        )
        inc_sec = sum(drop_s) + time.monotonic() - t0
        lb = load1()

        per_batch = [
            {
                "batch": r["batch_id"],
                "new_keys": r["nk"],
                "edges": r["ne"],
            }
            for r in (
                spark.read.parquet(f"{out}/buckets")
                .groupBy("batch_id")
                .agg(F.count_distinct("key").alias("nk"))
                .join(
                    spark.read.parquet(f"{out}/edges")
                    .groupBy("batch_id")
                    .agg(F.count("*").alias("ne")),
                    "batch_id",
                    "left",
                )
                .orderBy("batch_id")
                .collect()
            )
        ]

        # accumulated bucket state the history read scans at each batch
        buckets = spark.read.parquet(f"{out}/buckets").select("batch_id")
        for pb in per_batch:
            pb["history_rows"] = buckets.where(
                F.col("batch_id") <= pb["batch"]
            ).count()

        # First-seen shuffle receipt (VERDICT r4 #1): replay each batch's
        # key set through the OLD sort-merge anti-join and the NEW
        # inverted broadcast probe against the run's real state tables,
        # diffing cumulative shuffle-write records around each action.
        mentions = spark.read.parquet(f"{out}/mentions")
        band0 = (
            spark.read.parquet(f"{out}/buckets")
            .where(F.col("band") == 0)
            .select("key", "batch_id")
        )
        abjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for pb in per_batch:
            b = pb["batch"]
            if b == 0:
                continue  # no history yet; production path skips the join
            # exact reconstruction of the production probe's inputs:
            # nk = this batch's distinct mention keys, seen = one row per
            # key that entered the bucket state in any earlier batch
            nk = (
                mentions.where(F.col("batch_id") == b)
                .select("key")
                .dropDuplicates(["key"])
                .persist()
            )
            pb["batch_keys"] = nk.count()  # materialize outside the diff
            seen = band0.where(F.col("batch_id") < b).select("key")
            s0 = shuffle_write_records(spark)
            old_rows = nk.join(seen, "key", "left_anti")
            old_n = old_rows.count()
            s1 = shuffle_write_records(spark)
            already = seen.join(F.broadcast(nk), "key", "left_semi")
            new_rows = nk.join(F.broadcast(already), "key", "left_anti")
            new_n = new_rows.count()
            s2 = shuffle_write_records(spark)
            assert old_n == new_n == pb["new_keys"], (
                b, old_n, new_n, pb["new_keys"],
            )
            pb["fs_old_shuffle_rows"] = s1 - s0
            pb["fs_new_shuffle_rows"] = s2 - s1
            nk.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abjt)

        lc = load1()
        t0 = time.monotonic()
        res = link_pipeline(spark, spark.read.parquet(pages_dir), cfg=LinkConfig())
        batch_clusters = res.clusters.select("cluster_id").distinct().count()
        batch_sec = time.monotonic() - t0
        ld = load1()
        res.unpersist()

        print(
            json.dumps(
                {
                    "cores": cores,
                    "n_pages": per * n_drops,
                    "n_drops": n_drops,
                    "incremental_sec": round(inc_sec, 2),
                    "batch_sec": round(batch_sec, 2),
                    "drop_s": [round(x, 2) for x in drop_s],
                    "drop_growth": round(drop_s[-1] / drop_s[0], 3),
                    "state_files": state_files,
                    "inc_clusters": inc_clusters,
                    "batch_clusters": batch_clusters,
                    "per_batch": per_batch,
                    "loads": [la, lb, lc, ld],
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
