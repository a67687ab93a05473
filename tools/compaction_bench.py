#!/usr/bin/env python
"""Compaction receipt: state-file growth with vs without compact_every.

Runs run_incremental_link twice on the same K drops — plain, then with
compact_every=1 — and reports, per state table, the parquet data-file
count each run leaves behind, plus edge-set equality and both walls.
The point being evidenced: an uncompacted stream's state file count
grows O(batches), the compacted stream's is bounded by the base's at
most defaultParallelism files per table regardless of how many
micro-batches ran.

Usage: python tools/compaction_bench.py <cores> <n_pages> <n_drops>
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STATE_TABLES = ("buckets", "compact", "edges")


def parquet_files(root: str) -> int:
    n = 0
    for _, _, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def batch_dirs(root: str) -> int:
    try:
        return sum(1 for d in os.listdir(root) if d.startswith("batch_id="))
    except FileNotFoundError:
        return 0


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 40000
    n_drops = int(sys.argv[3]) if len(sys.argv) > 3 else 5

    from pelinker_spark.session import get_spark
    from pelinker_spark.streaming import run_incremental_link
    from pelinker_spark.synth import web_pages

    spark = get_spark(f"cmpbench_{cores}", cores=cores, shuffle_partitions=cores)
    tmp = tempfile.mkdtemp(prefix="pel_cmpbench_")
    pages_dir = f"{tmp}/pages"
    try:
        per = n_pages // n_drops
        for d in range(n_drops):
            web_pages(
                spark, per, seed=100 + d, n_entities=200, partitions=8
            ).coalesce(1).write.mode("append").parquet(pages_dir)

        result: dict = {"cores": cores, "n_pages": per * n_drops,
                        "n_drops": n_drops}
        edges = {}
        for variant, every in (("plain", None), ("compacted", 1)):
            out = f"{tmp}/out_{variant}"
            ck = f"{tmp}/ck_{variant}"
            t0 = time.monotonic()
            run_incremental_link(
                spark, pages_dir, out, ck,
                max_files_per_trigger=1, compact_every=every,
            )
            result[f"{variant}_sec"] = round(time.monotonic() - t0, 2)
            result[f"{variant}_state_files"] = {
                t: parquet_files(f"{out}/{t}") for t in STATE_TABLES
            }
            result[f"{variant}_batch_dirs"] = {
                t: batch_dirs(f"{out}/{t}") for t in STATE_TABLES
            }
            edges[variant] = {
                (r["key_a"], r["key_b"])
                for r in spark.read.parquet(f"{out}/edges")
                .select("key_a", "key_b")
                .collect()
            }
        result["edges_equal"] = edges["plain"] == edges["compacted"]
        result["n_edges"] = len(edges["plain"])
        print(json.dumps(result))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
