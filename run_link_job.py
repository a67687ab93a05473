#!/usr/bin/env python
"""spark-submit entrypoint for the record-linkage pipeline.

Cluster deployment (the north-rule run mode):

    zip -r pelinker_spark.zip pelinker_spark
    spark-submit \\
        --py-files pelinker_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.adaptive.skewJoin.enabled=true \\
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \\
        run_link_job.py \\
        --input /warehouse/crawl_pages \\        # parquet or Iceberg table
        --output /warehouse/link_clusters \\
        [--kb /warehouse/kb.parquet] \\
        [--checkpoint-dir /warehouse/_link_ckpt] \\
        [--lang en] [--jw-threshold 0.95] [--cos-threshold 0.90] \\
        [--input-format parquet|iceberg] [--output-mode public|debug]

No master/cores are set here — the session comes from spark-submit, so the
same file runs on local[N], YARN, or K8s unchanged. The checkpoint dir
makes any stage resumable mid-run: each stage is parquet under
<checkpoint-dir>/<stage>/, committed by a _CHECKPOINT record that holds
the run fingerprint (config + input identity), the schema and the
per-partition row counts from which CheckpointManager.metrics() builds
its rows.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--kb", default=None)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--lang", default="en")
    ap.add_argument("--jw-threshold", type=float, default=0.95)
    ap.add_argument("--cos-threshold", type=float, default=0.90)
    ap.add_argument("--input-format", default="parquet",
                    choices=["parquet", "iceberg"])
    ap.add_argument("--output-mode", default="public",
                    choices=["public", "debug"])
    ap.add_argument("--min-link-score", type=float, default=None,
                    help="keep only mentions whose link_score >= this "
                    "(mention-level P6; exact-key members score 1.0)")
    ap.add_argument("--no-link-scores", action="store_true",
                    help="skip the per-mention link_score/exact_key "
                    "feature (id-only output; incompatible with "
                    "--min-link-score)")
    ap.add_argument("--hot-bucket-mode", default="drop",
                    choices=("drop", "salt"),
                    help="LSH hot-bucket policy: drop stop-buckets over "
                    "max_block (default), or salt — keep mid-sized head "
                    "blocks' pairs via triangle-salted repartitioning")
    ap.add_argument("--kb-validate", action="store_true",
                    help="with --kb: add kb_label / kb_label_valid "
                    "post-link validation columns to the output")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from pelinker_spark.kb import validate_kb_anchors
    from pelinker_spark.pipeline import (
        LinkConfig,
        filter_clusters_by_score,
        link_pipeline,
    )
    from pelinker_spark.sinks import debug_projection, public_projection

    spark = SparkSession.builder.appName("pelinker-link").getOrCreate()

    if args.input_format == "iceberg":
        pages = spark.read.table(args.input)
    else:
        pages = spark.read.parquet(args.input)
    kb = spark.read.parquet(args.kb) if args.kb else None

    if args.no_link_scores and args.min_link_score is not None:
        ap.error("--no-link-scores is incompatible with --min-link-score")
    cfg = LinkConfig(
        lang=args.lang,
        jw_threshold=args.jw_threshold,
        cos_threshold=args.cos_threshold,
        link_scores=not args.no_link_scores,
        hot_bucket_mode=args.hot_bucket_mode,
    )
    t0 = time.monotonic()
    res = link_pipeline(
        spark, pages, kb=kb, cfg=cfg, checkpoint_dir=args.checkpoint_dir
    )
    clusters = res.clusters
    if args.min_link_score is not None:
        clusters = filter_clusters_by_score(clusters, args.min_link_score)
    if args.kb_validate and kb is not None:
        clusters = validate_kb_anchors(clusters, kb)
    out = (
        public_projection(clusters)
        if args.output_mode == "public"
        else debug_projection(clusters)
    )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(
        json.dumps(
            {
                "output": args.output,
                "rows": n,
                "wall_sec": round(time.monotonic() - t0, 1),
                "config": cfg.as_dict(),
            }
        )
    )


if __name__ == "__main__":
    main()
