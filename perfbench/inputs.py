"""Seeded inputs: the synthetic page corpus and its planted gold labels.

Pages come from `synth.web_pages` (html plus text, mixed `lang`) and are
written to parquet and read back, so the linker reads a table on disk as a
production job does. Everything is a pure function of the seed."""

from __future__ import annotations

import os

# bench.py's entity pool: how many distinct KB entities the pages mention
N_ENTITIES = 200
GEN_PARTITIONS = 8


def write_pages(spark, path: str, n_pages: int, seed: int):
    from pelinker_spark.synth import web_pages

    web_pages(
        spark, n_pages, seed=seed, n_entities=N_ENTITIES, partitions=GEN_PARTITIONS
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def pairwise_f1(spark, clusters, n_pages: int, seed: int) -> float:
    """Pairwise F1 of mention clusters (url, key, cluster_id) against the
    planted gold entities."""
    from pelinker_spark.pipeline import evaluate_against_gold
    from pelinker_spark.synth import gold_mentions

    gold = gold_mentions(spark, n_pages, seed=seed, n_entities=N_ENTITIES)
    return float(evaluate_against_gold(clusters, gold)["f1"])


def frame_digest(df) -> tuple[int, str]:
    """Row count and an order-insensitive digest of a DataFrame: the sum
    of per-row xxhash64 over every column, exact in decimal."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("h")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return int(row["n"]), str(row["s"])


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, file count) of everything under a local directory."""
    total, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                continue
    return total / 1e6, files
