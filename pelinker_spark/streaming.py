"""Structured Streaming ingest for the record-linkage pipeline.

The reference has no streaming engine — it streams disk batches with
bounded memory and resumable checkpoints (pelinker/embedder.py:149-240,
model_selection_checkpoint.py; SURVEY.md §2.10). At web scale the same
need (continuously arriving WARC drops, resume-on-crash) maps directly to
Structured Streaming:

- `stream_pages` — file-source readStream over the pages table directory
  (new parquet files = new crawl drops).
- `run_incremental_link` — foreachBatch incremental linking: each
  micro-batch extracts mentions and appends to the mention table; a
  second query scores each micro-batch's never-seen surface keys against
  the accumulated blocking membership (`incremental_link_batch`, through
  the same pair kernel as batch blocking); CC runs as a periodic batch
  job over the accumulated edges (`finalize_incremental_link` — the
  standard lambda-architecture split for iterative algorithms that can't
  run inside a streaming query).
- `compact_incremental_state` — folds accumulated per-batch state
  partitions into one base partition (crash-safe marker protocol,
  replay-idempotent), so file/partition count stays O(K) on a
  long-running stream instead of O(batches ever). Wired into
  `run_incremental_link` via compact_every=K.

Checkpointing: Spark's own streaming checkpoint (offsets + sink state)
gives exactly-once file-source processing — the streaming analog of the
reference's completed-set resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsio import fs_exists
from .mentions import generate_mentions
from .synth import PAGE_SCHEMA


def stream_pages(spark: SparkSession, pages_dir: str,
                 max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def _write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent per-batch append: partition by batch_id with dynamic
    partition overwrite, so a foreachBatch replay (streaming checkpoint
    not yet committed when the job died) rewrites its own partition
    instead of duplicating rows — the parquet stand-in for an Iceberg
    idempotent append."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def incremental_link_batch(
    spark: SparkSession,
    new_keys: DataFrame,
    out_dir: str,
    cfg=None,
    batch_id: int = 0,
) -> None:
    """Score ONE micro-batch of never-seen surface keys (the first-seen
    feed) against the accumulated key state. Frees the frames it caches
    before returning, so a long-running stream does not accumulate them.

    Incremental blocking invariant: a candidate pair's LATER endpoint is
    new exactly once, so pairing the accumulated members of the blocks
    this batch touched, keeping only pairs with a new member, enumerates
    every pair once across all batches, and — because bucket ids depend
    only on the key string (blocking.lsh_buckets) — the union of per-batch
    pairs equals the batch-mode pair set (parity-tested). Deviations from
    batch mode, by construction of an append-only stream: (a) the LSH
    channel admits every key (lsh_min_mentions is a cross-batch
    property); (b) the hot-block cap applies to the ACCUMULATED block size
    at emission time — pairs already emitted before a block went hot
    stay.

    State layout under out_dir (partitioned by batch_id only, each batch
    at most spark.sql.shuffle.partitions files per table, idempotent):
      buckets/ (key, band, bh)      — accumulated LSH membership
      compact/ (key, ck, punct, wc) — accumulated compact forms
      edges/   (key_a, key_b, jw, cos) — scored edges

    Per-batch cost model: the history read is one semi join of the
    membership state with the batch's own rows on the block id
    (_touched_history), so shuffle, join and pair enumeration are
    proportional to the batch's blocking neighborhood; the scan reads
    all accumulated membership, which compaction (compact_every) keeps
    in O(K) files. The block sizes the caps need are counted by the pair
    kernel over that same slice: a touched block's accumulated
    membership is all of it.
    """
    from .pipeline import LinkConfig, release, score_pairs

    cfg = cfg or LinkConfig()
    if batch_id <= compacted_upto(spark, out_dir):
        # Replay of a micro-batch that compaction already folded into the
        # base partition: its membership is in the base (re-appending it
        # would duplicate state and inflate the block sizes the caps
        # read), and its edges partition was written before the
        # compaction watermark advanced. Full no-op.
        return
    nk = new_keys.select("key").dropDuplicates(["key"]).persist()
    held = [nk]
    _write_incremental_state(nk, out_dir, cfg, batch_id)
    pairs = incremental_candidate_pairs(spark, out_dir, cfg, batch_id)
    edges = (
        score_pairs(pairs, cfg, registry=held)
        .where(F.col("cos") >= cfg.cos_threshold)
        .select("key_a", "key_b", "jw", "cos")
    )
    _write_batch(edges, f"{out_dir}/edges", batch_id)
    release(held)


def _write_incremental_state(
    nk: DataFrame, out_dir: str, cfg, batch_id: int
) -> None:
    """Append this batch's bucket and compact membership (idempotent
    batch_id partitions: a replayed batch rewrites its own rows)."""
    from .blocking import compact_form, has_nonkey_chars, lsh_buckets

    nk_b = lsh_buckets(nk, "key", cfg.lsh_num_hashes, cfg.lsh_bands, cfg.lsh_rows)
    nk_c = nk.select(
        "key",
        compact_form(F.col("key")).alias("ck"),
        has_nonkey_chars(F.col("key")).alias("punct"),
        F.size(F.split(F.col("key"), " ")).alias("wc"),
    )
    # buckets/ is written last: nk's lineage may read it (first-seen), and
    # writing it drops nk's cache, so no later write may recompute nk
    _write_batch(nk_c, f"{out_dir}/compact", batch_id)
    _write_batch(nk_b, f"{out_dir}/buckets", batch_id)


def _touched_history(
    spark: SparkSession, path: str, block_cols: list[str], batch_id: int
) -> DataFrame:
    """Accumulated membership of the blocks that batch `batch_id` touched:
    the state semi-joined with its own batch_id partition on the block
    id. The planner broadcasts the batch's rows when they are small, so
    only the touched slice of history reaches a shuffle."""
    state = spark.read.parquet(path)
    touched = state.where(F.col("batch_id") == batch_id).select(*block_cols)
    return state.join(touched, block_cols, "left_semi")


def incremental_candidate_pairs(
    spark: SparkSession, out_dir: str, cfg, batch_id: int
) -> DataFrame:
    """Candidate pairs for ONE batch of new keys against the accumulated
    state (state for `batch_id` must already be written), through the
    batch channels' pair kernel (blocking.block_pairs) with a predicate
    that keeps pairs touching a new key. Shares every cap with the batch
    pipeline through LinkConfig — `max_block` for LSH buckets,
    `compact_max_block` for compact groups — so a single-batch run over a
    whole corpus enumerates exactly the batch pipeline's pair set at
    lsh_min_mentions=1 (parity-tested at default caps)."""
    from .blocking import block_pairs, hot_block_members, salted_cross_pairs
    from .pipeline import prefilter_pairs

    new = (F.col("batch_id") == batch_id).alias("new")
    buckets = _touched_history(
        spark, f"{out_dir}/buckets", ["band", "bh"], batch_id
    ).select(
        "band", "bh", "key", F.size(F.split(F.col("key"), " ")).alias("wg"), new
    )
    compact = _touched_history(
        spark, f"{out_dir}/compact", ["ck"], batch_id
    ).select("ck", "key", F.col("wc").alias("wg"), "punct", new)

    pairs_lsh, sizes = block_pairs(
        buckets, ["band", "bh"], cfg.max_block,
        keep=lambda x, y: x["new"] | y["new"],
    )
    pairs_c, _ = block_pairs(
        compact, ["ck"], cfg.compact_max_block,
        keep=lambda x, y: (x["punct"] | y["punct"]) & (x["new"] | y["new"]),
    )
    pairs = pairs_lsh.unionByName(pairs_c)
    if cfg.hot_bucket_mode == "salt":
        # buckets whose accumulated size at emission time is in
        # (max_block, stop] keep all (new × history) pairs, spread over
        # lsh_hot_salts² shuffle cells per bucket: O(new·n), not n²
        hot = hot_block_members(
            buckets, sizes, ["band", "bh"], cfg.max_block, cfg.lsh_stop_block
        )
        cols = ["band", "bh", "wg"]
        cross = salted_cross_pairs(
            hot.where(F.col("new")).select(*cols, F.col("key").alias("k1")),
            hot.select(*cols, F.col("key").alias("k2")),
            cols, "k1", "k2", cfg.lsh_hot_salts,
        ).where(F.col("k1") != F.col("k2"))
        pairs = pairs.unionByName(
            cross.select(
                F.least("k1", "k2").alias("key_a"),
                F.greatest("k1", "k2").alias("key_b"),
            )
        )
    return prefilter_pairs(pairs).dropDuplicates(["key_a", "key_b"])


# --------------------------------------------------- state compaction
# A long-running stream appends one batch_id partition per micro-batch
# to every state table, so file/partition count grows O(batches):
# listing, parquet footers, and task scheduling degrade. Compaction folds
# all state with batch_id <= W into one BASE partition (batch_id = -1) of
# at most defaultParallelism files per table; membership rows are
# immutable, so the fold is a rewrite and every read-path invariant
# holds. Edges fold too, capped at the CC watermark
# (compact_incremental_state).

BASE_BATCH = -1
_STATE_TABLES = ("buckets", "compact")
_COMPACT_MARKER = "_COMPACTION.json"
_PENDING_MARKER = "_COMPACT_PENDING.json"


def compacted_upto(spark: SparkSession, out_dir: str) -> int:
    """Watermark of the last committed compaction (BASE_BATCH - 1 = none).
    Batches at or below it are folded into the base partition."""
    import json

    from .fsio import fs_read_text

    marker = f"{out_dir}/{_COMPACT_MARKER}"
    if not fs_exists(spark, marker):
        return BASE_BATCH - 1
    return int(json.loads(fs_read_text(spark, marker))["upto"])


def _batch_dirs_leq(spark: SparkSession, table_path: str, upto: int) -> list[str]:
    from .fsio import fs_list_subdirs

    out = []
    for name in fs_list_subdirs(spark, table_path):
        if name.startswith("batch_id="):
            try:
                b = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if b <= upto:
                out.append(f"{table_path}/{name}")
    return out


def _swap_in_base(spark: SparkSession, out_dir: str, table: str, upto: int) -> None:
    """Publish one table's compacted base: delete the folded batch_id
    dirs (including any previous base — its rows were re-read into the
    tmp), then rename tmp -> batch_id=-1. Idempotent: safe to re-run as
    long as the tmp dir still exists (recovery path A)."""
    from .fsio import fs_delete, fs_rename

    table_path = f"{out_dir}/{table}"
    tmp = f"{out_dir}/.compact_tmp/{table}"
    for d in _batch_dirs_leq(spark, table_path, upto):
        fs_delete(spark, d)
    fs_delete(spark, f"{table_path}/batch_id={BASE_BATCH}")
    fs_rename(spark, tmp, f"{table_path}/batch_id={BASE_BATCH}")


def recover_compaction(spark: SparkSession, out_dir: str) -> bool:
    """Finish an interrupted compaction (crash between the pending marker
    and the commit marker). Per table: if its tmp dir survives, the swap
    never completed — redo it (path A; the tmp is a superset of anything
    it replaces, so re-deleting partially-removed batch dirs is safe); if
    the tmp is gone, the swap finished — only stray folded batch dirs can
    remain, delete them (path B). Then commit. Returns True if there was
    anything to recover."""
    import json

    from .fsio import fs_delete, fs_read_text, fs_write_text_atomic

    pending = f"{out_dir}/{_PENDING_MARKER}"
    if not fs_exists(spark, pending):
        return False
    st = json.loads(fs_read_text(spark, pending))
    upto = int(st["upto"])
    edges_upto = int(st.get("edges_upto", BASE_BATCH))
    caps = {t: upto for t in _STATE_TABLES}
    if edges_upto > BASE_BATCH:
        caps["edges"] = edges_upto
    for table, cap in caps.items():
        if fs_exists(spark, f"{out_dir}/.compact_tmp/{table}"):
            _swap_in_base(spark, out_dir, table, cap)
        else:
            for d in _batch_dirs_leq(spark, f"{out_dir}/{table}", cap):
                if not d.endswith(f"batch_id={BASE_BATCH}"):
                    fs_delete(spark, d)
    fs_write_text_atomic(
        spark,
        f"{out_dir}/{_COMPACT_MARKER}",
        json.dumps({"upto": upto, "edges_upto": edges_upto}),
    )
    fs_delete(spark, f"{out_dir}/.compact_tmp")
    fs_delete(spark, pending)
    return True


def compact_incremental_state(
    spark: SparkSession,
    out_dir: str,
    upto_batch_id: int | None = None,
) -> dict:
    """Fold incremental state for batches <= upto_batch_id (default: all
    present) into the single BASE partition. Protocol, crash-safe at
    every boundary (recover_compaction finishes any interruption):

      1. write compacted tables under out_dir/.compact_tmp/ (dot-dir —
         invisible to every parquet scan of the live tables),
      2. publish the pending marker {upto} (tmp+rename),
      3. per table: delete folded batch dirs, rename tmp into
         batch_id=-1,
      4. publish the commit marker, drop tmp + pending.

    A crash before (2) leaves live state untouched (tmp is garbage,
    overwritten next attempt). After (2), recovery path A/B completes
    the swap per table. Replay idempotence after compaction:
    incremental_link_batch skips state writes for batch_id <= watermark
    (the rows are already in the base), so a foreachBatch replay of a
    folded micro-batch cannot duplicate membership or inflate caps.

    The edges/ table (the last unbounded partition growth in the
    incremental path) folds too, but capped at the incremental-CC
    watermark: incremental_components advances its persisted map by
    reading edge batches ABOVE its watermark, so moving a not-yet-seen
    batch into the base partition (batch_id=-1, below every watermark)
    would silently drop those edges from the map. Edge batches at or
    below min(upto_batch_id, cc_watermark) are provably absorbed (or,
    when no CC state exists yet, will be read via the from-scratch
    path, which includes the base). Not safe concurrently with a
    running incremental_components call — run both from the same
    periodic driver step, as run_incremental_link does.

    Returns {"upto": W, "edges_upto": E, "tables": {table: n_rows}}."""
    import json

    from .fsio import fs_delete, fs_read_text, fs_write_text_atomic

    recover_compaction(spark, out_dir)

    if upto_batch_id is None:
        # Default: everything below the NEWEST state batch. Micro-batches
        # run sequentially (batch b starts only after b-1's foreachBatch
        # returned), so every batch below the max is fully committed —
        # but the max itself may be a crashed half-batch (membership
        # written, edges not), and folding it would turn its replay into
        # a no-op that silently drops its edges. Callers that know the
        # stream is cleanly stopped can pass upto_batch_id explicitly.
        upto_batch_id = (
            max(
                (
                    int(d.rsplit("=", 1)[1])
                    for d in _batch_dirs_leq(
                        spark, f"{out_dir}/buckets", 2**62
                    )
                ),
                default=BASE_BATCH,
            )
            - 1
        )
    if upto_batch_id <= BASE_BATCH:
        return {
            "upto": compacted_upto(spark, out_dir),
            "edges_upto": BASE_BATCH,
            "tables": {},
        }

    # edges cap: never fold a batch the persisted CC map hasn't absorbed
    cc_marker = f"{out_dir}/{_CC_STATE}/{_CC_MARKER}"
    if fs_exists(spark, cc_marker):
        cc_upto = int(json.loads(fs_read_text(spark, cc_marker))["upto"])
        edges_upto = min(upto_batch_id, cc_upto)
    else:
        edges_upto = upto_batch_id
    edge_dirs = _batch_dirs_leq(spark, f"{out_dir}/edges", edges_upto)
    fold_edges = edges_upto > BASE_BATCH and any(
        not d.endswith(f"batch_id={BASE_BATCH}") for d in edge_dirs
    )
    if not fold_edges:
        edges_upto = BASE_BATCH  # sentinel: no edge swap this round

    fs_delete(spark, f"{out_dir}/.compact_tmp")
    counts: dict[str, int] = {}
    caps = {t: upto_batch_id for t in _STATE_TABLES}
    if fold_edges:
        caps["edges"] = edges_upto
    for table, cap in caps.items():
        (
            spark.read.parquet(f"{out_dir}/{table}")
            .where(F.col("batch_id") <= cap)
            .drop("batch_id")
            .coalesce(spark.sparkContext.defaultParallelism)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/.compact_tmp/{table}")
        )
        # count from the written parquet's footers — a metadata-only job;
        # counting the DataFrame before the write would run the fold twice
        counts[table] = spark.read.parquet(
            f"{out_dir}/.compact_tmp/{table}"
        ).count()

    fs_write_text_atomic(
        spark,
        f"{out_dir}/{_PENDING_MARKER}",
        json.dumps({"upto": upto_batch_id, "edges_upto": edges_upto}),
    )
    for table, cap in caps.items():
        _swap_in_base(spark, out_dir, table, cap)
    fs_write_text_atomic(
        spark,
        f"{out_dir}/{_COMPACT_MARKER}",
        json.dumps({"upto": upto_batch_id, "edges_upto": edges_upto}),
    )
    fs_delete(spark, f"{out_dir}/.compact_tmp")
    fs_delete(spark, f"{out_dir}/{_PENDING_MARKER}")
    return {"upto": upto_batch_id, "edges_upto": edges_upto, "tables": counts}


def finalize_incremental_link(
    spark: SparkSession,
    out_dir: str,
    kb: DataFrame | None = None,
    incremental_cc: bool = False,
) -> DataFrame:
    """Periodic batch step over the accumulated incremental state:
    connected components over ALL edges so far, joined back onto the
    accumulated mention table — the same cluster assignment as
    link_pipeline's (iterative CC cannot run inside a streaming query;
    SURVEY.md §2.10 lambda split).

    incremental_cc=True warm-starts the component computation from the
    persisted key→component map (incremental_components): CC iterations
    run only over NEW edges contracted through the stored map, so the
    periodic job's cost tracks the delta, not total edge history. Same
    assignment either way (parity-tested)."""
    from .cc import connected_components
    from .fsio import fs_list_subdirs

    # an all-empty batch writes only _SUCCESS: the dir exists but holds
    # no batch_id partition, and a bare parquet read cannot infer a schema
    if not any(
        d.startswith("batch_id=")
        for d in fs_list_subdirs(spark, f"{out_dir}/edges")
    ):
        m = spark.read.parquet(f"{out_dir}/mentions")
        return m.withColumn("cluster_id", F.col("key"))
    if incremental_cc:
        comp = incremental_components(spark, out_dir)
    else:
        edges = spark.read.parquet(f"{out_dir}/edges").dropDuplicates(
            ["key_a", "key_b"]
        )
        comp = connected_components(edges, "key_a", "key_b")
    mentions = spark.read.parquet(f"{out_dir}/mentions")
    return (
        mentions.join(comp, "key", "left")
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col("key")))
        .drop("component")
    )


# ------------------------------------------- incremental components
# The periodic CC job is the one finalize cost that grows with TOTAL
# edge history rather than with the new batch. The fix is the classic
# contraction warm-start: a persisted key→component map makes every old
# component a super-node (its members are already transitively
# connected, so its internal edges carry no new information); connecting
# old state to new arrivals only ever happens through NEW edges. So per
# finalize: contract the new edges' endpoints through the stored map,
# run CC over that contracted edge set alone (tiny — it scales with the
# delta), then relabel. Component ids stay "lexicographically smallest
# member key": each super-node's id IS its min member, so the min over a
# merged group of super-nodes and fresh keys is the global min member —
# bit-identical to full CC over all edges (parity-tested).

_CC_STATE = "cc_state"
_CC_MARKER = "_CC_WATERMARK.json"


def _advance_components(
    old_map: DataFrame | None, new_edges: DataFrame
) -> DataFrame:
    """One contraction step: fold new edges into an existing
    key→component map. Returns the updated full map (old keys relabeled
    where merged, new keys appended)."""
    from .cc import connected_components

    new_edges = new_edges.select("key_a", "key_b").dropDuplicates(
        ["key_a", "key_b"]
    )
    if old_map is None:
        return connected_components(new_edges, "key_a", "key_b")

    # contract endpoints: old keys become their component super-node,
    # never-mapped keys stand for themselves
    contracted = (
        new_edges.join(
            old_map.withColumnRenamed("key", "key_a").withColumnRenamed(
                "component", "ca"
            ),
            "key_a",
            "left",
        )
        .join(
            old_map.withColumnRenamed("key", "key_b").withColumnRenamed(
                "component", "cb"
            ),
            "key_b",
            "left",
        )
        .select(
            F.coalesce("ca", "key_a").alias("na"),
            F.coalesce("cb", "key_b").alias("nb"),
        )
        # both endpoints already in the same component: no information
        .where(F.col("na") != F.col("nb"))
    )
    merged = connected_components(contracted, "na", "nb").withColumnRenamed(
        "key", "node"
    ).withColumnRenamed("component", "merged")

    # relabel the old map where its component id was merged away; the
    # merge map scales with the contracted delta, so AQE broadcasts it
    # in the common case
    relabeled = (
        old_map.join(
            merged, old_map["component"] == merged["node"], "left"
        )
        .select(
            "key", F.coalesce("merged", "component").alias("component")
        )
    )
    # fresh keys (contracted node == the key itself) enter the map with
    # their merged component; a fresh key always appears in `merged`
    # because each of its edges has a distinct other endpoint
    fresh = (
        merged.join(
            old_map.select(F.col("component").alias("node")).dropDuplicates(),
            "node",
            "left_anti",
        )
        .select(F.col("node").alias("key"), F.col("merged").alias("component"))
    )
    return relabeled.unionByName(fresh)


def incremental_components(spark: SparkSession, out_dir: str) -> DataFrame:
    """key→component map over ALL committed edges, computed by advancing
    a persisted map with only the edge batches it has not seen.

    State under out_dir/cc_state/: `map_v<W>/` (parquet key→component
    covering edge batches <= W) + `_CC_WATERMARK.json` {"upto": W,
    "dir": ...}. The persisted watermark stops one batch BELOW the
    newest edge partition (same discipline as compaction: the newest
    partition may be a crashed half-batch whose replay will rewrite it),
    so the newest batch is folded on the fly into the RETURNED map each
    call and only persisted once a younger batch lands. Crash-safe:
    state is derived (recomputable from edges); a crash between map
    write and marker update leaves a stale dir that the next call
    overwrites."""
    import json

    from .fsio import fs_delete, fs_list_subdirs, fs_read_text, fs_write_text_atomic

    state = f"{out_dir}/{_CC_STATE}"
    edges_path = f"{out_dir}/edges"
    batches = sorted(
        int(d.split("=", 1)[1])
        for d in fs_list_subdirs(spark, edges_path)
        if d.startswith("batch_id=")
    )
    if not batches:
        return spark.createDataFrame([], "key string, component string")

    marker = f"{state}/{_CC_MARKER}"
    old_map, upto = None, None
    if fs_exists(spark, marker):
        st = json.loads(fs_read_text(spark, marker))
        old_map, upto = spark.read.parquet(f"{state}/{st['dir']}"), st["upto"]

    newest = batches[-1]
    safe = newest - 1  # spare the possibly-in-flight newest partition
    if (upto is None and safe >= batches[0]) or (
        upto is not None and safe > upto
    ):
        persist_edges = spark.read.parquet(edges_path).where(
            F.col("batch_id") <= safe
            if upto is None
            else (F.col("batch_id") <= safe) & (F.col("batch_id") > upto)
        )
        new_map = _advance_components(old_map, persist_edges)
        vdir = f"map_v{safe}"
        new_map.write.mode("overwrite").parquet(f"{state}/{vdir}")
        fs_write_text_atomic(
            spark, marker, json.dumps({"upto": safe, "dir": vdir})
        )
        for d in fs_list_subdirs(spark, state):
            if d.startswith("map_v") and d != vdir:
                fs_delete(spark, f"{state}/{d}")
        old_map, upto = spark.read.parquet(f"{state}/{vdir}"), safe

    tail = spark.read.parquet(edges_path)
    if upto is not None:
        tail = tail.where(F.col("batch_id") > upto)
    return _advance_components(old_map, tail)


def run_incremental_link(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    lang: str | None = "en",
    cfg=None,
    max_files_per_trigger: int = 8,
    compact_every: int | None = None,
) -> None:
    """Two CHAINED streaming queries, each with its own checkpoint
    (exactly-once file-source processing):

      1. mention ingest — per micro-batch, extract mentions ONCE and
         append to the mention table (idempotent batch_id partitions);
      2. incremental scoring — a file-source stream over the mention
         table itself (the standard multi-hop / medallion chain: the
         sink of query 1 is the source of query 2, so page text is
         parsed exactly once per page, not once per consumer). Each
         micro-batch's NEVER-SEEN surface keys are scored against the
         accumulated key state (incremental_link_batch) — batch 2 never
         re-scores batch 1's vocabulary.

    First-seen dedup (a key scores exactly once, in the first batch
    where it appears; survives restarts): anti-join the batch's keys
    against the accumulated bucket state, strictly-older partitions only
    (`batch_id < current`, so an ingest-replay of the current partition
    stays idempotent). The on-disk state the scorer already maintains IS
    the seen-set — pure JVM column algebra, no second state store.

    CC + cluster assignment then run as a periodic batch job
    (finalize_incremental_link).

    compact_every=K folds the accumulated state into the single base
    partition after every K scored micro-batches (upto = the batch that
    just finished — safe inside foreachBatch because its edges partition
    is already on disk when incremental_link_batch returns, so a
    checkpoint-replay of the folded batch is a correct no-op). Each table
    then holds the base's at most defaultParallelism files plus fewer
    than K batch_id partitions of at most spark.sql.shuffle.partitions
    files each: O(K) files, not O(total batches ever). An interrupted
    compaction is finished before the scoring query starts
    (recover_compaction)."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        m = generate_mentions(batch_df, (1, 2, 3), lang, extra_cols=("warc_ts",))
        _write_batch(m, f"{out_dir}/mentions", batch_id)

    q1 = (
        stream_pages(spark, pages_dir, max_files_per_trigger)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", f"{checkpoint_dir}/ingest")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()

    if not fs_exists(spark, f"{out_dir}/mentions"):
        return  # empty first drop: nothing ingested, nothing to score

    # a previous run may have died mid-compaction; finish the swap before
    # any scoring batch reads the state tables
    recover_compaction(spark, out_dir)

    def _maybe_compact(batch_id: int) -> None:
        # batch_id's edges are on disk by now (incremental_link_batch
        # returned), so folding up to and INCLUDING it is replay-safe
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_incremental_state(spark, out_dir, upto_batch_id=batch_id)

    # schema of the mention table = generate_mentions' analyzed output
    # schema (no job runs for this) + the batch_id partition column
    mention_schema = generate_mentions(
        spark.createDataFrame([], PAGE_SCHEMA),
        (1, 2, 3),
        lang,
        extra_cols=("warc_ts",),
    ).schema.add("batch_id", "long")
    mention_stream = (
        spark.readStream.schema(mention_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(f"{out_dir}/mentions")
    )

    def score_new(batch_df: DataFrame, batch_id: int) -> None:
        nk = batch_df.select("key").dropDuplicates(["key"])
        if fs_exists(spark, f"{out_dir}/buckets"):
            # every key has exactly ONE band-0 row, so the band filter
            # makes this a one-row-per-seen-key, key-column-pruned scan
            # (row-group stats prune the other bands) instead of a
            # bands-times-larger read per micro-batch
            seen = (
                spark.read.parquet(f"{out_dir}/buckets")
                .where(
                    (F.col("batch_id") < F.lit(batch_id))
                    & (F.col("band") == 0)
                )
                .select("key")
            )
            # The accumulated history is SCANNED but never SHUFFLED, so
            # per-batch shuffle volume is O(batch), not O(history): semi
            # join the history against the (batch-sized) new-key set
            # map-side, giving an "already seen" set no larger than the
            # batch, then anti-join the batch against THAT — both
            # broadcast hash joins. A plain nk ⟕̸ seen anti-join would
            # sort-merge and shuffle every key ever seen.
            already = seen.join(F.broadcast(nk), "key", "left_semi")
            nk = nk.join(F.broadcast(already), "key", "left_anti")
        incremental_link_batch(spark, nk, out_dir, cfg, batch_id)
        _maybe_compact(batch_id)

    q2 = (
        mention_stream.writeStream.foreachBatch(score_new)
        .option("checkpointLocation", f"{checkpoint_dir}/score")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
