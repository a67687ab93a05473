"""End-to-end record-linkage pipeline (the engine's flagship DAG).

    pages(url, warc_ts, html, text, lang)
      1. extract        html → text (pandas UDF; byte-identity invariant)
      2. mentions       sliding-window candidates (column algebra)
      3. surfaces       groupBy blocking key — THE scale pivot: every later
                        stage runs on |distinct surfaces|, not |mentions|
      4. candidates     MinHash-LSH pairs over surfaces (+capped blocks)
      5. edges          Jaro-Winkler + embedding-cosine score ≥ thresholds
      6. components     hash-min connected components (transitive clusters)
      7. clusters       mentions ⋈ surface→component; KB anchoring
      8. report         cluster composition + metrics rows

Shuffle budget (SURVEY.md §3.1 mapping): one shuffle at the surface
groupBy, one at the LSH bucket self-join, two small joins for pair scoring,
one per CC iteration (on the far smaller surface-key graph), one to map
components back onto mentions. The KB join is broadcast. Head-key skew is
defused by the LSH per-bucket cap plus AQE skew-join splitting.

Reference lifecycle parity: stage A embed pipeline (pelinker/embedder.py:
43-249) + stage B fit/cluster (pelinker/model.py:721-981) collapsed into
one declarative DAG; the fitted-manifold clustering is replaced by CC over
scored edges per the north rule.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .blocking import compact_key_pairs, lsh_candidate_pairs
from .cc import connected_components
from .checkpoint import CheckpointManager
from .extract import extract_text
from .mentions import generate_mentions, kb_blocking_keys
from .metrics import pairwise_prf
from .exprcache import session_cached
from .scoring import EMBED_DIM, cosine_col, make_encode_udf, make_gated_jw_udf


@dataclass
class LinkConfig:
    lang: str | None = "en"
    windows: tuple[int, ...] = (1, 2, 3)
    lsh_num_hashes: int = 16
    lsh_bands: int = 4
    lsh_rows: int = 4
    max_block: int = 10
    # compact (punctuation-stripped) channel group cap. Distinct from
    # max_block: compact groups are exact-equality classes (high
    # precision), so they tolerate a looser cap than probabilistic LSH
    # buckets. Both the batch pipeline and the incremental streaming path
    # read THIS field — a single source of truth keeps their pair sets in
    # parity (a cap mismatch silently breaks batch-vs-incremental
    # equivalence).
    compact_max_block: int = 20
    # LSH candidate restriction: a surface enters the fuzzy channel only if
    # it has mention mass >= this (a singleton clean surface has nothing to
    # merge) or carries punctuation (possible typo variant of a canonical).
    # Set to 1 to fuzzy-match everything (slow, max recall).
    lsh_min_mentions: int = 2
    # Hot-bucket policy for the LSH channel (north rule: "explicit salted
    # repartitioning to defuse head-term skew in blocks"). "drop" (default,
    # the published-receipt behavior): buckets over max_block are
    # stop-buckets, skipped whole. "salt": buckets in (max_block,
    # lsh_stop_block] keep all pairs via triangle-salted enumeration
    # (blocking.salted_block_pairs — the quadratic work spreads over
    # lsh_hot_salts(lsh_hot_salts+1)/2 shuffle keys per bucket); only
    # stopword-grade buckets past lsh_stop_block (None → 40·max_block)
    # are dropped. Read by BOTH the batch and incremental paths (parity).
    hot_bucket_mode: str = "drop"
    lsh_stop_block: int | None = None
    lsh_hot_salts: int = 8
    jw_threshold: float = 0.95
    cos_threshold: float = 0.90
    seed: int = 13
    # embedding source(s) — the reference's (model, layer) axis. One
    # variant: plain encode. Several: per-source vectors are fused
    # (fuse_entity_vectors concat, J3) and cosine is computed on the
    # fused vector (= mean of per-source cosines for unit parts), the
    # model-selection fused re-evaluation path (runner.py:584-812).
    encoder_variants: tuple[str, ...] = ("default",)
    # per-mention link_score/exact_key feature. Default on
    # (the public projection carries it); callers that only need cluster
    # ids (the scaling bench's hot path, bulk re-cluster jobs) can turn it
    # off to skip the incident-score aggregation + its join into the
    # component map — measured ~2% of the 320k link wall.
    link_scores: bool = True
    # connected-components planner cutoff (cc.DRIVER_MAX_EDGES): edge sets
    # at or below this collect to a driver union-find; above it (or with
    # 0, forcing the distributed path end-to-end — the cc_full_pipeline
    # bench receipt) hash-min + pointer doubling runs on the cluster.
    cc_driver_max_edges: int = 1_000_000

    def as_dict(self) -> dict:
        return asdict(self)


@dataclass
class LinkResult:
    mentions: DataFrame
    surfaces: DataFrame
    edges: DataFrame
    components: DataFrame
    clusters: DataFrame  # mention-level rows with cluster_id (+entity_id)
    # what the run materialised in memory: the mentions cache, the
    # barrier leaves and the components leaf (with checkpoint_dir, whose
    # stages are parquet, only the components leaf)
    held: list = field(default_factory=list, repr=False)

    def unpersist(self) -> None:
        """Free everything this run holds in memory, so repeat runs in one
        session do not accumulate storage. Without checkpoint_dir every
        frame of the result, clusters included, is unusable afterwards:
        the leaves it reads are gone."""
        release(self.held)

    def public_view(self) -> DataFrame:
        """P7 public output projection (sinks.public_projection)."""
        from .sinks import public_projection

        return public_projection(self.clusters)

    def debug_view(self) -> DataFrame:
        """P7 debug output projection (sinks.debug_projection)."""
        from .sinks import debug_projection

        return debug_projection(self.clusters)


def release(frames: list) -> None:
    """Free what each frame holds and empty the list: the cache of a
    persisted frame, the blocks of a localCheckpoint leaf. A leaf's blocks
    are its only copy, so anything built on a released leaf cannot run."""
    for df in frames:
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
        else:
            df.unpersist()
    frames.clear()


def extract_stage(pages: DataFrame) -> DataFrame:
    """html → text with the byte-identity contract; drops rows whose html
    doesn't parse to non-empty text (reference non-null guard util.py:876).
    Corpora that already carry extracted text (no html column) pass
    through — the reference's pmid→text tables have the same shape."""
    if "html" in pages.columns:
        pages = pages.withColumn("text", extract_text(F.col("html")))
    cols = [c for c in ("url", "warc_ts", "text", "lang") if c in pages.columns]
    return pages.where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    ).select(*cols)


def surface_table(mentions: DataFrame) -> DataFrame:
    """Distinct blocking keys with mention mass and a deterministic
    representative surface (min) — the dedupe-before-join trick the
    reference applies ahead of fusion joins (embedding_fusion.py:205-211)."""
    return mentions.groupBy("wg", "key").agg(
        F.count("*").alias("n_mentions"),
        F.min("mention").alias("surface"),
    )


def prefilter_pairs(pairs: DataFrame) -> DataFrame:
    """JVM pair prefilters, before any Python scoring: (1) identity-bearing
    digit sequences must match exactly (record-linkage numeric-mismatch
    rule — "term123"≠"term124" however close the strings); (2) JW >= 0.95
    implies a length-difference bound of ~max/4."""
    return pairs.where(_prefilter_pred())


@session_cached
def _prefilter_pred():
    """prefilter_pairs' static predicate Column, built once per session
    (py4j construction cost — exprcache)."""
    digits_a = F.concat_ws(",", F.regexp_extract_all(F.col("key_a"), F.lit(r"([0-9]+)"), 1))
    digits_b = F.concat_ws(",", F.regexp_extract_all(F.col("key_b"), F.lit(r"([0-9]+)"), 1))
    la, lb = F.length("key_a"), F.length("key_b")
    # cheap length predicate first — short-circuits the digit regexes
    return (F.abs(la - lb) * 4 <= F.greatest(la, lb)) & (digits_a == digits_b)


def score_pairs(pairs: DataFrame, cfg: LinkConfig, registry: list) -> DataFrame:
    """Staged scoring: Jaro-Winkler with a fused vectorized pre-gate (the
    numpy bag+prefix bound inside the Arrow batch cuts the per-row Python
    loop to plausibly-passing pairs only — 62% fewer scored rows at the
    40k bench, bit-identical edges), then the encoder + cosine only for
    JW survivors — the encoder is the more expensive UDF and must see as
    few rows as possible.

    Plan shape (measured): encode the DISTINCT keys of the JW
    survivors once and join the vectors back, rather than encoding both
    keys in place per pair row. The in-place variant was tried and DOUBLED
    total pipeline CPU (359 vs 187 CPU-sec at 40k pages, /proc-accounted):
    pair tables repeat keys heavily, and per-batch memoization cannot
    amortize across batches/partitions the way a distinct-shuffle does.
    The two equi joins are cheap (the pair table is small after the JW
    filter); this is also the only shape that survives a real transformer
    encoder. Returns pairs with both scores, filtered to jw >= threshold.
    The two frames it persists (JW survivors, key vectors) are appended to
    `registry`; the caller frees them with release() once the result is
    materialised."""
    jw_scorer = make_gated_jw_udf(cfg.jw_threshold)
    jw_pass = pairs.withColumn(
        "jw", jw_scorer(F.col("key_a"), F.col("key_b"))
    ).where(F.col("jw") >= cfg.jw_threshold)
    # consumed three times below (two key projections + the join base)
    jw_pass = jw_pass.persist()
    registry.append(jw_pass)

    keys = (
        jw_pass.select(F.col("key_a").alias("key"))
        .unionByName(jw_pass.select(F.col("key_b").alias("key")))
        .distinct()
    )
    variants = tuple(cfg.encoder_variants) or ("default",)
    if len(variants) == 1:
        emb = keys.select(
            "key", make_encode_udf(variants[0])(F.col("key")).alias("emb")
        )
        k_sources = 1
    else:
        # fused scoring: one frame per embedding source, concatenated per
        # key via the J3 fusion operator; each per-source vector is unit,
        # so cosine(concat)/n_sources == mean of per-source cosines
        from .fusion import fuse_entity_vectors

        frames = [
            keys.select(
                "key", make_encode_udf(v)(F.col("key")).alias("emb")
            )
            for v in variants
        ]
        emb = fuse_entity_vectors(frames, entity_col="key", embed_col="emb")
        k_sources = len(variants)
    # emb feeds BOTH pair-side joins below; without a persist the two join
    # builds are distinct physical subtrees (the column renames defeat
    # exchange reuse) and the encoder would run TWICE over the full
    # distinct-key set (two ArrowEvalPython nodes in the edges plan).
    emb = emb.persist()
    registry.append(emb)
    return (
        jw_pass.join(
            emb.withColumnRenamed("key", "key_a").withColumnRenamed("emb", "emb_a"),
            "key_a",
        )
        .join(
            emb.withColumnRenamed("key", "key_b").withColumnRenamed("emb", "emb_b"),
            "key_b",
        )
        .withColumn("cos", _pair_cos(EMBED_DIM * k_sources, k_sources))
        .drop("emb_a", "emb_b")
    )


@session_cached
def _pair_cos(dim: int, k_sources: int):
    """score_pairs' cosine Column (the dim-unrolled sum is ~160 py4j
    calls to build), once per session — exprcache."""
    return cosine_col(F.col("emb_a"), F.col("emb_b"), dim=dim) / F.lit(
        float(k_sources)
    )


def incident_link_scores(
    edges: DataFrame,
    src: str = "key_a",
    dst: str = "key_b",
    score: F.Column | None = None,
) -> DataFrame:
    """Per-surface link confidence: the best score over the scored edges
    incident to the key (reference predictions carry per-row link scores,
    model.py:406-413, :1501-1659). An edge's score is the WEAKER of its
    two channel scores (least(jw, cos) — the gate that admitted it).
    Returns (key, link_score); keys with no incident edge are absent
    (callers coalesce to 1.0 — an exact-key member was never fuzzy-merged
    so carries full confidence). One union + one hash agg over the (small,
    post-threshold) edge table."""
    s = score if score is not None else F.least(F.col("jw"), F.col("cos"))
    inc = edges.select(F.col(src).alias("key"), s.alias("__s")).unionByName(
        edges.select(F.col(dst).alias("key"), s.alias("__s"))
    )
    return inc.groupBy("key").agg(F.max("__s").alias("link_score"))


def filter_clusters_by_score(clusters: DataFrame, min_score: float) -> DataFrame:
    """P6 applied at MENTION level: keep rows whose link
    confidence reaches min_score; exact-key members (score 1.0) always
    pass."""
    if "link_score" not in clusters.columns:
        raise ValueError(
            "clusters has no link_score column — the run was built with "
            "LinkConfig(link_scores=False); re-run with link_scores=True "
            "to use a score threshold"
        )
    return clusters.where(F.col("link_score") >= F.lit(float(min_score)))


def link_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    kb: DataFrame | None = None,
    cfg: LinkConfig | None = None,
    checkpoint_dir: str | None = None,
) -> LinkResult:
    cfg = cfg or LinkConfig()
    ckpt = (
        CheckpointManager(spark, checkpoint_dir, cfg.as_dict(), input_df=pages)
        if checkpoint_dir
        else None
    )

    held: list = []

    def stage(name, build):
        return ckpt.stage(name, build) if ckpt else build()

    def barrier(name, build):
        """A stage that later plans read as a leaf. Each barrier output is
        read by several downstream queries; as a leaf it is computed once
        (no branch races a cold cache) and its lineage stays out of every
        later plan, which the driver would otherwise re-analyse per query.
        Without checkpoint_dir the leaf is a localCheckpoint: its blocks
        live only on the executors that computed them, so it suits local
        runs; a cluster run that must survive executor loss passes
        checkpoint_dir and gets parquet stages."""
        if ckpt:
            return ckpt.stage(name, build)
        df = build().localCheckpoint()
        held.append(df)
        return df

    # language pruning BEFORE extraction: the extract UDF is
    # non-deterministic (single-evaluation pin, extract.py), so the
    # optimizer cannot push a later lang filter below the extraction
    # projection — prune here and never parse out-of-language HTML.
    src = pages
    if cfg.lang is not None and "lang" in pages.columns:
        src = pages.where(F.col("lang") == cfg.lang)
    docs = stage("extract", lambda: extract_stage(src))
    mentions = stage(
        "mentions", lambda: generate_mentions(docs, cfg.windows, cfg.lang)
    )
    if not ckpt:
        # the mention table is the largest intermediate (|mentions| ~ 100x
        # |pages|) and is read by the surface groupBy and the cluster
        # assignment; cached lazily and SERIALIZED so holding it through
        # the pair/score stages doesn't evict their execution memory
        # (deserialized caching at 320k pages slowed the pair stage ~2x)
        mentions = mentions.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(mentions)
    # read by the LSH channel and the compact channel's probe and build
    surfaces = barrier("surfaces", lambda: surface_table(mentions))

    registry: list = []

    def build_pairs():
        from .blocking import has_nonkey_chars

        linkable = surfaces
        if cfg.lsh_min_mentions > 1:
            # translate-based punctuation check — rlike on every surface
            # cost ~40s/12.5M keys (java.util.regex); translate is ~10x less
            linkable = surfaces.where(
                (F.col("n_mentions") >= cfg.lsh_min_mentions)
                | has_nonkey_chars(F.col("key"))
            )
        # dedup=False on both channels: the union below is deduplicated
        # once, so channel-local dropDuplicates shuffles would be overhead
        raw = lsh_candidate_pairs(
            linkable,
            num_hashes=cfg.lsh_num_hashes,
            bands=cfg.lsh_bands,
            rows=cfg.lsh_rows,
            max_block=cfg.max_block,
            registry=registry,
            hot_bucket_mode=cfg.hot_bucket_mode,
            stop_block=cfg.lsh_stop_block,
            hot_salts=cfg.lsh_hot_salts,
            dedup=False,
        ).unionByName(
            compact_key_pairs(
                surfaces,
                max_block=cfg.compact_max_block,
                registry=registry,
                dedup=False,
            )
        )
        # prefilter BEFORE the dedup shuffle: identity-bearing digit
        # sequences must match exactly, and JW >= 0.95 bounds the length
        # difference to ~max/4 — both pure column predicates
        return prefilter_pairs(raw).dropDuplicates(["key_a", "key_b"])

    # read by score_pairs' two persists, each of which would otherwise
    # plan the whole blocking forest on the driver; the pair table is small
    # (bounded by the blocking caps) and its dedup exchange already
    # materialises it, so the barrier costs no stage overlap
    pairs = barrier("pairs", build_pairs)
    # the channel internals are only read by the pair build
    release(registry)

    def build_edges():
        scored = score_pairs(pairs, cfg, registry=registry)
        return scored.where(F.col("cos") >= cfg.cos_threshold).select(
            "key_a", "key_b", "jw", "cos"
        )

    # read by the components, the incident scores and the cluster assignment
    edges = barrier("edges", build_edges)
    release(registry)
    # the stage record (or a count on the localCheckpoint leaf, which is
    # metadata-cheap) spares connected_components its own size probe
    n_edges = ckpt.rows("edges") if ckpt else edges.count()

    # CC is shared by the components artifact and the cluster assignment;
    # memoized so checkpoint-resume paths don't run it twice.
    comp_memo: dict = {}

    def get_comp() -> DataFrame:
        if "df" not in comp_memo:
            comp_memo["df"] = connected_components(
                edges,
                "key_a",
                "key_b",
                driver_max_edges=cfg.cc_driver_max_edges,
                n_edges=n_edges,
            )
            # the distributed path returns a localCheckpoint leaf
            held.append(comp_memo["df"])
        return comp_memo["df"]

    def build_components():
        # singletons (surfaces with no qualifying edge) are their own id
        return (
            surfaces.select("key")
            .join(get_comp(), "key", "left")
            .select(
                "key",
                F.coalesce(F.col("component"), F.col("key")).alias("component"),
            )
        )

    components = stage("components", build_components)

    def build_clusters():
        # mentions already carry the blocking key, so cluster assignment is
        # a single join against the (small: only keys that appear in edges)
        # component map + coalesce for singletons — NOT a join against the
        # full |surfaces| table. AQE picks broadcast when comp fits; at
        # 10^12 docs it degrades gracefully to a shuffle join on key.
        comp = get_comp()
        # per-mention link confidence: best incident edge
        # score for fuzzy-merged surfaces, 1.0 for exact-key members.
        # Plan shape: fuse the incident-score map INTO the component map
        # first (small ⋈ small — inc keys ⊆ comp keys, both edge-derived)
        # so the 12.5M-row mention table is probed by ONE broadcast join,
        # not two (a second pass measured ~+10% on the 320k 8-core wall).
        # At 10^12 rows the single join degrades to a shuffle on the same
        # key either way.
        if cfg.link_scores:
            aux = comp.join(incident_link_scores(edges), "key", "left")
            m = (
                mentions.join(aux, "key", "left")
                .withColumn(
                    "cluster_id", F.coalesce(F.col("component"), F.col("key"))
                )
                .withColumn("exact_key", F.col("link_score").isNull())
                .withColumn(
                    "link_score", F.coalesce(F.col("link_score"), F.lit(1.0))
                )
                .drop("component")
            )
        else:
            # id-only mode: one join against the bare component map, no
            # incident-score agg — link_score/exact_key absent (the P7
            # projections select them conditionally).
            m = (
                mentions.join(comp, "key", "left")
                .withColumn(
                    "cluster_id", F.coalesce(F.col("component"), F.col("key"))
                )
                .drop("component")
            )
        if kb is not None:
            kbk = kb_blocking_keys(kb)
            # anchor components to KB entities from the KB side (small):
            # map each KB key through the component map (singleton keys are
            # their own component), then take the min entity per component.
            anchor = (
                kbk.select("key", "entity_id")
                .join(comp, "key", "left")
                .select(
                    F.coalesce(F.col("component"), F.col("key")).alias(
                        "cluster_id"
                    ),
                    "entity_id",
                )
                .groupBy("cluster_id")
                .agg(F.min("entity_id").alias("kb_entity_id"))
            )
            m = m.join(F.broadcast(anchor), "cluster_id", "left")
        return m

    clusters = stage("clusters", build_clusters)

    return LinkResult(
        mentions=mentions,
        surfaces=surfaces,
        edges=edges,
        components=components,
        clusters=clusters,
        held=held,
    )


def evaluate_against_gold(
    clusters: DataFrame, gold: DataFrame
) -> dict[str, float]:
    """Join predicted mention clusters to planted gold mentions on
    (url, blocking key) and compute pairwise F1 at the same blocking key
    (the BASELINE.json metric)."""
    labeled = (
        clusters.select("url", "key", "cluster_id")
        .dropDuplicates(["url", "key"])
        .join(
            gold.select("url", F.col("gold_key").alias("key"), "entity_id")
            .where(F.col("key").isNotNull())
            .dropDuplicates(["url", "key"]),
            ["url", "key"],
        )
    )
    return pairwise_prf(labeled, "cluster_id", "entity_id", block_col=None)
