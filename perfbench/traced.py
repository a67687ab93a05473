"""The traced run: per-layer numbers for a workload.

The run makes the first unit, then a traced unit and a plain unit, so the
traced unit's overhead is measured against a plain unit in the same
session. The event log is on for the whole run.

batch_link's traced unit is a staged copy of link_pipeline's default
path: each layer's public functions are called in the pipeline's order
and their output is materialised inside the layer's span, so a layer's
wall is its own. Staged walls need not add up to the plain unit's wall
(the pipeline fuses layers into fewer jobs); the traced unit's output is
checked equal to the plain unit's.

checkpointed_link's traced unit is the plain unit with a span around each
CheckpointManager.stage call (checkpoint mode already materialises every
stage), the output write (sinks) and the resume call (checkpoint).

Two phases run once after the units, for layers the kept workloads do not
exercise: batch_link's traced run feeds a corpus to the incremental
streaming path in drops (streaming), and checkpointed_link's traced run
runs the relational HEADLINE queries of bench.py on the repository's
fixed sf0.01 tables (perfbench/data, a copy of the oracle-gate test
data), each checked against its DuckDB oracle (operators.relational)."""

from __future__ import annotations

import hashlib
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

from . import harness, inputs, stats, trace

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# bench.py's headline queries
HEADLINE = (
    "q01_pricing_summary", "q02_revenue_topk", "q04_topk_per_group",
    "q05_modal_event_type", "q09_interval_overlap", "q12_embed_centroids",
    "q15_deterministic_sample", "q17_token_jaccard", "q18_cosine_topk",
    "q22_minhash_signatures", "q39_jw_pair_scores",
)
# checkpoint stage name -> layer
STAGE_LAYER = {
    "extract": "extract", "mentions": "mentions", "surfaces": "pipeline.surfaces",
    "pairs": "blocking", "edges": "scoring", "components": "cc",
    "clusters": "pipeline.clusters",
}
# streaming queries run their jobs under the query's own job group, so
# the streaming layer's jobs are matched by time alone
TIME_MATCHED = frozenset({"streaming"})
# incremental corpus: pages, drops, compaction period (in drops)
STREAM_PAGES = 100
STREAM_DROPS = 2
COMPACT_EVERY = 2

LAYER_STATS = ("driver_s", "shuffle_mb", "py_mb", "failed_tasks")
# every per-layer metric a traced run prints; those a workload does not
# exercise read 0
METRICS: dict[str, str] = {}
for _layer, _names in {
    "extract": ("wall_s", "rows_out", "py_mb", "driver_s", "failed_tasks"),
    "mentions": ("wall_s", "rows_out", "per_page", "driver_s", "failed_tasks"),
    "pipeline.surfaces": ("wall_s", "rows_out", "share", "driver_s", "shuffle_mb",
                          "failed_tasks"),
    "blocking": ("wall_s", "lsh.pairs", "compact.pairs", "prefilter.pass_rate",
                 "pairs", "useful", "driver_s", "shuffle_mb", "failed_tasks"),
    "scoring": ("wall_s", "jw.rows_in", "jw.pass_rate", "encode.keys",
                "cos.pass_rate", "edges", "driver_s", "shuffle_mb", "py_mb",
                "failed_tasks"),
    "cc": ("wall_s", "edges_in", "iterations", "distributed", "driver_s",
           "shuffle_mb", "failed_tasks"),
    "pipeline.clusters": ("wall_s", "rows_out", "driver_s", "shuffle_mb",
                          "failed_tasks"),
    "sinks": ("wall_s", "written_mb", "driver_s", "failed_tasks"),
    "checkpoint": ("resume_s", "driver_s", "metrics_rows",
                   *(f"{s}.written_mb" for s in (*STAGE_LAYER, "_metrics"))),
    "streaming": ("drop_latency_s", "drop_max_s", "drop_growth", "ingest.batch_s",
                  "score.batch_s", "compact.wall_s", "compact.rewritten_mb",
                  "state_mb", "state_files", "edges_per_drop", "finalize_s",
                  "pairwise_f1", "driver_s", "shuffle_mb", "failed_tasks"),
    "operators.relational": (*(f"{q}.{m}" for q in HEADLINE for m in ("wall_s", "rows_out")),
                             "driver_s", "py_mb", "failed_tasks"),
    "trace": ("unit_s", "plain_unit_s", "overhead_s", "unattributed_s"),
}.items():
    for _n in _names:
        _unit = "s" if _n.endswith("_s") else "MB" if _n.endswith("_mb") else (
            "1" if _n.endswith(("rate", "share", "useful", "f1", "growth", "distributed"))
            else "count")
        METRICS[f"{_layer}.{_n}"] = _unit


def _ratio(a, b) -> float:
    return a / b if b else 0.0


# ------------------------------------------------------- traced units


@dataclass
class Staged:
    """Output of the staged batch unit: the mention clusters plus the
    frames it cached (released like LinkResult.unpersist)."""

    clusters: object
    held: list = field(default_factory=list)

    def unpersist(self) -> None:
        for df in self.held:
            df.unpersist()

    def public_view(self):
        from pelinker_spark.sinks import public_projection

        return public_projection(self.clusters)


def staged_batch(wl, tr: trace.Tracer) -> Staged:
    """link_pipeline's default path (no KB, LinkConfig defaults), one
    layer at a time, each layer's output materialised inside its span."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from pelinker_spark.blocking import compact_key_pairs, has_nonkey_chars, lsh_candidate_pairs
    from pelinker_spark.cc import connected_components
    from pelinker_spark.mentions import generate_mentions
    from pelinker_spark.pipeline import (
        extract_stage, incident_link_scores, prefilter_pairs, score_pairs, surface_table,
    )
    from pelinker_spark.sinks import public_projection

    cfg, held = wl.cfg, []
    src = wl.pages
    if cfg.lang is not None:
        src = src.where(F.col("lang") == cfg.lang)
    with tr.span("extract") as sp:
        docs = extract_stage(src).persist(StorageLevel.MEMORY_AND_DISK)
        held.append(docs)
        sp.counts["rows_out"] = docs.count()
    with tr.span("mentions") as sp:
        mentions = generate_mentions(docs, cfg.windows, cfg.lang).persist(
            StorageLevel.MEMORY_AND_DISK)
        held.append(mentions)
        sp.counts["rows_out"] = mentions.count()
    with tr.span("pipeline.surfaces") as sp:
        surfaces = surface_table(mentions).localCheckpoint()
        sp.counts["rows_out"] = surfaces.count()
    registry: list = []
    with tr.span("blocking") as sp:
        linkable = surfaces
        if cfg.lsh_min_mentions > 1:
            linkable = surfaces.where(
                (F.col("n_mentions") >= cfg.lsh_min_mentions) | has_nonkey_chars(F.col("key")))
        with tr.span("lsh"):
            lsh = lsh_candidate_pairs(
                linkable, num_hashes=cfg.lsh_num_hashes, bands=cfg.lsh_bands,
                rows=cfg.lsh_rows, max_block=cfg.max_block, registry=registry,
                hot_bucket_mode=cfg.hot_bucket_mode, stop_block=cfg.lsh_stop_block,
                hot_salts=cfg.lsh_hot_salts, dedup=False,
            ).localCheckpoint()
            sp.counts["lsh.pairs"] = lsh.count()
        with tr.span("compact"):
            cmp = compact_key_pairs(
                surfaces, max_block=cfg.compact_max_block, registry=registry, dedup=False,
            ).localCheckpoint()
            sp.counts["compact.pairs"] = cmp.count()
        with tr.span("prefilter"):
            kept = prefilter_pairs(lsh.unionByName(cmp)).localCheckpoint()
            sp.counts["prefilter.pairs"] = kept.count()
        with tr.span("dedup"):
            pairs = kept.dropDuplicates(["key_a", "key_b"]).localCheckpoint()
            sp.counts["pairs"] = pairs.count()
        for df in registry:
            df.unpersist()
        registry.clear()
    with tr.span("scoring") as sp:
        scored = score_pairs(pairs, cfg, registry=registry)
        edges = scored.where(F.col("cos") >= cfg.cos_threshold).select(
            "key_a", "key_b", "jw", "cos").localCheckpoint()
        n_edges = sp.counts["edges"] = edges.count()
    jw_pass, emb = registry
    held.extend(registry)
    with tr.span("cc") as sp:
        cc_stats: dict = {}
        comp = connected_components(
            edges, "key_a", "key_b", driver_max_edges=cfg.cc_driver_max_edges,
            stats=cc_stats, n_edges=n_edges,
        ).localCheckpoint()
        sp.counts.update(
            rows_out=comp.count(), iterations=cc_stats.get("iterations", 0),
            distributed=int(cc_stats.get("path") == "distributed"))
    with tr.span("pipeline.clusters") as sp:
        aux = comp.join(incident_link_scores(edges), "key", "left")
        clusters = (
            mentions.join(aux, "key", "left")
            .withColumn("cluster_id", F.coalesce(F.col("component"), F.col("key")))
            .withColumn("exact_key", F.col("link_score").isNull())
            .withColumn("link_score", F.coalesce(F.col("link_score"), F.lit(1.0)))
            .drop("component")
        )
        public_projection(clusters).write.format("noop").mode("overwrite").save()
    with tr.span("trace.counts") as sp:
        sp.counts.update(jw_pass=jw_pass.count(), encode_keys=emb.count())
    return Staged(clusters, held)


def traced_checkpointed(wl, tr: trace.Tracer) -> dict:
    """The checkpointed unit with spans around each checkpoint stage, the
    output write and the resume call."""
    from pelinker_spark.checkpoint import CheckpointManager
    from pelinker_spark.pipeline import link_pipeline

    orig = CheckpointManager.stage

    def stage(self, name, build):
        with tr.span(STAGE_LAYER.get(name, name)):
            return orig(self, name, build)

    d = os.path.join(wl.work, "ck-traced")
    ckpt, out1, out2 = f"{d}/ckpt", f"{d}/out", f"{d}/out_resumed"
    CheckpointManager.stage = stage
    try:
        res = link_pipeline(wl.spark, wl.pages, cfg=wl.cfg, checkpoint_dir=ckpt)
        with tr.span("sinks"):
            res.public_view().write.mode("overwrite").parquet(out1)
        with tr.span("checkpoint") as sp:
            res2 = link_pipeline(wl.spark, wl.pages, cfg=wl.cfg, checkpoint_dir=ckpt)
            res2.public_view().write.mode("overwrite").parquet(out2)
    finally:
        CheckpointManager.stage = orig
    return {"dir": d, "ckpt": ckpt, "out": out1, "resumed": out2, "resume_s": sp.wall}


def _checkpoint_figures(wl, out) -> dict:
    """Stage row counts from CheckpointManager.metrics() and bytes
    written per stage, read after the unit."""
    from pyspark.sql import functions as F

    from pelinker_spark.checkpoint import CheckpointManager

    mgr = CheckpointManager(wl.spark, out["ckpt"], wl.cfg.as_dict(), input_df=wl.pages)
    m = mgr.metrics()
    rows = {r["stage"]: r["n"] for r in m.groupBy("stage").agg(F.sum("n_rows").alias("n")).collect()}
    fig = {"checkpoint.metrics_rows": m.count(),
           "sinks.written_mb": inputs.dir_stats(out["out"])[0]}
    for stage in (*STAGE_LAYER, "_metrics"):
        fig[f"checkpoint.{stage}.written_mb"] = inputs.dir_stats(os.path.join(out["ckpt"], stage))[0]
    for stage, layer in STAGE_LAYER.items():
        fig[f"{layer}.rows_out"] = rows.get(stage, 0)
    fig["blocking.pairs"] = rows.get("pairs", 0)
    fig["scoring.edges"] = rows.get("edges", 0)
    return fig


# ------------------------------------------------------- extra phases


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Micro-batch durations of the ingest and scoring queries."""

        def __init__(self):
            self.batches: list[tuple[str, float]] = []
            self.terminated = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            src = p.sources[0].description if p.sources else ""
            kind = "score" if "/mentions" in src else "ingest"
            self.batches.append((kind, p.durationMs.get("triggerExecution", 0) / 1000.0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    return Progress()


def streaming_phase(wl, tr: trace.Tracer) -> tuple[dict, dict]:
    """Feed one seeded corpus, split by page id into STREAM_DROPS drops,
    to run_incremental_link one drop at a time (availableNow), with state
    compaction every COMPACT_EVERY micro-batches, then finalize. Returns
    (figures, checks)."""
    from pyspark.sql import functions as F

    from pelinker_spark import streaming

    spark, base = wl.spark, os.path.join(wl.work, "stream")
    corpus, pages_dir = f"{base}/corpus", f"{base}/landing"
    out, ck = f"{base}/state", f"{base}/streamckpt"
    page_id = F.regexp_extract(F.col("url"), r"/p/(\d+)$", 1).cast("long")
    inputs.write_pages(spark, f"{base}/pages", STREAM_PAGES, wl.seed).withColumn(
        "drop", (page_id * STREAM_DROPS / STREAM_PAGES).cast("int")
    ).write.partitionBy("drop").parquet(corpus)

    listener = _progress_listener()
    spark.streams.addListener(listener)
    orig = streaming.compact_incremental_state
    compactions: list[float] = []

    def compact(*args, **kwargs):
        with tr.span("compact") as sp:
            r = orig(*args, **kwargs)
        compactions.append(sp.wall)
        return r

    streaming.compact_incremental_state = compact
    lat = []
    try:
        for d in range(STREAM_DROPS):
            spark.read.parquet(f"{corpus}/drop={d}").coalesce(1).write.mode(
                "append").parquet(pages_dir)
            with tr.span("streaming") as sp:
                streaming.run_incremental_link(
                    spark, pages_dir, out, ck, cfg=wl.cfg, compact_every=COMPACT_EVERY)
            lat.append(sp.wall)
        state_mb, state_files = inputs.dir_stats(out)
        rewritten = sum(
            inputs.dir_stats(os.path.join(out, t, "batch_id=-1"))[0]
            for t in os.listdir(out) if os.path.isdir(os.path.join(out, t))
        )
        with tr.span("streaming") as sp:
            clusters = streaming.finalize_incremental_link(spark, out).persist()
            clusters.write.format("noop").mode("overwrite").save()
        finalize_s = sp.wall
    finally:
        streaming.compact_incremental_state = orig
        deadline = time.monotonic() + 10
        while listener.terminated < 2 * STREAM_DROPS and time.monotonic() < deadline:
            time.sleep(0.1)
        spark.streams.removeListener(listener)
    f1 = inputs.pairwise_f1(spark, clusters, STREAM_PAGES, wl.seed)
    n_edges = spark.read.parquet(f"{out}/edges").count()
    clusters.unpersist()

    def med(kind):
        xs = [s for k, s in listener.batches if k == kind]
        return statistics.median(xs) if xs else 0.0

    fig = {
        "streaming.drop_latency_s": statistics.median(lat),
        "streaming.drop_max_s": max(lat),
        "streaming.drop_growth": lat[-1] / lat[0],
        "streaming.ingest.batch_s": med("ingest"),
        "streaming.score.batch_s": med("score"),
        "streaming.compact.wall_s": sum(compactions),
        "streaming.compact.rewritten_mb": rewritten,
        "streaming.state_mb": state_mb,
        "streaming.state_files": state_files,
        "streaming.edges_per_drop": n_edges / STREAM_DROPS,
        "streaming.finalize_s": finalize_s,
        "streaming.pairwise_f1": f1,
    }
    checks = {"streaming.pairwise_f1>=0.99": f1 >= 0.99,
              "streaming.compacted": len(compactions) == STREAM_DROPS // COMPACT_EVERY}
    return fig, checks


def value_hash(df) -> str:
    """Order-insensitive hash of a pandas frame's values, the rule of
    tools/check_oracle.py."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(repr)
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def operator_phase(wl, tr: trace.Tracer) -> tuple[dict, dict]:
    """The HEADLINE queries on the fixed sf0.01 tables (the seed does not
    apply): an untimed pass compares each result with its DuckDB oracle
    (and warms the query), then a timed pass runs each query to a noop
    sink inside its span."""
    from pelinker_spark.operators.relational import ORACLES, QUERIES, TABLES

    spark, sf = wl.spark, SF_DIR
    fig, checks = {}, {}
    try:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"create view {t} as select * from read_parquet('{sf}/{t}.parquet')")
    except Exception as e:  # no oracle engine: every oracle check fails
        print(f"duckdb unavailable: {e!r}")
        con = None
    for q in HEADLINE:
        sdf = QUERIES[q](spark, sf).toPandas()
        fig[f"operators.relational.{q}.rows_out"] = len(sdf)
        ok = False
        if con is not None:
            odf = con.sql(ORACLES[q]).df()
            ok = (len(sdf) == len(odf) and sorted(sdf.columns) == sorted(odf.columns)
                  and value_hash(sdf) == value_hash(odf))
        checks[f"oracle.{q}"] = ok
    with tr.span("operators.relational"):
        for q in HEADLINE:
            with tr.span(q) as sp:
                QUERIES[q](spark, sf).write.format("noop").mode("overwrite").save()
            fig[f"operators.relational.{q}.wall_s"] = sp.wall
    return fig, checks


# ------------------------------------------------------- the run


def unit_layers(tr: trace.Tracer, jobs) -> dict:
    """Per-layer figures of one traced unit or phase: span walls and
    counts plus the event-log totals of each top-level layer."""
    out: dict = {}
    totals = trace.layer_totals(tr.spans, jobs, time_matched=TIME_MATCHED)
    for layer, t in totals.items():
        if layer in ("streaming", "operators.relational", "checkpoint"):
            t = {k: v for k, v in t.items() if k in LAYER_STATS}
        for k in ("wall_s", *LAYER_STATS):
            if k in t:
                out[f"{layer}.{k}"] = t[k]
    for sp in tr.spans:
        if sp.parent is None:
            for k, v in sp.counts.items():
                out[f"{sp.layer}.{k}"] = v
    return out


def derived(fig: dict) -> dict:
    """Ratios of the staged batch unit's counts."""
    g = fig.get
    raw = g("blocking.lsh.pairs", 0) + g("blocking.compact.pairs", 0)
    jw_pass = g("trace.counts.jw_pass", 0)
    return {
        "mentions.per_page": _ratio(g("mentions.rows_out", 0), g("extract.rows_out", 0)),
        "pipeline.surfaces.share": _ratio(g("pipeline.surfaces.rows_out", 0),
                                          g("mentions.rows_out", 0)),
        "blocking.prefilter.pass_rate": _ratio(g("blocking.prefilter.pairs", 0), raw),
        "blocking.useful": _ratio(g("blocking.pairs", 0), raw),
        "scoring.jw.rows_in": g("blocking.pairs", 0),
        "scoring.jw.pass_rate": _ratio(jw_pass, g("blocking.pairs", 0)),
        "scoring.encode.keys": g("trace.counts.encode_keys", 0),
        "scoring.cos.pass_rate": _ratio(g("scoring.edges", 0), jw_pass),
        "cc.edges_in": g("scoring.edges", 0),
    }


def run(eng, wl, seconds: int) -> dict:
    """One traced run of a workload; stops the engine to read the event
    log. `seconds` does not apply: the unit sequence is fixed."""
    tracers: dict[str, trace.Tracer] = {}
    sc = eng.spark.sparkContext

    def traced_unit(i):
        tr = tracers["unit"] = trace.Tracer(sc)
        if wl.name == "batch_link":
            return staged_batch(wl, tr)
        return traced_checkpointed(wl, tr)

    wl.traced_unit = traced_unit
    units, last = harness.run_units(eng, wl, 2, kinds=("traced", "warm"))
    fig, n_checks, failed_checks = harness.run_checks(wl.check, last.get("warm"))
    tfig, tn, tfailed = harness.run_checks(
        lambda out: _traced_checks(wl, out, last["warm"]), last.get("traced"))
    n_checks += tn
    failed_checks += tfailed

    phase = tracers["phase"] = trace.Tracer(sc)
    try:
        pfig, pchecks = (streaming_phase if wl.name == "batch_link" else operator_phase)(wl, phase)
    except Exception:
        traceback.print_exc()
        pfig, pchecks = {}, {"phase_raised": False}
    n_checks += len(pchecks)
    failed_checks += [k for k, ok in pchecks.items() if not ok]
    wl.release(last.get("warm"))
    wl.release(last.get("traced"))
    eng.stop()

    log = eng.event_log_path()
    jobs = trace.read_event_log(log) if log else []
    traced_u = next(u for u in units if u.kind == "traced")
    plain = [u.wall_s for u in units if u.kind == "warm"]
    # a traced unit fails on failed tasks in the event log, not the tracker
    traced_u.failed_tasks = sum(
        j.failed_tasks for j in jobs if traced_u.start <= j.start <= traced_u.end)
    values: dict = {}
    if "unit" in tracers:
        values.update(unit_layers(tracers["unit"], jobs))
        spans = tracers["unit"].spans
        top = sum(s.wall for s in spans if s.parent is None)
        values.update({
            "trace.unit_s": traced_u.wall_s,
            "trace.plain_unit_s": statistics.median(plain),
            "trace.overhead_s": traced_u.wall_s - statistics.median(plain),
            "trace.unattributed_s": traced_u.wall_s - top,
        })
    values.update(tfig)
    values.update(unit_layers(phase, jobs))
    values.update(pfig)
    if wl.name == "batch_link":
        values.update(derived(values))
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in METRICS.items()}
    acct = harness.accounting(units, n_checks, failed_checks)
    detail = {
        "units": [vars(u) for u in units],
        "spans": [{**vars(s), "self_s": st} for tr in tracers.values()
                  for s, st in zip(tr.spans, trace.self_times(tr.spans))],
        "jobs": len(jobs),
        "figures": {k: v for k, v in values.items() if k not in METRICS},
        "failed_checks": failed_checks,
        "failed_share": acct.pop("failed_share"),
        "run_s": stats.summary(plain),
    }
    return {**acct, "metrics": metrics, "detail": detail}


def _traced_checks(wl, out, plain_out) -> dict:
    """The traced unit's output equals the plain unit's (row count and
    digest) and passes the workload's own checks."""
    same = inputs.frame_digest(wl.output_frame(out)) == inputs.frame_digest(
        wl.output_frame(plain_out))
    res = wl.check(out)
    if wl.name == "batch_link":
        fig = {"staged_pairwise_f1": res["pairwise_f1"]}
    else:
        fig = _checkpoint_figures(wl, out)
        fig["checkpoint.resume_s"] = out["resume_s"]
    fig["checks"] = {f"traced_{k}": v for k, v in res["checks"].items()}
    fig["checks"]["traced_output_equals_plain"] = same
    return fig
