"""Transitive clustering: connected components with adaptive execution.

Replaces the reference's two clustering mechanisms with one scalable
primitive (per the north rule): the union-find overlap dedup
(pelinker/model.py:1156-1195) and the HDBSCAN cluster-membership stage
(clustering_fit.py:117-143) both become connected components over a scored
edge table.

Component identity: the lexicographically smallest member key — stable,
partitioning-independent, identical across both execution paths.

Two physical strategies, chosen by edge count (the planner-style decision a
real engine makes):

- **Driver union-find** for small edge sets (the common case after
  blocking+scoring collapse the graph to near-duplicate links): collecting
  a few hundred thousand edges and running path-compressed union-find is
  orders of magnitude cheaper than distributed iterations.
- **Distributed hash-min + pointer doubling** for edge sets that don't
  fit a driver: each round every node takes the min component key over
  itself and its neighbors (hash-min propagate), then relabels through
  the label table itself (comp[k] ← comp[comp[k]], pointer doubling) —
  the path-compression trick from the MapReduce-CC literature
  (large-star/small-star family), giving O(log diameter) rounds instead
  of plain hash-min's O(diameter). Two shuffles per round on the node
  key; stop at fixpoint. Each round's labels are a localCheckpoint leaf
  whose materializing job also counts the changed labels (an observed
  metric, SURVEY.md §4); the superseded leaf is released at once, so the
  call leaves only the returned leaf, which the caller frees with
  pipeline.release().
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

DRIVER_MAX_EDGES = 1_000_000


def _driver_union_find_np(ka, kb):
    """Vectorized driver union-find over numpy string arrays.

    Sits on the serial driver path of every link run, so its wall-clock
    adds directly to the run: string keys are mapped to SORTED integer
    codes (np.unique + searchsorted — code order == lexicographic order,
    so min code == min key and union-by-min keeps every root at its set's
    minimum), the union loop runs over plain int lists with path halving
    (no per-edge string hashing), and the final relabel is a vectorized
    parent[parent] fixpoint (O(log depth) full-array passes) instead of a
    per-key find loop. Returns a pandas DataFrame (key, component)
    covering exactly the keys that appear in edges, component being the
    lexicographically smallest member key."""
    import numpy as np
    import pandas as pd

    keys = np.unique(np.concatenate([ka, kb]))  # sorted
    a = np.searchsorted(keys, ka).tolist()
    b = np.searchsorted(keys, kb).tolist()
    parent = list(range(len(keys)))
    for x, y in zip(a, b):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        while parent[y] != y:
            parent[y] = parent[parent[y]]
            y = parent[y]
        if x != y:
            if x < y:
                parent[y] = x
            else:
                parent[x] = y
    p = np.asarray(parent, dtype=np.int64)
    while True:
        p2 = p[p]
        if np.array_equal(p2, p):
            break
        p = p2
    return pd.DataFrame({"key": keys, "component": keys[p]})


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_max_edges: int = DRIVER_MAX_EDGES,
    stats: dict | None = None,
    n_edges: int | None = None,
) -> DataFrame:
    """edges(src, dst) [string keys] → (key, component) where component is
    the lexicographically smallest member key. Deterministic: depends only
    on the edge set, never on partitioning. When `stats` is given it is
    filled with {"path": driver|distributed, "iterations": n} for
    observability (bench receipts). Callers that already know the exact
    edge count (link_pipeline materializes edges with a count() barrier
    right before calling) pass it as `n_edges` so the strategy probe costs
    no extra job. The distributed path returns a localCheckpoint leaf: the
    caller frees it with pipeline.release() when done with the labels."""
    spark = edges.sparkSession
    # Strategy probe in two steps (VERDICT r4 #5): a count-only probe of
    # at most driver_max_edges+1 rows decides the path — when the edge
    # set exceeds the cutoff this materializes NOTHING on the driver (the
    # old fetch-first probe pulled ~cutoff rows of Arrow string data just
    # to discard them). Only a confirmed-small edge set is then fetched;
    # toPandas rides the Arrow exchange (columnar batches), several times
    # faster than a pickled Row collect at the 10^5-edge scale this path
    # serves. Call sites cache `edges` before probing (pipeline.py), so
    # the second action re-reads the cached table, not the lineage.
    probe = None
    if driver_max_edges > 0:
        probe_n = (
            n_edges
            if n_edges is not None
            else edges.select(src, dst).limit(driver_max_edges + 1).count()
        )
        if probe_n <= driver_max_edges:
            probe = edges.select(src, dst).toPandas()
    if probe is not None and len(probe) <= driver_max_edges:
        if stats is not None:
            stats.update(path="driver", iterations=0)
        schema = T.StructType(
            [
                T.StructField("key", T.StringType(), False),
                T.StructField("component", T.StringType(), False),
            ]
        )
        if len(probe):
            out = _driver_union_find_np(
                probe[src].to_numpy(), probe[dst].to_numpy()
            )
            # Arrow path back to the JVM for the same reason as the fetch
            return spark.createDataFrame(out, schema)
        return spark.createDataFrame([], schema)

    from .pipeline import release

    # pre-shuffle the (constant) symmetric edge table once on the probe key
    # so the per-iteration join only shuffles the (shrinking-churn) label
    # table — the edge side's exchange is reused from the cache
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .dropDuplicates(["a", "b"])
        .repartition("b")
        .persist()
    )
    sym.count()

    comp = (
        sym.select(F.col("a").alias("key"))
        .distinct()
        .withColumn("component", F.col("key"))
        .localCheckpoint()
    )

    n_changed = -1  # max_iter < 1 must hit the unconverged branch, not NameError
    n_rounds = 0
    for _ in range(max_iter):
        n_rounds += 1
        # step 1 — hash-min propagate: every node takes the min label over
        # itself and its neighbors (one hop per round)
        nbr_min = (
            sym.join(comp.withColumnRenamed("key", "b2"), sym.b == F.col("b2"))
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        prop = comp.join(nbr_min, comp.key == nbr_min.a, "left").select(
            "key",
            F.col("component").alias("old_component"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )
        # step 2 — pointer doubling: relabel through the label table itself
        # (comp[k] ← comp[comp[k]]). Labels are always node keys and
        # monotonically ≤ their node, so the hop is sound; composing it
        # with step 1 contracts label chains geometrically — O(log d)
        # rounds for diameter d instead of hash-min's O(d). At a fixpoint
        # both steps are identity, so the convergence test is unchanged.
        # prop feeds BOTH sides of the self-join below; without a persist
        # the propagate join+agg subtree executes twice per round (its
        # two parents join on different keys, so no exchange is reusable).
        prop = prop.persist(StorageLevel.MEMORY_AND_DISK)
        lut = prop.select(
            F.col("key").alias("c_key"), F.col("component").alias("c_comp")
        )
        changed = Observation()
        new_comp = (
            prop.join(lut, prop.component == lut.c_key, "left")
            .select(
                "key",
                F.coalesce(F.col("c_comp"), F.col("component")).alias(
                    "component"
                ),
                "old_component",
            )
            .observe(
                changed,
                F.count_if(F.col("component") < F.col("old_component")).alias("n"),
            )
            .drop("old_component")
        )
        # the eager localCheckpoint materializes the iteration (truncating
        # lineage) and its observed metric measures convergence in the
        # same job; the returned leaf is the bare (key, component) table
        new_comp = new_comp.localCheckpoint()
        n_changed = changed.get["n"]
        prop.unpersist()  # new_comp is materialized; the round's scratch can go
        release([comp])  # a superseded leaf is read by nothing
        comp = new_comp
        if n_changed == 0:
            break
    else:
        # Unconverged components would silently split clusters; refuse to
        # return wrong labels.
        sym.unpersist()
        release([comp])
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({n_changed} labels still changing); "
            "raise max_iter for high-diameter graphs"
        )

    if stats is not None:
        stats.update(path="distributed", iterations=n_rounds)
    sym.unpersist()
    return comp
