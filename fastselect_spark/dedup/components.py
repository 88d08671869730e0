"""Connected components over the near-duplicate pair graph — the
duplicate-CLUSTERING step of a dedup pipeline: pairs (from exact/Jaccard/
MinHash/SimHash/embedding candidates) are grouped into components and each
component gets a canonical representative (min id), so "keep one copy per
duplicate cluster" is a single join away.

Algorithm: min-label propagation — every node starts labeled with itself;
each round a node adopts the minimum label among itself and its neighbors
(one join + one min-aggregation per round, all Catalyst ops). Converges in
O(component diameter) rounds; near-dup clusters are small-diameter by
construction (a pair list, not a web graph), so this is typically 3-5
rounds. Convergence is detected by counting CHANGED labels in the same
pass that computes them (a boolean-sum agg per round) — id-type-agnostic
(works for string doc ids) and ANSI-safe (no raw id summation, which
overflows a long for large id domains).

If ``max_iter`` rounds pass without a fixpoint (long near-dup CHAINS —
boilerplate-heavy corpora can produce paths of diameter ≫ 25), the call
automatically FALLS BACK to :func:`connected_components_star` — the
large-star/small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14): alternate two edge-rewrite rounds, each
one groupBy + one join over the edge list, until the graph is a disjoint
union of min-rooted stars. Round count is O(log² n) regardless of
diameter, so a 500-node chain costs ~10 rounds instead of 500.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastselect_spark.runtime import gates


def _components_driver(
    pairs: DataFrame, id_a: str, id_b: str
) -> DataFrame:
    """(doc_id, comp) via driver-side union-find over the collected pair
    list — bit-identical to min-label propagation's fixpoint (comp = min
    id reachable through the pair graph) by construction. Arrow transfer
    both ways; only called within the components gate budget."""
    from pyspark.sql import types as T

    pdf = pairs.select(id_a, id_b).toPandas()
    parent: dict = {}

    def find(x):
        root = x
        while True:
            p = parent.get(root)
            if p is None or p == root:
                break
            root = p
        while x != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf[id_a].tolist(), pdf[id_b].tolist()):
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        # the smaller id becomes the root, so the root IS the component label
        if ra < rb:
            parent[rb] = ra
        else:
            parent[ra] = rb

    nodes = set(pdf[id_a].tolist()) | set(pdf[id_b].tolist())
    out = [(n, find(n)) for n in nodes]
    id_type = pairs.schema[id_a].dataType
    schema = T.StructType(
        [T.StructField("doc_id", id_type), T.StructField("comp", id_type)]
    )
    spark = pairs.sparkSession
    if not out:
        return spark.createDataFrame([], schema=schema)
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(out, columns=["doc_id", "comp"]), schema=schema
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 60,
) -> DataFrame:
    """(doc_id, comp) via alternating large-star/small-star edge rewrites
    (Kiveris et al., SoCC'14) — the diameter-independent path for long
    near-dup chains. Each round is two groupBy+join passes over the edge
    list; the graph converges to min-rooted stars in O(log² n) rounds.

    large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u});
    small-star(u): connect every neighbor v < u (and u itself) to the
    minimum of those. Convergence = the round rewrote the edge set to
    itself (exceptAll-empty check, id-type-agnostic and ANSI-safe).

    Each round's edge set is eagerly localCheckpoint'd: a star round
    references its input 4+ times, so carrying lazy lineage across rounds
    multiplies the logical plan per round — by round ~8 merely EXPLAINING
    the plan overflows the JVM heap (measured). Truncation keeps every
    round's plan two joins deep regardless of round count."""
    fwd = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).where(
        F.col(id_a) != F.col(id_b)
    )
    nodes = (
        fwd.select(F.col("u").alias("node"))
        .unionByName(fwd.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_rounds):
        # large-star: for each u, m = min over neighborhood incl. u;
        # rewire every larger neighbor to m
        g = (
            edges.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        ls = (
            edges.join(g, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        ls = (
            ls.unionByName(ls.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        # small-star: for each u, m = min of its SMALLER neighbors; rewire
        # them and u itself to m
        sm = ls.where(F.col("v") < F.col("u"))
        g2 = sm.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            sm.join(g2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(g2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
        )
        new = (
            ss.unionByName(ss.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        changed = not (
            new.exceptAll(edges).isEmpty() and edges.exceptAll(new).isEmpty()
        )
        edges = new
        if not changed:
            converged = True
            break
    if not converged:  # pragma: no cover — O(log² n) bound makes this unreachable
        warnings.warn(
            f"connected_components_star did not converge in {max_rounds} rounds",
            UserWarning,
        )
    # stars rooted at minima: every non-root has an edge to a smaller node
    labels = edges.where(F.col("v") < F.col("u")).groupBy("u").agg(
        F.min("v").alias("comp")
    )
    return (
        nodes.join(labels, nodes["node"] == labels["u"], "left")
        .select("node", F.coalesce(F.col("comp"), F.col("node")).alias("comp"))
        .select(F.col("node").alias("doc_id"), "comp")
        .localCheckpoint()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    star_fallback: bool = True,
) -> DataFrame:
    """(doc_id, component) for every node in ``pairs``; component = min id
    reachable through the pair graph. If max_iter rounds of min-label
    propagation don't reach the fixpoint (component diameter > max_iter),
    falls back to the diameter-independent large-star/small-star algorithm
    (:func:`connected_components_star`) — or warns and returns the
    partial labels when ``star_fallback=False``.

    Small graphs (the normal case: verified near-dup pair lists are
    bounded candidates, not the corpus) skip the per-round join jobs
    entirely and run union-find on the driver — same (doc_id,
    min-reachable-id) result, one collect instead of O(diameter) Spark
    jobs."""
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).persist()
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    # the exact count also fills the edge cache the distributed loop reads,
    # and fwd's: union-find is direction-agnostic, so the driver collects
    # the forward pairs only without re-running pairs' plan
    if gates.use_driver(edges, "components", rows=edges.count()):
        out = _components_driver(fwd, "src", "dst")
        edges.unpersist()
        fwd.unpersist()
        return out
    fwd.unpersist()
    # per-round labels are eagerly localCheckpoint'd: persist alone leaves
    # the logical plan compounding ~2x per round (a full 25-round run OOMs
    # the JVM just EXPLAINING round 25's plan — measured); truncation keeps
    # every round's plan one join deep
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new = (
            labels.join(nbr, labels["node"] == nbr["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
                (
                    F.coalesce(F.col("nbr_comp"), F.col("comp")) < F.col("comp")
                ).cast("long").alias("__changed"),
            )
            .localCheckpoint()
        )
        n_changed = new.agg(F.sum("__changed")).collect()[0][0]
        labels = new.select("node", "comp")
        if not n_changed:
            converged = True
            break
    edges.unpersist()
    if not converged:
        if star_fallback:
            warnings.warn(
                f"connected_components hit max_iter={max_iter} before the "
                "fixpoint (long-chain graph); falling back to the "
                "large-star/small-star algorithm.",
                UserWarning,
            )
            return connected_components_star(pairs, id_a, id_b)
        warnings.warn(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds; labels may be partially propagated "
            "(split clusters). Increase max_iter or use "
            "connected_components_star for long-chain graphs.",
            UserWarning,
        )
    # labels is already checkpointed — the projection's plan is one node
    return labels.select(F.col("node").alias("doc_id"), "comp")


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(component, keep_id, n_members) per duplicate cluster — keep_id is
    the canonical (minimum-id) member, matching exact dedup's survivor
    rule."""
    comp = connected_components(pairs, id_a, id_b)
    return comp.groupBy("comp").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_members"),
    )
