"""Connected components via iterative DataFrame joins (G4 / canonicalization).

Large-star/small-star-style alternation collapsed into min-label
propagation: each iteration joins the current labels across edges and takes
the component-min per node; ``localCheckpoint`` every iteration truncates
lineage so plans stay bounded (the classic iterative-join pitfall). Entity
name-variant clusters have tiny diameters, so convergence is fast; the
iteration cap guards skewed pathological graphs.

Reference analogue: ``Workflow.find_connected_components`` frontier
expansion (/root/reference/biocypher/_workflow.py:446-482) — single-process,
depth-limited; this version is the distributed, exact equivalent needed for
canonicalization at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..materialize import materialize
from ..model import local_frame


def connected_components_local(edge_list: list[tuple]) -> dict:
    """Union-find over a collected edge list; component = min member.

    Used as the fast path when the node domain is small (e.g. distinct
    mention surfaces after blocking): a driver-side union-find beats ~15
    tiny Spark stages of iterative joins by two orders of magnitude.
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra <= rb else (rb, ra)
            parent[hi] = lo
    return {node: find(node) for node in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Return (node, component) with component = min node id in the cluster.

    ``edges`` may be directed; treated as undirected. Isolated nodes should
    be unioned in by the caller as self-loops if they must appear.

    Below ``driver_threshold`` RAW edge rows the graph is collected and
    resolved with the union-find fast path — ONE limited collect of the
    caller's edge plan (union-find is direction-insensitive and dedups
    inherently, so no symmetrize/distinct pass runs first and the caller's
    edge derivation — e.g. the near-dup verify join — is evaluated exactly
    once; the pre-round-6 shape evaluated it twice through the
    symmetrization union and paid a distinct shuffle plus a pin job before
    the collect). The bound is on raw rows, so collected driver rows stay
    <= driver_threshold exactly as before. Set 0 to force the distributed
    pointer-jumping propagation.
    """
    # pin the projected edge list FIRST, at full parallelism: a bare
    # limit().collect() on the lazy plan would make CollectLimit drive the
    # caller's (expensive) final stage in sequential scale-up waves of
    # 1/4/16... partitions (measured 9.8 s vs 5.5 s warm for the 1.5M-doc
    # near-dup verify at 8 cores, and it is the worst 2-vs-8-core scaler
    # of the hygiene pipeline at 1.98x). The pin also means both arms of
    # the distributed path's symmetrization union read the evaluated
    # blocks instead of re-running the edge derivation.
    e = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
            F.col("a").isNotNull() & F.col("b").isNotNull()
        )
    )
    if driver_threshold:
        head = e.limit(driver_threshold).collect()
        if len(head) < driver_threshold:
            comp = connected_components_local([(r["a"], r["b"]) for r in head])
            node_type = e.schema["a"].dataType
            schema = T.StructType([T.StructField("node", node_type), T.StructField("comp", node_type)])
            return local_frame(edges.sparkSession, sorted(comp.items()), schema)
    # distributed path: pin the deduped symmetric edge list the iterations scan
    sym = materialize(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )

    labels = materialize(
        sym.select(F.col("a").alias("node"), F.col("b"))
        .groupBy("node")
        .agg(F.min("b").alias("comp"))
        .select("node", F.least("comp", "node").alias("comp"))
    )

    changed = 1
    for _ in range(max_iter):
        # propagate: candidate comp for each node = min over neighbours' comps
        nbr = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .select(F.col("a").alias("node"), "comp")
            .groupBy("node")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias("comp"),
        )
        # pointer-jump (label-of-label shortcut): comp <- label(comp). Combined
        # with the neighbour step this doubles the propagation horizon each
        # iteration, so convergence is O(log diameter) instead of O(diameter)
        # — a 25-iteration cap covers diameters up to ~2^25.
        jump = stepped.select(F.col("node").alias("comp"), F.col("comp").alias("_comp2"))
        new_labels = materialize(
            stepped.join(jump, "comp", "left")
            .select("node", F.least(F.col("comp"), F.coalesce(F.col("_comp2"), F.col("comp"))).alias("comp"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "iterations; raise max_iter (the propagation horizon doubles per "
            "iteration, so this indicates a pathological graph)"
        )
    return labels.select("node", "comp")
