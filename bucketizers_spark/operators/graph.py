"""Distributed connected components — the clustering step a dedup
pipeline runs over its near-duplicate PAIRS to pick one canonical
document per duplicate group (pairs alone under-delete: if A~B and B~C
but A!~C, keeping "one of each pair" keeps two of {A,B,C}).

Algorithm: iterative min-label propagation. Every node starts labeled
with itself; each round every node takes the minimum label among itself
and its neighbors; stop when a round changes nothing. Converges in
O(diameter) rounds — near-dup clusters are dense and shallow (diameter
is typically 2-4 even for million-doc clusters), so the round count is
small and INDEPENDENT of total data size.

Scale shape (the part that must survive 100 TB):
- each round is one equijoin of the label frame against the edge list on
  node id plus one groupBy(node).min(label) — both shuffle on node id,
  both AQE-skew-splittable; nothing is collected except the single
  `changed` count that decides termination.
- the label frame is localCheckpoint()ed per round: iterative plans
  otherwise grow lineage linearly and re-execute the whole history each
  round (the classic iterative-Spark trap).
- `max_rounds` is a safety valve, not a tuning knob: a pathological
  path-graph component of length > max_rounds would come out split, so
  the valve raises by default rather than silently under-merging.

For graphs with giant high-degree components or LONG PATHS the
label-propagation round count (O(diameter)) is the bottleneck;
``connected_components_star`` implements the alternating
large-star/small-star algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14): each iteration rewires edges toward
local minima, collapsing components into stars in O(log n) iterations
INDEPENDENT of diameter, and the rewiring halves hot-node fan-in as it
goes. Near-dup graphs (bounded doc multiplicity → bounded degree,
shallow diameter) don't need it — dedup_cluster keeps the simpler
min-label form — but a 100 TB similarity graph with chained clusters
or celebrity nodes swaps in the star form at this seam (same contract,
same output schema; pytest pins them equal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bucketizers_spark.operators.core import arrow_frame
from bucketizers_spark.plans.materialize import cut_lineage, cut_lineage_counted


#: Below this many distinct undirected edges the min-label rounds cost
#: more in per-job scheduling latency than the data is worth: a driver
#: union-find over the (bounded by this gate) collected edge list is
#: exact and removes O(diameter) join+agg+count jobs — the same hybrid
#: as operators/rank.SINGLE_TASK_THRESHOLD. The distributed rounds stay
#: the path for anything larger.
SMALL_GRAPH_THRESHOLD = 2_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_rounds: int = 25,
    strict: bool = True,
    small_graph_threshold: int | None = None,
) -> DataFrame:
    """Return (node, component) where component is the minimum node id
    reachable from ``node`` over the undirected ``edges``.

    ``nodes`` (optional) adds isolated vertices — each comes out as its
    own singleton component. Node ids must be orderable (int or string).
    ``strict=True`` raises if ``max_rounds`` passes without a fixpoint
    (an unconverged result silently under-merges clusters)."""
    # materialize the caller's edge plan ONCE before mirroring it: the
    # union's two branches would otherwise re-execute a possibly huge
    # upstream pipeline (dedup_cluster feeds the whole band-join +
    # jaccard rescore here) twice
    e0 = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).transform(cut_lineage)
    # the cut's own job counts the edges for the small-graph gate
    und, n_edges = cut_lineage_counted(
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    if small_graph_threshold is None:
        small_graph_threshold = SMALL_GRAPH_THRESHOLD
    if small_graph_threshold and n_edges <= small_graph_threshold:
        # r7 small-graph fast path: the edge list is bounded by the gate
        # just checked, so a driver union-find is exact and replaces the
        # per-round join + groupBy + convergence-count jobs whose fixed
        # scheduling latency dominates tiny graphs. Component label =
        # min node id, identical to the fixpoint of the rounds below.
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in und.collect():
            a, b = row["a"], row["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for n in parent:
            r = find(n)
            m = comp_min.get(r)
            if m is None or n < m:
                comp_min[r] = n
        node_type = und.schema["a"].dataType
        schema = T.StructType(
            [T.StructField(c, node_type) for c in (node_col, "component")]
        )
        labels = arrow_frame(
            edges.sparkSession,
            schema,
            [list(parent), [comp_min[find(n)] for n in parent]],
        )
        if nodes is not None:
            iso = nodes.select(F.col(node_col)).distinct().join(
                labels.select(node_col), node_col, "left_anti"
            )
            labels = labels.union(
                iso.withColumn("component", F.col(node_col))
            )
        return labels
    labels = (
        und.select(F.col("a").alias(node_col))
        .union(und.select(F.col("b").alias(node_col)))
        .distinct()
        .withColumn("component", F.col(node_col))
        .transform(cut_lineage)
    )
    for _ in range(max_rounds):
        # neighbor labels: edge (a,b) proposes b's current label to a
        proposed = (
            und.join(
                labels.select(
                    F.col(node_col).alias("b"), F.col("component").alias("_nl")
                ),
                "b",
            )
            .select(F.col("a").alias(node_col), F.col("_nl"))
            .groupBy(node_col)
            .agg(F.min("_nl").alias("_nmin"))
        )
        # lazy checkpoint: the convergence count below is the action that
        # materializes it — one job per round instead of two (the eager
        # checkpoint ran the plan, then the count ran again)
        new_labels = (
            labels.join(proposed, node_col, "left")
            .select(
                node_col,
                F.least(
                    F.col("component"), F.coalesce(F.col("_nmin"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("_nmin"), F.col("component")) < F.col("component"))
                .cast("long")
                .alias("_chg"),
            )
            .transform(lambda d: cut_lineage(d, eager=False))
        )
        changed = new_labels.agg(F.sum("_chg")).first()[0] or 0
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        if strict:
            raise RuntimeError(
                f"connected_components: no fixpoint in {max_rounds} rounds "
                "(component diameter exceeds max_rounds; raise it)"
            )
    if nodes is not None:
        iso = nodes.select(F.col(node_col)).distinct().join(
            labels.select(node_col), node_col, "left_anti"
        )
        labels = labels.union(
            iso.withColumn("component", F.col(node_col))
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_rounds: int = 20,
    strict: bool = True,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., SoCC'14) — same contract and output as
    ``connected_components`` but O(log n) iterations independent of
    component diameter, and hot-node fan-in shrinks as edges rewire to
    local minima.

    One iteration, expressed as DataFrame ops over the undirected
    neighbor view (each edge seen from both endpoints):

    - LARGE-STAR: every node u proposes its neighborhood minimum
      m = min(N(u) ∪ {u}) to each strictly LARGER neighbor — edge set
      becomes {(v, m(u)) : v ∈ N(u), v > u}. One groupBy(min) + one
      equijoin, both on node id.
    - SMALL-STAR: every node u links its not-larger neighbors (and
      itself) to their minimum — {(v, m≤(u)) : v ∈ N≤(u) ∪ {u}}.
    - Edges are re-canonicalized (min, max) + distinct each phase;
      convergence = the canonical edge set reaches a fixpoint (checked
      with a count + left_anti probe — no collect of data rows). At the
      fixpoint every component is a star centered at its minimum, so
      labels read off the edge list directly.

    Scale: every phase is shuffle-on-node-id (AQE-skew-splittable), the
    frame is localCheckpoint()ed per phase (the iterative-lineage trap),
    and nothing but two scalar counts per iteration reaches the driver.
    ``max_rounds`` bounds ITERATIONS (each ~4 shuffles); 20 covers
    graphs to ~2^20 nodes per component with margin."""
    e = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .where(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("x"), F.greatest("x", "y").alias("y")
        )
        .distinct()
        .transform(cut_lineage)
    )
    converged = False
    for _ in range(max_rounds):
        und = e.select(F.col("x").alias("a"), F.col("y").alias("b")).union(
            e.select(F.col("y").alias("a"), F.col("x").alias("b"))
        )
        # ---- large-star
        mins = und.groupBy("a").agg(F.min("b").alias("_mn"))
        mins = mins.select("a", F.least("_mn", F.col("a")).alias("m"))
        large = (
            und.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("x"), F.col("m").alias("y"))
        )
        e1 = (
            large.where(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("x"), F.greatest("x", "y").alias("y")
            )
            .distinct()
            .transform(cut_lineage)
        )
        # ---- small-star (over the large-star output)
        und1 = e1.select(F.col("x").alias("a"), F.col("y").alias("b")).union(
            e1.select(F.col("y").alias("a"), F.col("x").alias("b"))
        )
        smaller = und1.where(F.col("b") < F.col("a"))
        m2 = smaller.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            smaller.join(m2, "a")
            .select(F.col("b").alias("x"), F.col("m").alias("y"))
            .union(m2.select(F.col("a").alias("x"), F.col("m").alias("y")))
        )
        e_new = (
            small.where(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("x"), F.greatest("x", "y").alias("y")
            )
            .distinct()
            .transform(cut_lineage)
        )
        same_count = e_new.count() == e.count()
        if same_count:
            diff = (
                e_new.join(e, ["x", "y"], "left_anti").limit(1).count()
            )
            if diff == 0:
                e = e_new
                converged = True
                break
        e = e_new
    if not converged and strict:
        raise RuntimeError(
            f"connected_components_star: no fixpoint in {max_rounds} "
            "iterations (raise max_rounds)"
        )
    # fixpoint: stars centered at component minima — labels read off edges
    labels = (
        e.select(F.col("y").alias(node_col), F.col("x").alias("component"))
        .union(
            e.select(F.col("x").alias(node_col), F.col("x").alias("component"))
        )
        .groupBy(node_col)
        .agg(F.min("component").alias("component"))
    )
    if nodes is not None:
        iso = nodes.select(F.col(node_col)).distinct().join(
            labels.select(node_col), node_col, "left_anti"
        )
        labels = labels.union(iso.withColumn("component", F.col(node_col)))
    return labels
