"""Connected components over a pair list — dedup clustering.

Near-dup detectors (minhash/simhash/ngram/embedding, operators/
dedup.py) emit PAIRS; deduplication needs CLUSTERS (keep one doc per
connected component of the similarity graph). This is the standard
large-scale formulation: iterative min-label propagation
("hash-to-min") over DataFrames.

Two distributed strategies behind one API (``algorithm=``):

- ``"star"`` (default): alternating large-star / small-star edge
  rewriting (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
  "Connected Components in MapReduce and Beyond", SoCC'14) — each
  round contracts every node toward its neighborhood minimum, so a
  path graph of n nodes converges in O(log n) rounds instead of the
  O(n) a label-propagation sweep needs. Each round is two
  ``min OVER (PARTITION BY u)`` windows and a distinct over the
  (shrinking) edge list, and the loop stops when the round's input is
  a star forest, counted by the round's own windows.
- ``"label"``: plain min-label propagation ("hash-to-min") — one
  join + one groupBy per round, converges in O(diameter) rounds.
  Near-dup graphs are almost always star/clique shaped (diameter
  1-2), where this is marginally cheaper per round; long chains make
  it pathological, which is why it is no longer the default.

Both raise if the fixpoint is not reached within ``max_iterations``
rather than silently returning wrong labels.

Not SQL-expressible in one statement (iterative) -> correctness is
pinned by pytest on planted clusters rather than the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from .. import pins
from ..scope import origin


def _star_contraction(
    edges: DataFrame, max_iterations: int, on_nonconvergence: str
) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.
    SoCC'14). ``edges`` is the canonical (u >= v), null-free, distinct
    checkpoint built by connected_components; this function owns it
    and frees it once the first round is filled. Returns (node,
    component).

    The working list ``e`` holds each undirected edge once as u > v,
    plus root rows (x, x): a self-pair of the input, or a node that no
    smaller node points at yet. A round is three exchanges.
    Large-star takes m = min(Γ(u) ∪ {u}) with one
    ``min(v) OVER (PARTITION BY u)`` window over both edge directions
    and connects every neighbor v > u to m. Small-star takes m = min
    of each node's smaller neighborhood and itself with a second
    window and connects those nodes to m; a distinct closes the round.
    Root rows pass through both steps, and small-star emits (m, m) for
    every minimum, so every node of the graph is the ``u`` of some row
    of every round's output.

    The fixpoint is exactly a star forest whose centers are the
    component minima: no node has two smaller neighbors, and no node
    has both a smaller and a larger one. The large-star window counts
    the rows of the round's input whose ``u`` breaks this, through an
    ``Observation`` on the round's own checkpoint job, so the proof
    costs no job. At a zero count the round keeps the input's star
    edges and adds a root row per center, so its output holds one row
    per node: (leaf, center) or (root, root). That checkpoint is the
    result. Convergence is O(log n) rounds on any graph shape.
    """
    w = Window.partitionBy("u")
    e = edges
    for _ in range(max_iterations):
        obs = Observation()
        large = (
            e.union(e.select(col("v").alias("u"), col("u").alias("v")))
            .select("u", "v",
                    F.min("v").over(w).alias("mn"),
                    F.max("v").over(w).alias("mx"),
                    F.count(F.when(col("v") < col("u"), 1)).over(w).alias("n_lt"))
            .observe(obs, F.count(F.when(
                (col("n_lt") > 1) | ((col("n_lt") == 1) & (col("mx") > col("u"))), 1,
            )).alias("off_star"))
            # NO distinct here: duplicates (bounded by node degree)
            # cannot change small-star's minima, and the round's final
            # distinct dedups the emitted edges
            .filter(col("v") >= col("u"))
            .select(col("v").alias("u"), F.when(
                col("v") > col("u"), F.least("mn", "u")).otherwise(col("u")).alias("v"))
        )
        small = large.select("u", "v", F.min("v").over(w).alias("m"))
        new_e = pins.pin(
            small.select(F.explode(F.array("u", "v")).alias("u"), col("m").alias("v"))
            .distinct(),
            checkpoint=True, eager=True)
        pins.unpin(e)
        e = new_e
        if obs.get["off_star"] == 0:
            return e.select(col("u").alias("node"), col("v").alias("component"))
    msg = (
        f"connected_components(algorithm='star') did not converge in "
        f"{max_iterations} iterations; raise max_iterations (expected "
        "O(log n) rounds)"
    )
    if on_nonconvergence == "raise":
        raise RuntimeError(msg)
    import warnings

    warnings.warn(msg, RuntimeWarning, stacklevel=3)
    # partial labels: each node's smallest known neighbor, or itself
    return (
        e.union(e.select("v", "v"))
        .groupBy(col("u").alias("node"))
        .agg(F.min("v").alias("component"))
    )


@origin("connected_components")
def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
    on_nonconvergence: str = "raise",
    small_graph_threshold: int = 100_000,
    algorithm: str = "star",
) -> DataFrame:
    """Label every node in the pair graph with its component's min id.

    Returns (node, component). Iterates until a fixpoint, proven by
    counts that ride each round's checkpoint job. If the
    fixpoint is not reached within ``max_iterations`` the labels are
    WRONG (some nodes still carry a non-minimal label); by default
    this raises — pass ``on_nonconvergence="warn"`` to get the
    partial labels with a warning instead.

    Strategy switch (the broadcast-join pattern applied to iteration):
    the canonical (greatest, least) edge list is checkpointed once, and
    the size of its symmetrized twin (2 per edge, 1 per self-pair)
    rides that job; at or below ``small_graph_threshold`` edges
    (bounded: 100k edge tuples ≈ a few MB) the components are solved
    with one driver-side union-find pass over the collected edges —
    identical labels, none of the per-iteration checkpoint jobs.
    Above the threshold
    a distributed iterative plan runs; at 100 TB a detector emitting
    MORE than 100k pairs is exactly the regime the iterative plan
    exists for, while a detector emitting a handful of pairs (the
    common converged-corpus case) no longer pays rounds of shuffle for
    a graph that fits in one task. Pass ``small_graph_threshold=0`` to
    force the distributed path.

    ``algorithm`` picks the distributed plan: ``"star"`` (default)
    is the alternating large-star/small-star contraction — O(log n)
    rounds on ANY graph shape, including the 10k-node chains that
    make label propagation need 10k rounds; ``"label"`` is plain
    min-label propagation (O(diameter) rounds, one join+groupBy per
    round — marginally cheaper on the diameter-1-2 graphs near-dup
    detectors emit).

    Storage note: on the distributed path the returned frame is backed
    by the final round's localCheckpoint, which stays pinned on the
    executors (intermediate rounds are freed as the loop runs). It is a
    ``pins.pin``, so ``release_pinned_indexes()`` frees it once the
    result has been materialized.
    """
    if on_nonconvergence not in ("raise", "warn"):
        raise ValueError("on_nonconvergence must be 'raise' or 'warn'")
    if algorithm not in ("star", "label"):
        raise ValueError("algorithm must be 'star' or 'label'")
    # One eager checkpoint of the canonical (greatest, least) edges;
    # the size that picks the strategy rides its job. A null endpoint
    # carries no similarity information and goes first (``greatest``
    # would skip it); that keeps the strategies' outputs identical.
    obs = Observation()
    uv = pairs.select(col(a_col).alias("u"), col(b_col).alias("v")).dropna()
    edges = pins.pin(
        uv.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .observe(obs, F.count(F.when(col("u") > col("v"), 1)).alias("n_gt"),
                 F.count(F.when(col("u") == col("v"), 1)).alias("n_eq")),
        checkpoint=True, eager=True)
    # the size of the symmetrized list: 2 per edge, 1 per self-pair
    n_edges = 2 * obs.get["n_gt"] + obs.get["n_eq"]
    if n_edges <= small_graph_threshold:
        rows = edges.collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            u, v = r["u"], r["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        comp_min: dict = {}
        for node in parent:
            root = find(node)
            cur = comp_min.get(root)
            if cur is None or node < cur:
                comp_min[root] = node
        out_schema = (
            edges.select(
                col("u").alias("node"), col("u").alias("component")
            ).schema
        )
        out = pairs.sparkSession.createDataFrame(
            [(n, comp_min[find(n)]) for n in parent], out_schema
        )
        pins.unpin(edges)
        return out

    if algorithm == "star":
        return _star_contraction(edges, max_iterations, on_nonconvergence)

    sym = edges.union(edges.filter(col("u") > col("v")).select(
        col("v").alias("u"), col("u").alias("v")))
    labels = pins.pin(sym.select("u").distinct().withColumn("component", col("u")))

    changed = 1
    for _ in range(max_iterations):
        # candidate labels: own label + min neighbor label (aliases
        # break the shared lineage of the edge-derived frames). The
        # own-label branch is tagged so the aggregate can carry each
        # node's PREVIOUS label alongside the new minimum — the
        # changed-count then rides the checkpoint's materialization
        # job via ``observe`` (r12), where the former shape ran a
        # full join of the new and old label tables every round (at
        # scale: one extra two-sided label shuffle per round).
        neighbor_labels = (
            sym.alias("e")
            .join(labels.alias("l"), col("e.v") == col("l.u"))
            .select(
                col("e.u").alias("u"),
                col("l.component").alias("component"),
                lit(False).alias("_own"),
            )
        )
        # localCheckpoint (not cache): materializes AND truncates the
        # logical plan, so planning cost stays constant per iteration
        # instead of growing with the accumulated iterative lineage —
        # at 50+ rounds the un-truncated plan is itself a bottleneck
        obs = Observation()
        new_labels = pins.pin(
            labels.select("u", "component", lit(True).alias("_own"))
            .union(neighbor_labels)
            .groupBy("u")
            .agg(
                F.min("component").alias("component"),
                # every node carries exactly one own-label row (labels
                # holds one row per node), so this max is that value
                F.max(F.when(col("_own"), col("component"))).alias("_old"),
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum(
                        F.when(col("component") != col("_old"), 1).otherwise(0)
                    ),
                    lit(0),
                ).alias("changed"),
            )
            .select("u", "component"),
            checkpoint=True, eager=True)
        changed = int(obs.get["changed"])
        pins.unpin(labels)  # the cached round-0 labels, then each round's checkpoint
        labels = new_labels
        if changed == 0:
            break
    pins.unpin(edges)
    if changed != 0:
        msg = (
            f"connected_components did not converge in {max_iterations} "
            "iterations (plain min-label propagation needs O(graph "
            "diameter) rounds); raise max_iterations"
        )
        if on_nonconvergence == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(col("u").alias("node"), "component")


@origin("dedup_clusters")
def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Full dedup decision: every row of ``df`` labeled with its cluster
    representative (min id of its similarity component; singleton rows
    represent themselves) and a ``keep`` flag.

    Compose with any pair detector:
        pairs = minhash_lsh_pairs(docs, threshold=0.8)
        decided = dedup_clusters(docs, pairs)
        kept = decided.filter("keep")
    """
    comp = connected_components(pairs, a_col, b_col)
    out = (
        df.join(comp, df[id_col] == comp.node, "left")
        .withColumn("cluster_id", F.coalesce(col("component"), col(id_col)))
        .drop("node", "component")
    )
    return out.withColumn("keep", col(id_col) == col("cluster_id"))
