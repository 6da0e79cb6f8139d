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
  groupBy+join passes over the (shrinking) edge list.
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

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from .. import pins
from ..scope import origin


def _star_contraction(
    edges: DataFrame, max_iterations: int, on_nonconvergence: str
) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.
    SoCC'14). ``edges`` is the symmetrized, null-free, distinct (u, v)
    frame built by connected_components. Returns (node, component).

    Invariant maintained: the working edge list ``e`` is directed
    u > v (each undirected edge once, no self-loops). Large-star
    connects every neighbor v > u to m = min(Γ(u) ∪ {u}); small-star
    connects every smaller neighbor (and u itself) to m = min of the
    smaller neighborhood. At the fixpoint ``e`` is a star forest:
    every non-root node points directly at its component's min id.
    Convergence is O(log n) rounds on any graph shape.
    """
    def _checkpoint_with_stats(
        frame: DataFrame,
    ) -> tuple[DataFrame, int, int]:
        """Eager localCheckpoint whose (count, order-independent
        xxhash64 checksum) fixpoint stats ride the materialization job
        itself via ``observe`` — ZERO extra jobs, where the former
        shape ran a separate agg job per round (r12: observe metrics
        are delivered when the checkpoint's internal collect finishes,
        verified empirically; one job per round instead of two).
        Differing stats prove the edge set changed without the exact
        anti-join probe; matching stats are CONFIRMED by the probe
        before declaring convergence (the checksum alone is a
        2^-64-ish collision risk, not a proof)."""
        obs = Observation()
        ck = pins.pin(frame.observe(
            obs,
            F.count(lit(1)).alias("n"),
            # decimal accumulator: a long sum of xxhash64 values
            # overflows under ANSI within a handful of rows
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                lit(0).cast("decimal(38,0)"),
            ).alias("chk"),
        ), checkpoint=True, eager=True)
        m = obs.get
        return ck, int(m["n"]), int(m["chk"])

    e, n_e, chk_e = _checkpoint_with_stats(edges.filter(col("u") > col("v")))
    converged = False
    for _ in range(max_iterations):
        # large-star over both edge directions
        nbrs = e.union(e.select(col("v").alias("u"), col("u").alias("v")))
        mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
        ls = (
            nbrs.join(mins, "u")
            .withColumn("m", F.least(col("mn"), col("u")))
            .filter(col("v") > col("u"))
            .select(col("v").alias("u"), col("m").alias("v"))
            # NO distinct here: duplicates (bounded by node degree)
            # cannot change small-star's min aggregates and the final
            # distinct below dedups the emitted edges — dropping the
            # exchange saves one shuffle per round (r11, measured
            # ~15% round cost)
        )
        # small-star over the (already u > v directed) large-star output
        smins = ls.groupBy("u").agg(F.min("v").alias("m"))
        j = ls.join(smins, "u")
        new_e, n_new, chk_new = _checkpoint_with_stats(
            j.select(col("v").alias("u"), col("m").alias("v"))
            .union(j.select("u", col("m").alias("v")))
            .filter(col("u") != col("v"))
            .distinct()
        )
        if n_new == n_e and chk_new == chk_e:
            # equal counts + empty one-sided difference => equal sets
            changed = new_e.join(e, ["u", "v"], "left_anti").limit(1).count()
        else:
            changed = 1
        pins.unpin(e)
        e, n_e, chk_e = new_e, n_new, chk_new
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"connected_components(algorithm='star') did not converge in "
            f"{max_iterations} iterations; raise max_iterations (expected "
            "O(log n) rounds)"
        )
        if on_nonconvergence == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=3)
    # star forest -> labels: non-roots point at the min, roots label
    # themselves; the groupBy(min) also collapses any partial labels
    # left by a warn-mode early exit. Reattach every original endpoint
    # (a node whose only edges were self-pairs is dropped by the u > v
    # orientation), self-labeled when the contraction never saw it.
    labels = (
        e.select(col("u").alias("node"), col("v").alias("component"))
        .union(e.select(col("v").alias("node"), col("v").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
    out = pins.pin(
        edges.select("u")
        .distinct()
        .alias("n")
        .join(labels.alias("l"), col("n.u") == col("l.node"), "left")
        .select(
            col("n.u").alias("node"),
            F.coalesce(col("l.component"), col("n.u")).alias("component"),
        ),
        checkpoint=True, eager=True)
    pins.unpin(e)
    return out


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

    Returns (node, component). Iterates min-label propagation until a
    fixpoint (checked via a cheap count of label changes). If the
    fixpoint is not reached within ``max_iterations`` the labels are
    WRONG (some nodes still carry a non-minimal label); by default
    this raises — pass ``on_nonconvergence="warn"`` to get the
    partial labels with a warning instead.

    Strategy switch (the broadcast-join pattern applied to iteration):
    the symmetrized-distinct edge list is counted first; at or below
    ``small_graph_threshold`` edges (bounded: 100k edge tuples ≈ a few
    MB) the components are solved with one driver-side union-find pass
    over the collected edges — identical labels, none of the per-
    iteration join/checkpoint/fixpoint-count jobs. Above the threshold
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
    by the final localCheckpoint, which stays pinned on the executors
    (intermediate rounds are freed as the loop runs). It is a
    ``pins.pin``, so ``release_pinned_indexes()`` frees it once the
    result has been materialized.
    """
    if on_nonconvergence not in ("raise", "warn"):
        raise ValueError("on_nonconvergence must be 'raise' or 'warn'")
    if algorithm not in ("star", "label"):
        raise ValueError("algorithm must be 'star' or 'label'")
    edges = pins.pin(
        pairs.select(col(a_col).alias("u"), col(b_col).alias("v"))
        .union(pairs.select(col(b_col).alias("u"), col(a_col).alias("v")))
        # a null endpoint carries no similarity information; dropping
        # it up front keeps the two strategies' outputs identical (a
        # null would TypeError in the union-find and produce an inert
        # orphan row in the join path — r6 review)
        .dropna()
        .distinct()
    )
    n_edges = edges.count()
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
        out = _star_contraction(edges, max_iterations, on_nonconvergence)
        pins.unpin(edges)
        return out

    labels = pins.pin(edges.select("u").distinct().withColumn("component", col("u")))

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
            edges.alias("e")
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
