"""Connected components over near-duplicate pair graphs — the step that
turns pairwise dedup output (LSH/SimHash/Jaccard candidate pairs) into
actionable CLUSTERS with one canonical representative each. Production
corpus dedup needs this: near-duplication is transitive in practice
(A≈B, B≈C ⇒ keep one of {A,B,C}), and pair lists alone over-keep.

Algorithm: iterative min-label propagation (the Spark-idiomatic
fixpoint) — each round every node takes the min of its label and its
neighbors' labels; converged when no label changes. Rounds = graph
diameter, and near-dup clusters are dense (diameter 2-4 in practice),
so 3-5 rounds suffice on real corpora. Each round is ONE shuffle of
(id, long) pairs — never text.

Seeded first round: instead of starting from its own id, every
endpoint starts at the minimum of its closed neighbourhood,
``least(id, min(neighbour))`` — one aggregate over the symmetric edge
list, in the spirit of the star steps of Kiveris et al. (SoCC'14). Those
are exactly the labels propagation round 1 would produce from
self-labels, so the seed step IS round 1: the loop starts one round
later and the fixpoint, the star fallback and the output are unchanged.
The same aggregate yields the endpoint set, so no separate distinct
pass runs either.

Edges read once: the symmetric edge list is built in one pass over
``edges`` (each edge explodes into both directions, then one
distinct), not as a union of two projections. An un-materialized edge
frame (the Jaccard verify of the release job) is therefore evaluated
once, not once per direction.

Scale notes (10⁹+ nodes):
  - labels are localCheckpoint'ed each round: cuts the O(rounds)-deep
    lineage (otherwise every round re-executes all prior rounds) and
    materializes the (id, comp) pairs, which are the only shuffled
    state;
  - convergence is detected from sum(comp): labels only decrease under
    min-propagation, so an unchanged sum ⇔ a fixpoint. The sum is an
    ``Observation`` on the round's eager localCheckpoint, so the probe
    rides on the job that materializes the labels: no extra job per
    round, and no anti-join of old vs new;
  - for graphs with giant-diameter chains (adversarial, not near-dup
    shaped) switch to the large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14), which converges in O(log²) rounds; the round body here is
    the building block either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 25,
    fallback_star: bool = True,
) -> DataFrame:
    """(id, component) for every node, where component is the minimum id
    reachable through ``edges`` (undirected). ``nodes`` (single-column
    ``id``) adds isolated vertices — without it only edge endpoints
    appear. If the fixpoint is not reached in ``max_iters`` rounds (a
    diameter that large means the input is not near-dup shaped), the
    call FALLS BACK to ``connected_components_star`` — same answer,
    O(log²) rounds on any diameter — so callers get min-label's lower
    per-round cost on typical graphs without a correctness cliff on
    adversarial ones. Pass ``fallback_star=False`` to raise instead
    (useful when a blown round budget signals a data bug upstream)."""
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
                    F.struct(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
        # materialize ONCE: the edge list is joined every round, and an
        # expensive upstream (e.g. the full MinHash/LSH candidate
        # pipeline) must not re-execute per iteration
        .localCheckpoint(eager=True)
    )
    # the seeded round 1 (module docstring): one aggregate over the
    # symmetric edges; its keys are the endpoint set
    labels, prev_sum = _checkpoint_with_sum(
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_m"))
        .select("id", F.least("id", "_m").alias("comp"))
    )
    endpoints = labels.select("id")
    # Isolated vertices (in ``nodes`` but on no edge) can never receive
    # a message, so they must not ride through every fixpoint round's
    # union+groupBy — on a near-dup graph they are the vast majority
    # (most documents have no near-duplicate). Split them out here and
    # self-label them at return; bit-identical output, and each round
    # shuffles only the edge-connected minority.
    isolated = (
        nodes.select("id").distinct().join(endpoints, "id", "left_anti")
        if nodes is not None
        else None
    )

    def _with_isolated(lb: DataFrame) -> DataFrame:
        if isolated is None:
            return lb
        return lb.unionByName(
            isolated.select("id", F.col("id").alias("comp"))
        )

    for _ in range(max_iters):
        # labels are the hash-built side, pinned: when every component
        # is a pair, sym and labels are the same size, and AQE's runtime
        # choice of the broadcast side flipped between identical passes
        # (each flip compiles the join again)
        msgs = sym.join(
            labels.hint("shuffle_hash"), sym.dst == labels.id
        ).select(F.col("src").alias("id"), "comp")
        labels, cur_sum = _checkpoint_with_sum(
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        if cur_sum == prev_sum:  # labels only decrease → fixpoint
            return _with_isolated(labels)
        prev_sum = cur_sum
    if fallback_star:
        return connected_components_star(
            edges, nodes=nodes, src_col=src_col, dst_col=dst_col
        )
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "graph diameter too large; use large-star/small-star"
    )


def _checkpoint_with_sum(labels: DataFrame) -> tuple[DataFrame, object]:
    """(eagerly localCheckpointed labels, sum of comp): the fixpoint
    probe. Labels only ever decrease, so an unchanged sum ⇔ no label
    moved. The sum is observed on the checkpoint's own job, so it costs
    no job of its own. Sum in decimal(38,0) — ids may be hash-sized
    (|id| up to 2⁶³), and an int64 sum of them overflows (ANSI mode
    throws) after a handful of rows; decimal(38) is exact to 10³⁸,
    comfortably above 10¹² nodes × 2⁶³."""
    probe = Observation()
    done = labels.observe(
        probe, F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
    ).localCheckpoint(eager=True)
    return done, probe.get["s"]


def component_representatives(labels: DataFrame) -> DataFrame:
    """(component, keep_id, n_members): one canonical doc per cluster
    (the min id, consistent with exact_dedup's keep-min rule)."""
    return labels.groupBy("comp").agg(
        F.min("id").alias("keep_id"), F.count("*").alias("n_members")
    ).withColumnRenamed("comp", "component")


def component_keep_ids(
    nodes: DataFrame, labels: DataFrame, id_col: str = "id"
) -> DataFrame:
    """``nodes`` (one column ``id_col``) without the ids whose component
    label in ``labels`` is a smaller id: the ``keep_id`` set of
    ``component_representatives(connected_components(edges, nodes))``,
    from labels of the edge-connected nodes alone. A component's label
    is its minimum id, so exactly its other members are dropped, and a
    node on no edge has no label and stays. One anti join, no
    aggregate, and the isolated nodes never enter the fixpoint."""
    dropped = labels.where(F.col("comp") < F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return nodes.join(dropped, id_col, "left_anti")


def _large_star(sym: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., SoCC'14, Alg. 3): every node u
    links each STRICTLY LARGER neighbor to the minimum of its
    neighborhood (incl. itself). One groupBy + one re-join per round;
    only (long, long) pairs shuffle."""
    m = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(canon: DataFrame) -> DataFrame:
    """Small-star round (Alg. 4) over CANONICAL edges (src > dst):
    every node links its smaller neighbors — and itself — to the
    minimum of that set."""
    m = canon.groupBy("src").agg(F.min("dst").alias("m"))
    withself = canon.select("src", "dst").unionByName(
        canon.select("src", F.col("src").alias("dst")).distinct()
    )
    return (
        withself.join(m, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (src > dst) pairs, self-loops dropped."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 30,
) -> DataFrame:
    """(id, component) via alternating large-star/small-star (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    ADVERSARIAL-DIAMETER path ``connected_components``'s docstring
    points to: label propagation needs diameter-many rounds (a 10⁶-hop
    chain = 10⁶ shuffles), star contraction converges in O(log² n)
    rounds on any graph, because each round re-links nodes directly to
    the current minimum of their neighborhood — path halving, not
    single-hop flooding.

    Convergence is detected EXACTLY at dev scale: a round that leaves
    the canonical edge set unchanged is the fixpoint (checked with a
    count + anti-join, both O(|E|) on (long,long) pairs). On a 10⁹-edge
    cluster run, swap the check for the paper's changed-emission
    accumulator — the round body is identical. Each round
    localCheckpoints: the loop is iterative, so lineage must be cut and
    the (long, long) state materialized, exactly as in
    ``connected_components``.
    """
    cur = _canonical(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
    ).localCheckpoint(eager=True)

    for _ in range(max_iters):
        big = _large_star(
            cur.unionByName(
                cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
        )
        nxt = _canonical(_small_star(_canonical(big))).localCheckpoint(
            eager=True
        )
        n_cur, n_nxt = cur.count(), nxt.count()
        if n_cur == n_nxt and nxt.exceptAll(cur).isEmpty():
            cur = nxt
            break
        cur = nxt
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_iters} rounds"
        )

    # converged: canonical edges are star edges (member > root)
    labels = cur.select(
        F.col("src").alias("id"), F.col("dst").alias("comp")
    ).unionByName(
        cur.select(F.col("dst").alias("id"), F.col("dst").alias("comp"))
    ).distinct()
    # nodes whose only edges were self-loops vanished at canonicalization
    # — they are still vertices of the input graph and must self-label
    # (parity with connected_components, whose symmetric edge list keeps
    # them); plus explicitly-passed isolated nodes
    required = edges.select(F.col(src_col).alias("id")).unionByName(
        edges.select(F.col(dst_col).alias("id"))
    )
    if nodes is not None:
        required = required.unionByName(nodes.select("id"))
    iso = required.distinct().exceptAll(labels.select("id")).distinct()
    return labels.unionByName(iso.select("id", F.col("id").alias("comp")))
