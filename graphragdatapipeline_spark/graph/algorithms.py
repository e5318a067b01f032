"""Graph algorithms as iterative DataFrame programs (SURVEY §2.9).

Design for scale: every iteration is a shuffled join on the edge
table, and every loop runs through ``_iterate``, the one place that
decides when a round is checkpointed, materialized and released
(rules in its docstring). Convergence checks are cheap aggregates,
not collects of the frame.

Undirected input contract. connected_components, label_propagation,
louvain_move, rb_quality_agg, triangle_count, triangle_count_estimate,
link_prediction_scores and kcore read ``edges`` (src, dst) as an
undirected simple graph: a pair listed twice or in both directions is
one edge, and self-loops are dropped. With a weight column
(label_propagation, louvain_move) a pair's weight is the sum over its
rows, rows with w ≤ 0 are no edge, and only louvain_move reads
self-loop weight (as vertex strength). ``_canonical_pairs`` is the one
place that applies this contract; ``_loop_edges`` is the one place
that builds and sizes a loop's edge table from it.

Community hierarchies replace the reference's driver-local Leiden
(utils/neo4j_helpers.py:237-268, single-threaded C core over ~99k
nodes) with distributed, deterministic multilevel schemes under the
same consumer contract — per-vertex community ids at three
granularities under a fixed seed (detect_communities.py:218-246) —
that scale to edge lists that never fit one machine: the
label-propagation ladder (detect_communities), the Louvain ladder
(detect_communities_louvain), and full Louvain at one resolution
(louvain_multilevel), whose cycles make up each Louvain ladder level.
All three are one loop, ``_coarsen``, the one place that runs a level,
contracts the graph by its labels, composes the labels and frees what
is spent (rules in its docstring). detect_communities_leiden_exact is
the driver-side exact rung for graphs that fit one machine.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphragdatapipeline_spark.graph.leiden import leiden_membership
from graphragdatapipeline_spark.session import _free_checkpoint

# Fixed-count loops materialize every _MATERIALIZE_EVERY rounds: the
# bound on live superseded round tables (each |V|-sized), and long
# enough that the ladders' 2-5-round LPA and Louvain levels still run
# their whole chain in one materializing job.
_MATERIALIZE_EVERY = 5

# louvain_multilevel stops after a cycle that shrinks the community
# count by less than this share.
_MIN_SHRINK = 0.01


def _iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    until: Callable[[DataFrame, int], bool] | None = None,
    release: Iterable[DataFrame] = (),
) -> tuple[DataFrame, bool]:
    """Run ``state = step(state, r)`` for r in range(rounds) →
    (final state, converged). The one owner of the loops' storage rules:

    - every round's output gets a lazy localCheckpoint (flat plans);
    - convergence loops pass ``until(state, r)``: its driver scalar is
      the action that materializes the round, and True stops the loop;
    - fixed-count loops materialize eagerly every _MATERIALIZE_EVERY
      rounds and on the last round;
    - each materialization frees the superseded rounds, the caller's
      initial state included: a lazy checkpoint's blocks are its only
      copy, so it may go only once a later round no longer needs it;
    - once the final state is materialized, the loop invariants in
      ``release`` are freed (never after zero rounds: the returned
      initial state may read them)."""
    superseded: list[DataFrame] = []
    converged = False
    for r in range(rounds):
        eager = until is None and (
            r == rounds - 1 or (r + 1) % _MATERIALIZE_EVERY == 0
        )
        superseded.append(state)
        state = step(state, r).localCheckpoint(eager=eager)
        converged = until is not None and until(state, r)
        if eager or until is not None:
            for old in superseded:
                _free_checkpoint(old)
            superseded = []
        if converged:
            break
    if rounds > 0:
        for df in release:
            _free_checkpoint(df)
    return state, converged


def _canonical_pairs(
    edges: DataFrame,
    weight_col: str | None = None,
    max_forward_degree: int | None = None,
) -> DataFrame:
    """The undirected simple graph of ``edges`` (module docstring) →
    (lo, hi) with lo < hi, one row per pair; with ``weight_col`` also
    ``_w``, the pair's summed positive weight.

    ``max_forward_degree`` is the triangle operators' mega-hub
    guardrail: wedge volume grows with fwd_deg(v)², so pairs whose LOW
    endpoint has more forward pairs than the cap are dropped (one
    linear degree pass), bounding the wedge joins at pairs × cap."""
    w = [] if weight_col is None else [F.col(weight_col).cast("double").alias("_w")]
    pairs = edges.select(
        F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi"), *w
    ).filter(F.col("lo") != F.col("hi"))
    if weight_col is None:
        canon = pairs.distinct()
    else:
        canon = (
            pairs.filter(F.col("_w") > 0)
            .groupBy("lo", "hi")
            .agg(F.sum("_w").alias("_w"))
        )
    if max_forward_degree is not None:
        fwd = canon.groupBy("lo").agg(F.count(F.lit(1)).alias("_fd"))
        keep = fwd.filter(F.col("_fd") <= max_forward_degree).select("lo")
        canon = canon.join(F.broadcast(keep), "lo")
    return canon


def _loop_edges(
    edges: DataFrame, weight_col: str | None = None, n_pairs: int | None = None
) -> tuple[DataFrame, DataFrame, int]:
    """The loop-invariant edge table of the undirected loops → (sym,
    pairs, width). ``sym`` is (src, dst, _w): both directions of every
    canonical pair, _w = 1.0 unweighted, hash-partitioned by dst at
    ``width`` under a lazy localCheckpoint, so each round's join on dst
    shuffles only the |V|-row side. ``pairs`` is the lazily
    checkpointed ``_canonical_pairs`` table it is built from; read the
    vertex set from it, not from ``sym``: once counted it has no
    shuffle in its lineage, while reading ``sym`` made each job of the
    first round list sym's exchange again. The caller frees both with
    its loop's ``release``, once the final round no longer reads them.

    Width: one partition per 100k directed edges, between 2 and
    defaultParallelism. Contracted and filtered graphs are orders of
    magnitude below the cluster, where a full-width round is pure
    fixed cost, and AQE cannot re-plan across checkpointed rounds.
    defaultParallelism, not shuffle.partitions: under an untuned
    session (200) every round's checkpoint would write 200 tiny block
    files, enough to exhaust the process FD limit. The pair count comes
    from a count of the checkpointed pairs, or from ``n_pairs`` when
    the caller already knows it (an upper bound only moves the width)."""
    pairs = _canonical_pairs(edges, weight_col).localCheckpoint(eager=False)
    if n_pairs is None:
        n_pairs = pairs.count()
    slots = edges.sparkSession.sparkContext.defaultParallelism
    width = max(2, min(slots, 2 * n_pairs // 100_000 + 1))
    w = F.col("_w") if weight_col is not None else F.lit(1.0).alias("_w")
    lo, hi = F.col("lo"), F.col("hi")
    sym = (
        pairs.select(lo.alias("src"), hi.alias("dst"), w)
        .unionByName(pairs.select(hi.alias("src"), lo.alias("dst"), w))
        .repartition(width, "dst")
        .localCheckpoint(eager=False)
    )
    return sym, pairs, width


def degrees(edges: DataFrame) -> DataFrame:
    """G9 — true degree per vertex (out + in), one pass.

    Reference approximates connectivity with size(similar_artists)
    (detect_communities.py:155-157); this is the exact version."""
    both = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    return both.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))


def two_hop(
    edges: DataFrame,
    rel1: str | None = None,
    rel2: str | None = None,
    max_mid_wedges: int | None = None,
) -> DataFrame:
    """G10/J9 — 2-hop motif (a)-[e1]->(b)-[e2]->(c) as a self-join
    (reference Cypher at ingest_graph_db.py:366-377).

    ``max_mid_wedges`` is the hub guardrail (same family as
    triangle_count's max_forward_degree and the dedup caps): the join
    fans out in_deg(b)·out_deg(b) rows per MIDDLE vertex, so one
    celebrity vertex can dominate the whole job at 100 TB. With the
    cap, middle vertices whose wedge product exceeds it are dropped
    before the join — their motifs are undercounted (the standard
    hub-sampling trade; cluster-level handling replaces pairwise
    enumeration), and total wedge volume is bounded by
    |mids| · cap. Default None = exact (the registered query's
    semantics are unchanged)."""
    e1 = edges if rel1 is None else edges.filter(F.col("rel_type") == rel1)
    e2 = edges if rel2 is None else edges.filter(F.col("rel_type") == rel2)
    a = e1.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    b = e2.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    if max_mid_wedges is not None:
        fan_in = a.groupBy("b").agg(F.count(F.lit(1)).alias("_fi"))
        fan_out = b.groupBy("b").agg(F.count(F.lit(1)).alias("_fo"))
        keep = (
            fan_in.join(fan_out, "b")
            .filter(F.col("_fi") * F.col("_fo") <= max_mid_wedges)
            .select("b")
        )
        a = a.join(keep, "b", "left_semi")
        b = b.join(keep, "b", "left_semi")
    return a.join(b, "b").select("a", "b", "c")


def transitive_closure(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """G11 — full transitive closure (node, ancestor) over a DAG by
    iterated doubling (reference: SPARQL `wdt:P279*` subclass-of
    closure at build_artist_index.py:54-57).

    Doubling halves the number of shuffle rounds vs naive BFS:
    closure_{2k} = closure_k ⋈ closure_k, so depth-d hierarchies finish
    in ceil(log2 d) joins — at 100 TB the join count, not the row
    count, is the latency driver."""
    closure = (
        edges.select(F.col("src").alias("node"), F.col("dst").alias("anc"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = [closure.count()]

    def step(closure: DataFrame, _: int) -> DataFrame:
        hop = (
            closure.alias("l")
            .join(closure.alias("r"), F.col("l.anc") == F.col("r.node"))
            .select(F.col("l.node").alias("node"), F.col("r.anc").alias("anc"))
        )
        return closure.unionByName(hop).distinct()

    def fixpoint(closure: DataFrame, _: int) -> bool:
        # The closure only grows, so an unchanged size is the fixpoint;
        # last round's size is carried, not recounted.
        sizes.append(closure.count())
        return sizes[-1] == sizes[-2]

    return _iterate(closure, step, max_iter, until=fixpoint)[0]


def connected_components(
    edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Connected components by min-id propagation WITH pointer jumping
    → (id, component), where component is the smallest vertex id in
    the component.

    Each round does two label-shrinking steps: (1) Hash-Min —
    component = min(own, min over neighbors) (Rastogi et al., "Finding
    Connected Components in Map-Reduce"); (2) path compression —
    component = component's own current component (every label value
    is itself a vertex id, so the indirection is always defined, and
    labels only ever decrease toward the component min). Plain
    Hash-Min needs O(diameter) rounds — a 50-vertex chain (the shape
    entity-resolution size-bands produce) takes 50 shuffles; with the
    pointer jump the min label doubles its reach per round, giving
    O(log diameter).
    Raises if max_iter rounds exhaust before the fixpoint — a silently
    unconverged label is a wrong answer, not a slow one."""
    sym, pairs, _ = _loop_edges(edges)
    labels = (
        pairs.select(F.col("lo").alias("id"))
        .unionByName(pairs.select(F.col("hi").alias("id")))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=False)
    )

    def step(labels: DataFrame, _: int) -> DataFrame:
        nbr_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        hashmin = labels.join(nbr_min, "id", "left").select(
            "id",
            F.col("component").alias("_prev"),
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
        )
        # Pointer jump: label <- label_of(label). Labels shrink
        # monotonically, so parent ≤ component and correctness (min
        # reachable id per component) is preserved — only propagation
        # speed changes.
        parent = hashmin.select(
            F.col("id").alias("component"), F.col("component").alias("_parent")
        )
        jumped = F.least(
            F.col("component"), F.coalesce("_parent", F.col("component"))
        )
        return hashmin.join(parent, "component", "left").select(
            "id",
            jumped.alias("component"),
            (jumped < F.col("_prev")).cast("int").alias("_changed"),
        )

    labels, converged = _iterate(
        labels,
        step,
        max_iter,
        until=lambda s, _: not (s.agg(F.sum("_changed")).first()[0] or 0),
        release=(pairs, sym),
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "with pointer jumping this needs O(log diameter) — raise max_iter"
        )
    return labels.drop("_changed")


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 5,
    seed: int = 42,
    weight_col: str | None = None,
) -> DataFrame:
    """Synchronous, deterministic label propagation → (id, community).

    Init: every vertex gets a stable pseudo-random rank derived from
    xxhash64(id, seed) — the seed plays the role the reference gives
    leidenalg's seed (settings.py:137). Update: adopt the most frequent
    neighbor label; ties break on (count desc, label asc), making every
    round a pure function of the previous one — same input, same
    communities, on any cluster layout. Each neighbor casts one vote,
    or with ``weight_col`` its pair's weight in votes."""
    sym, pairs, par = _loop_edges(edges, weight_col)
    ids = (
        pairs.select(F.col("lo").alias("id"))
        .unionByName(pairs.select(F.col("hi").alias("id")))
        .distinct()
    )
    if vertices is not None:
        ids = ids.unionByName(vertices.select("id")).distinct()
    # Engine-portable seeded init: first 15 md5 nibbles of "id:seed"
    # as a positive 60-bit long. (xxhash64 would be marginally cheaper
    # but is Spark-specific; md5 exists everywhere, which lets the
    # whole LPA ladder be value-oracled by a SQL replay in DuckDB, and
    # the init runs once per vertex.)
    init = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("id").cast("string"), F.lit(str(seed)))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    labels = ids.withColumn("community", init).repartition(par, "id")
    labels = labels.localCheckpoint(eager=False)

    def step(labels: DataFrame, _: int) -> DataFrame:
        votes = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy(F.col("src").alias("id"), F.col("community"))
            .agg(F.sum("_w").alias("votes"))
        )
        # Winner per vertex = max by (votes, then smallest label).
        # max_by over struct(votes, ~community) gives exactly the
        # (count desc, label asc) tie-break — ~x is the overflow-free
        # monotone negation — as a partial-aggregating agg, one sort
        # and one shuffle cheaper per round than a rank window.
        winner = votes.groupBy("id").agg(
            F.max_by(
                "community", F.struct(F.col("votes"), F.bitwise_not(F.col("community")))
            ).alias("new_community")
        )
        return (
            labels.join(winner, "id", "left")
            .select(
                "id", F.coalesce("new_community", F.col("community")).alias("community")
            )
            .coalesce(par)
        )

    return _iterate(labels, step, max_iter, release=(pairs, sym))[0]


def detect_communities(
    vertices: DataFrame,
    edges: DataFrame,
    seed: int = 42,
    iters_per_level: tuple[int, int, int] = (2, 3, 4),
) -> DataFrame:
    """G3 — three-granularity community hierarchy → (id, community_L0,
    community_L1, community_L2), materialized.

    Contract parity with the reference (detect_communities.py:218-246):
    per-vertex community ids at 3 granularities, deterministic under a
    fixed seed, L0 finest → L2 coarsest (resolutions 2.0/0.5/0.1).
    Construction guarantees the hierarchy is nested: each level runs
    label propagation (seed + level, ``iters_per_level`` rounds) on the
    previous level's contracted graph, read unweighted, so an L2
    community is a union of L1 communities, as in Leiden's multilevel
    scheme. Only level 0 sees ``vertices``: a coarser level would give
    an edgeless super-vertex a fresh seeded label, while ``_coarsen``
    lets it keep the one from the level below."""
    return _coarsen(
        edges,
        vertices,
        len(iters_per_level),
        lambda i, g, _w, v, _n: label_propagation(g, v, iters_per_level[i], seed + i),
    )


def detect_communities_leiden_exact(
    vertices: DataFrame,
    edges: DataFrame,
    resolutions: tuple[float, float, float] = (2.0, 0.5, 0.1),
    seed: int = 42,
) -> DataFrame:
    """G3 exact rung: Leiden on the collected edge list — algorithm
    parity with the reference (neo4j_helpers.py:237-268,
    RBConfigurationVertexPartition at resolutions 2.0/0.5/0.1,
    seed 42), run by the vendored pure-Python Leiden (graph/leiden.py —
    same RB-configuration objective, Louvain move-and-aggregate plus
    the connected-communities guarantee, deterministic under the seed),
    which is the one the oracle replays.

    Only valid when |V|+|E| fits on the driver (the reference's scale,
    ~99k nodes / ~124k edges, trivially does). The distributed default
    for 100 TB graphs is detect_communities (multilevel label
    propagation, same per-vertex contract)."""
    spark = vertices.sparkSession
    ids = sorted(r[0] for r in vertices.select("id").distinct().collect())
    idx = {v: i for i, v in enumerate(ids)}
    weighted = [
        (idx[r[0]], idx[r[1]], 1.0)
        for r in edges.select("src", "dst").collect()
        if r[0] in idx and r[1] in idx
    ]
    memberships = [
        leiden_membership(len(ids), weighted, gamma=float(res), seed=seed)
        for res in resolutions
    ]
    rows = [
        (v, int(memberships[0][i]), int(memberships[1][i]), int(memberships[2][i]))
        for v, i in idx.items()
    ]
    return spark.createDataFrame(
        rows, "id STRING, community_L0 INT, community_L1 INT, community_L2 INT"
    )


def louvain_move(
    edges: DataFrame,
    gamma: float = 1.0,
    rounds: int = 4,
    vertices: DataFrame | None = None,
    weight_col: str | None = None,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """Distributed Louvain move phase → (id, community): each round,
    every vertex evaluates the Reichardt–Bornholdt modularity gain of
    joining each neighbor community

        score(i→c) = w_{i→c} − γ · k_i · K_{c∖i} / 2m

    and synchronously adopts the argmax (ties to the lowest community
    label; a move requires a strictly better score than staying). This
    closes the quality gap between the LPA ladder and true
    modularity optimization AT SCALE — unlike the driver-side Leiden
    rung (detect_communities_leiden_exact), nothing here ever collects
    the graph: per round the work is one neighbor-community
    aggregation plus id-keyed joins, all hash-partitioned on vertex id
    exactly like label_propagation.

    Synchronous simultaneous moves can oscillate (two symmetric
    vertices swapping communities forever), the classic distributed-
    Louvain hazard; the standard damping is applied — each round only
    vertices of one hash-parity class may move, alternating per round
    — which breaks pairwise swap cycles and keeps every round a pure
    function of the previous one (deterministic, any cluster layout).
    Moves require strictly positive gain against the round-start
    partition; because same-class vertices still move concurrently,
    per-round quality improvement is damped rather than proven — the
    contract query MEASURES the resulting RB quality against both the
    singleton partition and the LPA ladder instead of assuming it.
    Output labels are canonicalized to the minimum member vertex id.
    louvain_multilevel runs it as ``_coarsen`` levels for the full
    move-AND-AGGREGATE scheme.

    ``weight_col`` turns on weighted semantics — required for running
    on a CONTRACTED graph, where parallel-edge multiplicities become
    weights and intra-community weight becomes self-loops: a self-loop
    edge contributes 2·w to its vertex's strength (it moves with the
    vertex, so it never enters a gain term — exactly graph/leiden.py's
    treatment) while staying out of the neighbor-community sums.
    ``n_edges_hint`` (the row count of ``edges``, which ``_coarsen``
    knows from persisting each contracted graph) skips the edge
    table's sizing job; every per-round aggregate is order-independent,
    so it moves no label.
    """
    sym, pairs, par = _loop_edges(edges, weight_col, n_edges_hint)
    self_w = None
    if weight_col is not None:
        w = F.col(weight_col).cast("double")
        self_w = (
            edges.filter((F.col("src") == F.col("dst")) & (w > 0))
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(w).alias("_sw"))
        )
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.sum("_w").alias("_k"))
    ids = sym.select(F.col("src").alias("id")).distinct()
    if vertices is not None:
        ids = ids.unionByName(vertices.select("id")).distinct()
    if self_w is not None:
        ids = ids.unionByName(self_w.select("id")).distinct()
    nodes = ids.join(deg, "id", "left").select(
        "id", F.coalesce("_k", F.lit(0.0)).alias("_k")
    )
    if self_w is not None:
        nodes = nodes.join(self_w, "id", "left").select(
            "id",
            (F.col("_k") + 2.0 * F.coalesce("_sw", F.lit(0.0))).alias("_k"),
        )
    # Lazy: the 2m aggregate right below is the materializing action —
    # one job for sym and nodes instead of checkpoint-then-rescan.
    nodes = nodes.repartition(par, "id").localCheckpoint(eager=False)
    two_m = nodes.agg(F.sum("_k")).first()[0] or 1.0  # scalar graph stat

    # Renamed copy for strength lookups inside comm_K: `nodes` also
    # joins directly into the scoring plan below, and reusing the same
    # `_k` attribute in both subtrees makes the reference ambiguous
    # after Spark's self-join de-duplication.
    strength = nodes.select("id", F.col("_k").alias("_ck"))

    def step(memb: DataFrame, r: int) -> DataFrame:
        comm_K = (
            memb.join(strength, "id")
            .groupBy("community")
            .agg(F.sum("_ck").alias("_K"))
        )
        dst_comm = memb.select(
            F.col("id").alias("dst"), F.col("community").alias("_c")
        )
        # w_{i→c} for every neighbor community of i (includes i's own
        # community iff i has an intra-community edge)
        nbr = (
            sym.join(dst_comm, "dst")
            .groupBy(F.col("src").alias("id"), F.col("_c"))
            .agg(F.sum("_w").alias("_wic"))
        )
        cur = memb.select("id", F.col("community").alias("_a"))
        # candidate set = neighbor communities ∪ {current} (the stay
        # option must exist even with zero intra edges)
        cand = (
            nbr.unionByName(
                cur.select("id", F.col("_a").alias("_c")).withColumn(
                    "_wic", F.lit(0.0)
                )
            )
            .groupBy("id", "_c")
            .agg(F.max("_wic").alias("_wic"))
        )
        # `_k` renamed again here (`_ik`): cand's lineage reaches
        # `nodes` through memb, so joining `nodes` directly would put
        # two same-name attributes in scope.
        scored = (
            cand.join(cur, "id")
            .join(nodes.select("id", F.col("_k").alias("_ik")), "id")
            .join(comm_K, cand._c == comm_K.community)
            .select(
                "id",
                "_c",
                "_a",
                (
                    F.col("_wic")
                    - F.lit(gamma)
                    * F.col("_ik")
                    * (
                        F.col("_K")
                        - F.when(F.col("_c") == F.col("_a"), F.col("_ik")).otherwise(
                            F.lit(0.0)
                        )
                    )
                    / F.lit(float(two_m))
                ).alias("_score"),
            )
        )
        # argmax with ties to the LOWEST community label (labels are
        # strings, so the LPA bitwise-not trick is out): min_by over
        # struct(-score, c) — struct comparison is field-by-field, so
        # -score ascending = score descending, then c ascending. The
        # stay score and the current label ride the SAME aggregation
        # (exactly one _c == _a candidate row exists per id, and _a is
        # constant per id), so the scored subtree — three joins deep —
        # is evaluated once per round instead of feeding a separate
        # filter branch plus two reassembly joins.
        # The explicit id repartition REPLACES the aggregation's
        # ENSURE_REQUIREMENTS exchange (HashPartitioning on the group
        # key satisfies the agg's distribution) AND pre-establishes the
        # par-width id layout the round's checkpoint keeps, so the
        # membership frame pays no second shuffle. min_by/max are
        # order-independent, so the regrouped layout moves no values.
        moved = scored.repartition(par, "id").groupBy("id").agg(
            F.min_by(
                F.struct(F.col("_c"), F.col("_score")),
                F.struct((-F.col("_score")).alias("_ns"), F.col("_c")),
            ).alias("_b"),
            F.max(
                F.when(F.col("_c") == F.col("_a"), F.col("_score"))
            ).alias("_stay"),
            F.max("_a").alias("_a"),
        )
        # parity gate: only one hash-class moves per round
        gate = (F.abs(F.hash(F.col("id"))) % 2) == F.lit(r % 2)
        return moved.select(
            "id",
            F.when(
                gate & (F.col("_b._score") > F.col("_stay") + F.lit(1e-12)),
                F.col("_b._c"),
            )
            .otherwise(F.col("_a"))
            .alias("community"),
        )

    memb, _ = _iterate(
        nodes.select("id", F.col("id").alias("community")),
        step,
        rounds,
        release=(pairs, sym, nodes),
    )
    # canonical labels: the minimum member vertex id
    canon = memb.groupBy("community").agg(F.min("id").alias("_label"))
    return memb.join(canon, "community").select(
        "id", F.col("_label").alias("community")
    )


def _contract_weighted(
    edges: DataFrame, assignment: DataFrame, weight_col: str | None = None
) -> DataFrame:
    """Graph aggregation between ``_coarsen``'s levels → (src, dst,
    weight): communities collapse to super-vertices, parallel
    inter-community edges SUM, and intra-community weight lands on a
    self-loop row (src = dst) — the strength bookkeeping louvain_move's
    weighted mode expects. Total edge weight is conserved level-to-level,
    so 2m — and therefore the meaning of γ — is identical at every
    level. Label propagation reads the result unweighted, which keeps
    only the distinct inter-community pairs."""
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    a_src = assignment.select(F.col("id").alias("src"), F.col("community").alias("_cs"))
    a_dst = assignment.select(F.col("id").alias("dst"), F.col("community").alias("_cd"))
    joined = (
        edges.select("src", "dst", w.alias("_w"))
        .join(a_src, "src")
        .join(a_dst, "dst")
        .select(
            F.least("_cs", "_cd").alias("src"),
            F.greatest("_cs", "_cd").alias("dst"),
            "_w",
        )
    )
    return joined.groupBy("src", "dst").agg(F.sum("_w").alias("weight"))


def _coarsen(
    edges: DataFrame,
    vertices: DataFrame | None,
    levels: int,
    run: Callable[[int, DataFrame, str | None, DataFrame | None, int | None], DataFrame],
    weight_col: str | None = None,
    n_edges_hint: int | None = None,
    until: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """The one multilevel loop of the community hierarchies → (id,
    community_L0, …, community_Lk), materialized, one column per level
    that ran. Level i is ``run(i, graph, weight_col, vertices,
    n_edges_hint)`` → (id, community); the loop owns the rest:

    - level 0 runs on ``edges`` with the caller's ``vertices``,
      ``weight_col`` and ``n_edges_hint``. Each later level runs on the
      graph below contracted by that graph's labels, weighted by
      "weight", with no vertex set, and with the contracted row count as
      its edge-sizing hint. Nothing is contracted after the last level;
    - ``until(labels)``, asked after every level but the last, stops
      the loop by returning True;
    - a contracted graph is materialized with persist()+count(), not
      localCheckpoint: a checkpoint is a stats-free LogicalRDD, and the
      next level's join-heavy rounds planned against one ran 10× slower
      (25 s vs 2.3 s for two rounds on a 41-edge graph, SCALE.md); an
      InMemoryRelation keeps sizeInBytes. At deployment scale each
      level would be written to the lake, the same fix with durability.
      The graph below is freed once the next one is counted;
    - one composition rule: a vertex that a coarser level does not
      label keeps its label from the level below (an edgeless
      super-vertex never reaches a contracted graph);
    - the answer is materialized once; then every level's labels and
      the last contracted graph are freed."""
    labels: list[DataFrame] = []
    graph, w, n = edges, weight_col, n_edges_hint
    for i in range(levels):
        if i:
            coarser = _contract_weighted(graph, labels[-1], w).persist()
            n = coarser.count()
            if graph is not edges:
                graph.unpersist()
            graph, w, vertices = coarser, "weight", None
        labels.append(run(i, graph, w, vertices, n))
        if i < levels - 1 and until is not None and until(labels[-1]):
            break
    out = labels[0].select("id", F.col("community").alias("community_L0"))
    for i, level in enumerate(labels[1:], 1):
        below = f"community_L{i - 1}"
        up = level.select(F.col("id").alias(below), F.col("community").alias("_up"))
        out = out.join(up, below, "left").select(
            *out.columns, F.coalesce("_up", F.col(below)).alias(f"community_L{i}")
        )
    out = out.localCheckpoint(eager=True)
    for level in labels:
        _free_checkpoint(level, reads=True)
    if graph is not edges:
        graph.unpersist()
    return out


def louvain_multilevel(
    edges: DataFrame,
    gamma: float = 1.0,
    rounds: int = 4,
    max_cycles: int = 10,
    vertices: DataFrame | None = None,
    weight_col: str | None = None,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """FULL Louvain at one resolution → (id, community), materialized:
    ``_coarsen`` over levels of the parity-damped move phase
    (louvain_move, ``rounds`` rounds at γ), each on the graph the level
    below contracts to, until a cycle shrinks the community count by
    less than _MIN_SHRINK (or ``max_cycles``). A single synchronous
    move phase from singletons mostly forms PAIRS (measured at 99k
    vertices: 99k → 50.6k communities after one phase, vs exact
    Leiden's 4.4k final) — the aggregate-and-move-again loop is what
    lets communities grow past the one-phase horizon, exactly as in
    sequential Louvain. Each cycle costs one contraction plus `rounds`
    move rounds ON THE CONTRACTED graph, which shrinks geometrically,
    so the loop is front-loaded: cycle 1 dominates. The convergence
    check is a distinct count of the cycle's labels over the edge
    endpoints (a driver scalar, like the kcore fixpoint test), run in
    line after every cycle but the last; the cycles' labels compose
    once, when the answer is materialized.
    Measured at reference scale (99k/124k, γ=2.0): RB quality 51k
    after one phase → 83k at the default budget (125 s) → plateau
    ~87k ≈ 0.76× exact Leiden at rounds=8/20 cycles — the damped
    synchronous argmax trades the last fraction of sequential-Leiden
    quality for never collecting the graph (full table and the
    three-rung quality ladder in SCALE.md)."""
    counts: list[int] = []

    def settled(labels: DataFrame) -> bool:
        if not counts and vertices is not None:
            # Every cycle counts the vertices that reach the next
            # contracted graph: edge endpoints. An edgeless vertex of
            # ``vertices`` is a level-0 singleton no later cycle sees,
            # and counting it overstated the first shrink.
            ends = edges.select(F.col("src").alias("id")).union(
                edges.select(F.col("dst").alias("id"))
            )
            labels = labels.join(ends, "id", "left_semi")
        counts.append(labels.select("community").distinct().count())
        return len(counts) > 1 and counts[-1] >= counts[-2] * (1.0 - _MIN_SHRINK)

    out = _coarsen(
        edges,
        vertices,
        max(max_cycles, 1),
        lambda _, g, w, v, n: louvain_move(g, gamma, rounds, v, w, n),
        weight_col,
        n_edges_hint,
        until=settled,
    )
    return out.select("id", F.col(out.columns[-1]).alias("community"))


def detect_communities_louvain(
    vertices: DataFrame,
    edges: DataFrame,
    resolutions: tuple[float, float, float] = (2.0, 0.5, 0.1),
    rounds_per_level: tuple[int, int, int] = (4, 4, 4),
) -> DataFrame:
    """G3, fully distributed Louvain ladder → (id, community_L0,
    community_L1, community_L2), materialized: the complete
    move-AND-AGGREGATE scheme — ``_coarsen`` with one level per
    resolution, each level louvain_multilevel (up to 3 move→contract
    cycles, itself a ``_coarsen``) at γ=2.0 on the input graph, then at
    γ=0.5 and γ=0.1 on successively coarser weighted super-vertex
    graphs. Same consumer contract as detect_communities (per-vertex
    ids at three granularities, nested by construction, deterministic,
    every vertex labelled at every level) and the same reference
    resolutions as the exact Leiden rung — but optimizing actual RB
    modularity at every level with nothing ever collected, which is the
    100 TB upgrade over the LPA ladder's propagation heuristic. Quality
    sits between LPA and exact Leiden (three-rung table in SCALE.md);
    raise max_cycles in louvain_multilevel when quality is worth more
    wall time."""
    return _coarsen(
        edges,
        vertices,
        len(resolutions),
        lambda i, g, w, v, n: louvain_multilevel(
            g,
            resolutions[i],
            rounds_per_level[i],
            max_cycles=3,
            vertices=v,
            weight_col=w,
            n_edges_hint=n,
        ),
    )


def rb_quality_agg(
    edges: DataFrame, membership: DataFrame, gamma: float
) -> DataFrame:
    """Distributed RB-configuration quality of a partition as a 1-row
    DataFrame (column ``quality``) — the same objective the vendored
    Leiden maximizes (graph/leiden.py:rb_quality), computed with joins
    and aggregates so partition quality is measurable on a graph that
    never fits a driver: Q(γ) = Σ_c e_c − γ · Σ_c K_c² / 2m."""
    canon = _canonical_pairs(edges)
    m_lo = membership.select(F.col("id").alias("lo"), F.col("community").alias("_cl"))
    m_hi = membership.select(F.col("id").alias("hi"), F.col("community").alias("_ch"))
    intra = (
        canon.join(m_lo, "lo")
        .join(m_hi, "hi")
        .filter(F.col("_cl") == F.col("_ch"))
        .agg(F.count(F.lit(1)).cast("double").alias("_e_intra"))
    )
    sym = canon.select(F.col("lo").alias("id")).unionByName(
        canon.select(F.col("hi").alias("id"))
    )
    k = sym.groupBy("id").agg(F.count(F.lit(1)).cast("double").alias("_k"))
    K2 = (
        membership.join(k, "id", "left")
        .groupBy("community")
        .agg(F.sum(F.coalesce("_k", F.lit(0.0))).alias("_K"))
        .agg(F.sum(F.col("_K") * F.col("_K")).alias("_sumK2"))
    )
    two_m = k.agg(F.sum("_k").alias("_2m"))
    return (
        intra.crossJoin(K2)
        .crossJoin(two_m)
        .select(
            (
                F.col("_e_intra")
                - F.lit(gamma) * F.col("_sumK2") / F.greatest("_2m", F.lit(1.0))
            ).alias("quality")
        )
    )


def _walk_graph(
    edges: DataFrame, weight_col: str | None = None, extra_ids: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Random-walk inputs of pagerank and personalized_pagerank →
    verts (id, _dangling: no out-edge) over every endpoint plus
    ``extra_ids``, and out_edges (src, dst, deg, _w) pre-partitioned by
    src so supersteps shuffle only the |V|-row rank table.

    Weight w is exactly equivalent to w parallel unit edges (pinned in
    pytest). Non-positive weights are dropped up front: a w<=0 edge has
    no random-walk meaning, and Σw = 0 would divide by zero and spread
    NaN; a source left with no positive edge becomes dangling."""
    ids = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    if extra_ids is not None:
        ids = ids.unionByName(extra_ids)
    w_expr = F.col(weight_col) if weight_col else F.lit(1.0)
    if weight_col:
        edges = edges.filter(F.col(weight_col) > 0)
    deg = edges.groupBy("src").agg(F.sum(w_expr).alias("deg"))
    has_out = deg.select(F.col("src").alias("id"), F.lit(False).alias("_has_out"))
    verts = (
        ids.distinct()
        .join(has_out, "id", "left")
        .select("id", F.col("_has_out").isNull().alias("_dangling"))
        .localCheckpoint(eager=False)
    )
    out_edges = (
        edges.withColumn("_w", w_expr)
        .join(deg, "src")
        .select("src", "dst", "deg", "_w")
        .repartition("src")
        .localCheckpoint(eager=False)
    )
    return verts, out_edges


def _power_iteration(
    verts: DataFrame,
    out_edges: DataFrame,
    init: Column,
    iters: int,
    damping: float,
    restart: Column,
    dangling_share: Column,
) -> DataFrame:
    """The superstep pagerank and personalized_pagerank share → (id,
    rank) after ``iters`` rounds from rank = ``init``:
    rank' = restart + d·(received + dangling_share), received =
    Σ rank·w/deg over in-edges. ``dangling_share`` may read `_dm`, the
    rank mass on dangling vertices, folded into the plan as a broadcast
    one-row aggregate: no driver round trip, no re-read of the edges."""

    def step(ranks: DataFrame, _: int) -> DataFrame:
        dm = ranks.filter("_dangling").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
        )
        received = (
            out_edges.join(ranks, out_edges.src == ranks.id)
            .select("dst", (F.col("rank") * F.col("_w") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("received"))
        )
        return (
            verts.join(received, verts.id == received.dst, "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "id",
                "_dangling",
                (
                    restart
                    + F.lit(damping)
                    * (F.coalesce("received", F.lit(0.0)) + dangling_share)
                ).alias("rank"),
            )
        )

    ranks, _ = _iterate(
        verts.withColumn("rank", init), step, iters, release=(verts, out_edges)
    )
    return ranks.select("id", "rank")


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank by power iteration over DataFrames → (id, rank).

    Per superstep: each vertex sends rank/out_degree along its out
    edges; new rank = (1-d)/N + d·(received + dangling_mass/N). Shuffle
    budget per superstep: one join on src + one groupBy on dst — the
    edge table is pre-partitioned by src once, so iterations shuffle
    only the (|V|-row) rank table. (Extension beyond the reference —
    its graph analytics stop at Leiden communities; this rounds out
    the GraphX-style surface next to LPA/components/closure.)"""
    verts, out_edges = _walk_graph(edges, weight_col)
    n = verts.count()
    return _power_iteration(
        verts,
        out_edges,
        F.lit(1.0 / n),
        iters,
        damping,
        restart=F.lit((1.0 - damping) / n),
        dangling_share=F.col("_dm") / F.lit(n),
    )


def bfs_distances(
    edges: DataFrame, sources: DataFrame, max_depth: int = 6
) -> DataFrame:
    """Unweighted shortest-path distances from a source set → (id,
    dist), reachable-within-max_depth only. Frontier BFS: round r joins
    the frontier (the visited rows at dist r) to the edge table and
    anti-joins the visited set — join rows per round = |frontier|,
    not |V|.

    GraphFrames.shortestPaths analog; bounded depth makes the result
    SQL-expressible (recursive CTE with the same bound), so unlike
    most iterative ops this one gets a full value-hash oracle."""
    visited = sources.select("id").distinct().withColumn("dist", F.lit(0))
    visited = visited.localCheckpoint(eager=False)
    e = edges.select("src", "dst").distinct().repartition("src")
    e = e.localCheckpoint(eager=False)

    def step(visited: DataFrame, r: int) -> DataFrame:
        frontier = visited.filter(F.col("dist") == r)
        nxt = (
            e.join(frontier, e.src == frontier.id)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("dist", F.lit(r + 1))
        )
        return visited.unionByName(nxt)

    def exhausted(visited: DataFrame, r: int) -> bool:  # no vertex at dist r+1
        return visited.filter(F.col("dist") == r + 1).count() == 0

    return _iterate(visited, step, max_depth, until=exhausted, release=(e,))[0]


def triangle_count(edges: DataFrame, max_forward_degree: int | None = None) -> DataFrame:
    """Triangle counting → one row (a, b, c) per triangle — the classic
    clustering/community-density primitive Spark lacks natively. Uses
    the degree-ordering trick that makes the join
    tractable at scale: every edge is oriented low-id → high-id, so
    each triangle {a,b,c} (a<b<c) is found EXACTLY once as
    (a,b)+(b,c)+(a,c) — no 6× duplicate enumeration, and the wedge
    join (a,b)⋈(b,c) fans out only on each vertex's FORWARD degree,
    which ordering keeps far below total degree on skewed graphs.
    count() or a groupBy on a vertex yields the aggregate forms.

    ``max_forward_degree`` is the mega-hub guardrail (same philosophy
    as the dedup layer's max_bucket/max_block; see _canonical_pairs):
    triangles involving the dropped hub fan-outs are undercounted, the
    standard approximate-triangle trade.

    Build-side memory bound: the shuffle_hash hints below force
    ShuffledHashJoinExec, whose build-side hash map does NOT spill —
    the row-asymmetry argument says SHJ is the cheaper strategy, not
    that it is memory-safe unconditionally. Each build partition holds
    one post-shuffle slice of the canonical edge table, so the bound
    is edge_bytes / shuffle_partitions per task: at 100 TB-scale edge
    tables size shuffle partitions so that slice fits executor memory
    (AQE skew-split applies to SHJ and advisory partition sizing keeps
    slices bounded), or drop the hints and let the planner fall back
    to sort-merge, which spills. Uncapped callers (e.g.
    graph_clustering_coefficient, which invokes this without
    max_forward_degree) inherit the same bound."""
    canon = _canonical_pairs(edges, max_forward_degree=max_forward_degree)
    ab = canon.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    # Shuffled-hash, not sort-merge, on both wedge joins (guide §3.1):
    # the build side of each is the canonical EDGE table while the
    # probe side is the WEDGE stream (edges × fwd-degree rows) — the
    # asymmetry holds at any scale, and SMJ would sort the wedge
    # stream just to throw the order away in the count/agg consumers.
    # Measured at sf0.1 (graph_triangle_count isolate): 8.63 s SMJ →
    # 4.30 s SHJ, identical rows. Per-partition build = the post-AQE
    # slice of the edge table (advisory-sized), and AQE skew-split
    # applies to shuffled-hash joins too.
    bc = canon.select(F.col("lo").alias("b"), F.col("hi").alias("c")).hint(
        "shuffle_hash"
    )
    ac = canon.select(F.col("lo").alias("a"), F.col("hi").alias("c")).hint(
        "shuffle_hash"
    )
    return ab.join(bc, "b").join(ac, ["a", "c"]).select("a", "b", "c")


def triangle_count_estimate(
    edges: DataFrame,
    p: float,
    seed: int = 42,
    max_forward_degree: int | None = None,
) -> DataFrame:
    """DOULION edge-sampling triangle estimator (Tsourakakis et al.,
    KDD 2009) — the scale path for the wedge-volume-bound regime where
    exact enumeration is workload-inherent-infeasible (r11 measured
    the guarded exact at the 100× co-purchase graph: 4.82B wedges ≈
    116 GB shuffle, beyond one node's scratch; DuckDB dies on the
    identical SQL). Each CANONICAL edge survives a deterministic
    seeded coin with probability ``p``; exact triangle enumeration on
    the sparsified graph, scaled by 1/p³ — an unbiased estimator,
    since a triangle survives iff its 3 edges all do (p³). Wedge
    volume drops by p² (both wedge edges must survive), so the 4.82B-
    wedge graph at p=0.1 enumerates ~48M wedges — one small pass.

    The coin is xxhash64(lo, hi, seed) mapped to [0,1): deterministic
    per edge (re-runs and retries sample the SAME subgraph — the
    property that makes the estimate value-oracle-able as a seeded
    contract), independent across edges in the hash-function sense
    the estimator needs. ``max_forward_degree`` applies the exact
    operator's hub guardrail BEFORE sampling, so the estimate targets
    the same guarded triangle set as triangle_count with the same cap
    (one linear degree pass on the canonical edges — cheap — and the
    sampled wedge join stays bounded by cap²·p² per hub besides).

    Returns ONE row: (n_sampled_triangles, est_triangles = sampled/p³
    as double, p). Variance ~ T·(1/p³−1) + cross terms (the paper's
    Lemma 2) — at fixture scale the seeded estimate is a fixed number;
    the registered contract pins it inside a proven band of the exact
    count."""
    if not (0.0 < p <= 1.0):
        raise ValueError(f"triangle_count_estimate: p must be in (0, 1], got {p}")
    canon = _canonical_pairs(edges, max_forward_degree=max_forward_degree)
    # deterministic per-edge coin in [0,1): xxhash64 → non-negative →
    # 53-bit mantissa-exact division (2^53 buckets ≫ any useful p)
    coin = F.pmod(F.xxhash64("lo", "hi", F.lit(seed)), F.lit(2**53)) / F.lit(
        float(2**53)
    )
    # The SAMPLED table (p× smaller) fans out into 3 wedge-join sides;
    # checkpoint it, never the full canonical edge table — at the 100×
    # co-purchase graph the full table is 119.6M rows and materializing
    # it as a checkpoint OOMs a 16 GiB heap before the estimator does
    # any work, while the p=0.1 sample is ~12M rows. Upstream canon is
    # recomputed once per consumer (degree pass + this filter), two
    # linear passes traded for bounded memory.
    sampled = canon.filter(coin < F.lit(p)).localCheckpoint(eager=False)
    ab = sampled.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    # Same shuffled-hash choice as triangle_count: build = sampled
    # edges, probe = sampled wedge stream (p²× the full volume).
    bc = sampled.select(F.col("lo").alias("b"), F.col("hi").alias("c")).hint(
        "shuffle_hash"
    )
    ac = sampled.select(F.col("lo").alias("a"), F.col("hi").alias("c")).hint(
        "shuffle_hash"
    )
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    return tri.agg(F.count(F.lit(1)).alias("n_sampled_triangles")).select(
        "n_sampled_triangles",
        (F.col("n_sampled_triangles") / F.lit(float(p) ** 3)).alias(
            "est_triangles"
        ),
        F.lit(float(p)).alias("p"),
    )


def link_prediction_scores(
    edges: DataFrame, max_center_degree: int | None = None
) -> DataFrame:
    """Common-neighbors + Adamic-Adar link prediction → one row per
    NON-adjacent
    vertex pair (u < w) that shares ≥1 neighbor, with
    ``common_neighbors`` and ``adamic_adar`` = Σ_z 1/ln(deg(z)) over
    shared neighbors z — the standard missing-edge ranking primitive
    (GraphRAG: suggest entity links the extractor missed).

    Scale shape: one wedge self-join keyed on the CENTER vertex, so
    cost is Σ_z deg(z)² — the same hub hazard as triangle counting,
    guarded the same way: ``max_center_degree`` drops centers above
    the cap before the join (celebrity hubs contribute the LEAST
    per-wedge Adamic-Adar weight, 1/ln(deg), so the guardrail removes
    the most expensive and least informative wedges first). Degrees
    are computed on the FULL graph before capping, so surviving
    scores are exact. Per-wedge AA weights are quantized to integer
    micro-units before the sum (floor(1e6/ln(deg)+0.5) summed in
    int64) — order-independent accumulation, cross-engine exact, same
    discipline as the LM/k-means oracles."""
    canon = _canonical_pairs(edges)
    adj = canon.select(F.col("lo").alias("z"), F.col("hi").alias("n")).unionByName(
        canon.select(F.col("hi").alias("z"), F.col("lo").alias("n"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg if max_center_degree is None else deg.filter(
        F.col("deg") <= max_center_degree
    )
    a = adj.select("z", F.col("n").alias("u"))
    b = adj.select("z", F.col("n").alias("w"))
    wedges = (
        a.join(b, "z")
        .filter(F.col("u") < F.col("w"))
        .join(centers, "z")  # inner join applies the cap + carries deg(z)
    )
    scored = wedges.groupBy("u", "w").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum(
            F.floor(F.lit(1_000_000.0) / F.log(F.col("deg").cast("double")) + 0.5)
            .cast("long")
        ).alias("aa6"),
    )
    non_adj = scored.join(
        canon.select(F.col("lo").alias("u"), F.col("hi").alias("w")),
        ["u", "w"],
        "left_anti",
    )
    return non_adj.select(
        "u",
        "w",
        "common_neighbors",
        (F.col("aa6").cast("double") / 1_000_000.0).alias("adamic_adar"),
        "aa6",
    )


def personalized_pagerank(
    edges: DataFrame,
    source_ids: list[str],
    damping: float = 0.85,
    iters: int = 8,
) -> DataFrame:
    """Personalized PageRank: random walks restart at the SOURCE set
    instead of uniformly — the GraphRAG 'relevance to this seed
    entity' primitive (rank mass concentrates around the sources
    instead of global hubs). Teleport vector p(v) = 1/|S| on sources,
    0 elsewhere; per superstep
    rank = (1−d)·p(v) + d·(received + dangling·p(v)) — dangling mass
    returns to the sources, keeping Σrank = 1. Same superstep and
    shuffle budget as pagerank."""
    if not source_ids:
        raise ValueError("personalized_pagerank: source_ids must be non-empty")
    s = float(len(source_ids))
    spark = edges.sparkSession
    # Sources absent from the edge list still carry teleport mass —
    # union them into the vertex set or Σrank silently drops below 1.
    src_verts = spark.createDataFrame(
        [(str(x),) for x in source_ids], schema="id string"
    )
    verts, out_edges = _walk_graph(
        edges,
        extra_ids=src_verts.select(F.col("id").cast(edges.schema["src"].dataType)),
    )
    teleport = F.when(F.col("id").isin(source_ids), F.lit(1.0 / s)).otherwise(
        F.lit(0.0)
    )
    return _power_iteration(
        verts,
        out_edges,
        teleport,
        iters,
        damping,
        restart=(1.0 - damping) * teleport,
        dangling_share=F.col("_dm") * teleport,
    )


def kcore(edges: DataFrame, k: int, max_iter: int | None = None) -> DataFrame:
    """k-core decomposition membership: iteratively peel every vertex
    whose degree in the SURVIVING subgraph is < k until a fixpoint —
    the standard density filter for graph curation (drop barely-
    connected entities before community detection / GNN sampling).

    Returns (id, core_degree): the vertices of the k-core with their
    degree inside the core.

    Scale shape: each round is one degree aggregation plus two
    semi-joins of the edge table against the survivor set, and the
    fixpoint test is a cheap count, not a collect. Rows only ever
    shrink, so the peel terminates in ≤ |E| rounds; by default it
    runs to the guaranteed fixpoint (``max_iter=None``). Passing
    ``max_iter`` turns it into a hard guard: exhausting it before the
    fixpoint RAISES instead of silently returning a superset that may
    still contain sub-k vertices. Because rounds after the fixpoint
    are no-ops, a fixed-unroll SQL replay of ≥ fixpoint depth is
    value-identical (how the oracle checks it).
    """
    canon = _canonical_pairs(edges)
    alive = (
        canon.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .unionByName(canon.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))
        .localCheckpoint(eager=False)
    )
    sizes = [alive.count()]

    def step(alive: DataFrame, _: int) -> DataFrame:
        deg = alive.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
        keep = deg.filter(F.col("_deg") >= k).select("src")
        return (
            alive.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
        )

    def fixpoint(alive: DataFrame, _: int) -> bool:  # nobody fell below k
        sizes.append(alive.count())
        return sizes[-1] == sizes[-2]

    # Each unconverged round drops ≥ 1 edge, so |E| + 1 rounds always
    # reach the fixpoint; a max_iter guard still gets its one round.
    rounds = sizes[0] + 1 if max_iter is None else max(max_iter, 1)
    alive, converged = _iterate(alive, step, rounds, until=fixpoint)
    if not converged:
        raise RuntimeError(
            f"kcore did not reach a fixpoint within max_iter={max_iter} "
            f"peel rounds ({sizes[-1]} directed edges still shrinking); "
            "pass max_iter=None to peel to the guaranteed fixpoint"
        )
    return alive.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )
