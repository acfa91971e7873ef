"""Identity resolution: validation, normalization, connected components.

Reference: union-find with path compression + union-by-rank
(`cdp/identity/IdentityGraph.kt:24-102`), wired by the pipeline which unions
every event's identifier pairs (`cdp/runtime/CdpPipeline.kt:106-119,189-198`).

Spark-first re-expression: the graph is an edges DataFrame; the canonical id
is the lexicographic minimum of each connected component (the deterministic
twin of the reference's tie-breaking; SURVEY §3.2 pins apply-time
resolution).  :func:`_local_components` is the one union-find.  Two routes
reach it:

* :func:`components_for` (the identity map: every CDP query through the
  registry memo, the incremental query's prior, the streaming identity
  stage's first batch) collects the distinct id sets — each a clique of
  ≤ 3 ids — up to ``MAX_LOCAL_CC_EDGES`` sets and solves them on the driver;
* :func:`connected_components` (``dedup.near_dup_clusters``,
  :func:`merge_components` and ``components_for`` above its set cap)
  collects up to ``MAX_LOCAL_CC_EDGES`` node-incident edges, else runs min-label
  propagation with path halving (two joins per round, O(log d) rounds — the
  work shape of large-star/small-star).

GraphFrames' connectedComponents is a drop-in upgrade for the distributed
route when the jar is available.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pulseboard_spark.functions.ids import normalize_id
from pulseboard_spark.session import local_df


def validate_cdp(cdp: DataFrame) -> DataFrame:
    """P1 validation predicate (`cdp/model/CdpEvent.kt:36-44`): at least one
    identifier, and TRACK requires a name.  Adds valid/reason columns; keep
    invalid rows for dead-letter routing."""
    no_id = (
        F.col("user_id_raw").isNull()
        & F.col("anon_id_raw").isNull()
        & F.col("email_raw").isNull()
    )
    track_noname = (F.col("ctype") == "TRACK") & F.col("name").isNull()
    return cdp.withColumn("valid", ~no_id & ~track_noname).withColumn(
        "reason",
        F.when(no_id, F.lit("NO_IDENTIFIER")).when(track_noname, F.lit("TRACK_WITHOUT_NAME")),
    )


def valid_cdp_events(cdp: DataFrame) -> DataFrame:
    """Validated, deduplicated (W1), normalized CDP events.

    Dedup: the reference drops duplicate eventIds per profile within a TTL
    (`cdp/runtime/CdpEventProcessor.kt:181-187`); the batch twin keeps one
    row per event_id (duplicate injections are exact row copies).
    Normalization applies F1 to each raw identifier.
    """
    v = validate_cdp(cdp).filter("valid")
    return (
        v.select(
            "event_id",
            "ts_us",
            "ts_ms",
            "ctype",
            "name",
            "plan",
            "country",
            F.when(F.col("user_id_raw").isNotNull(), normalize_id(F.col("user_id_raw"))).alias("nuser"),
            F.when(F.col("anon_id_raw").isNotNull(), normalize_id(F.col("anon_id_raw"))).alias("nanon"),
            F.when(F.col("email_raw").isNotNull(), normalize_id(F.col("email_raw"))).alias("nemail"),
        )
        .dropDuplicates(["event_id"])
    )


def _ids_array() -> F.Column:
    """Sorted array of the event's (≤3) normalized identifiers, JVM-side."""
    return F.array_sort(
        F.array_compact(F.array(F.col("nuser"), F.col("nanon"), F.col("nemail")))
    )


def identity_edges(cvalid: DataFrame) -> DataFrame:
    """Distinct undirected edges (a < b) from each event's identifier set —
    the DataFrame twin of pairwise union in canonicalIdFor
    (`IdentityGraph.kt:89-102`).

    Pair expansion is a higher-order array expression inside one scan — no
    self-join, no shuffle before the final ``distinct`` (and the id arrays
    are ≤3 wide, so the flatten is bounded)."""
    pairs = F.expr(
        """
        flatten(transform(__ids, (x, i) ->
            transform(slice(__ids, i + 2, size(__ids) - i - 1),
                      y -> struct(x AS a, y AS b))))
        """
    )
    return (
        cvalid.select(_ids_array().alias("__ids"))
        .select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


def identity_nodes(cvalid: DataFrame) -> DataFrame:
    return (
        cvalid.select(F.explode(_ids_array()).alias("id"))
        .distinct()
    )


#: Broadcast-class ceiling for the local union-find fast path: ~500k edges
#: of short string ids ≈ tens of MB on the driver — the same memory class
#: Spark itself accepts for a broadcast join side.  Identity/near-dup
#: graphs are AGGREGATES (distinct ids/pairs), typically orders of
#: magnitude smaller than the event stream, so most real corpora take the
#: local path; the distributed fixpoint below is the ≥ threshold path.
#: :func:`components_for` caps its distinct id SETS by the same number;
#: a set holds ≤ 3 ids (user, anon, email), so that route holds at most
#: 3 × the cap ids and 2 × the cap edges on the driver.
MAX_LOCAL_CC_EDGES = 500_000

#: Round cap of the distributed fixpoint; path halving converges in
#: O(log diameter) rounds, so the cap is a runaway guard, not a budget.
MAX_CC_ROUNDS = 50


def _local_components(node_rows, edge_rows):
    """Driver-side union-find with path compression; labels = min id per
    set — exactly the distributed fixpoint's contract."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    members: dict = {}
    for (n,) in node_rows:
        members.setdefault(find(n), []).append(n)
    out = []
    for group in members.values():
        label = min(group)
        out.extend((n, label) for n in group)
    return out


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    seed: DataFrame | None = None,
) -> DataFrame:
    """(id, component) with component = min id reachable; min-label
    propagation with path halving, to fixpoint.

    Size-guarded fast path: the node ids are materialized once (both the
    probe and the labelling read them), and the edges whose endpoints are
    both node ids (a semi-join on each endpoint inside the plan — null and
    foreign endpoints drop out, as they never equi-join in the fixpoint)
    are collected once, capped at ``MAX_LOCAL_CC_EDGES + 1``.  At or below
    the ceiling the edge list is broadcast-class, so the components are
    solved with a driver-side union-find and the node ids are labelled by
    one broadcast left join (an id on no edge is its own component) — a
    handful of Spark jobs instead of ~2 jobs per fixpoint round, which
    dominates wall time on small graphs.  Callers: ``dedup.near_dup_clusters``,
    :func:`merge_components`, and :func:`components_for` above its id-set
    cap (below it the identity map skips this function).  The local route
    ignores ``seed``: union-find needs no head start.  Above the guard the
    distributed fixpoint below runs unchanged; both paths share the
    min-label contract and are pinned equal by test (which sets the
    constant to 0 to force the distributed path).

    Each round: (1) component[id] ← min(component[id], min of neighbors'
    components) — one join + partial-aggregated groupBy; (2) path halving:
    component[id] ← component[component[id]] — one self-join, which makes
    label distance shrink geometrically (the two-join round is the same
    work shape as large-star/small-star and converges in O(log diameter)
    rounds).  One localCheckpoint materializes each round's result exactly
    once — the convergence test reuses the checkpointed blocks rather than
    re-running the round's plan — and truncates lineage so the plan doesn't
    grow across iterations.  Driver sees only a 0/1 changed count per round.

    ``seed`` (optional): previous (id, component) labels for *incremental*
    recomputation — a prior label is the min id of the node's old component,
    itself a member of the (only grown) new component, so seeding preserves
    the invariant "label = some reachable id" and the fixpoint is unchanged
    while convergence starts several rounds ahead (the foreachBatch identity
    stage uses this; SURVEY §3.2/§4.2 item 3).

    Only edge-incident nodes enter the iteration: an isolated node's
    component can never change (its neighbor-min is always null), so its
    label is final at init.  In the dominant sparse case (doc near-dup
    graphs: ~1% of a corpus has a near-dup) this shrinks every round's
    join/shuffle from |V| to |V_incident| — the piece that matters when V
    is 10^11 ids at 100 TB and the pair graph is thin.
    """
    limit = MAX_LOCAL_CC_EDGES
    if limit > 0:
        # one stored copy, so both semi-joins share one broadcast and the
        # labelling join below scans blocks instead of re-deriving nodes
        ids = nodes.select("id").localCheckpoint()
        e = edges.select("a", "b")
        probe = (
            e.join(ids, e["a"] == ids["id"], "left_semi")
            .join(ids, e["b"] == ids["id"], "left_semi")
            .limit(limit + 1)
            .collect()
        )
        if len(probe) <= limit:
            # Driver memory is bounded by the EDGE guard alone: only the
            # edge-incident ids are held (≤ 2·|E|), never the nodes table
            # — the thin-graph-at-scale case is exactly |V| huge with |E|
            # small.
            incident = sorted({x for r in probe for x in r})
            rows = _local_components([(n,) for n in incident], probe)
            labels = local_df(
                nodes.sparkSession, rows, ids.select("id", F.col("id").alias("component")).schema
            )
            return ids.join(F.broadcast(labels), "id", "left").select(
                "id", F.coalesce(F.col("component"), F.col("id")).alias("component")
            )
        nodes = ids

    sym = edges.select("a", "b").unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym.cache()
    init = nodes.select(F.col("id"), F.col("id").alias("component"))
    if seed is not None:
        init = (
            init.join(seed.select(F.col("id"), F.col("component").alias("prev")), "id", "left")
            .select("id", F.least(F.col("component"), F.coalesce(F.col("prev"), F.col("component"))).alias("component"))
        )
    # Materialized: tiny (distinct edge endpoints), and the isolated branch
    # of the result is consumed lazily after sym is unpersisted — without
    # this the anti-join would re-derive the edge union per action.
    incident = sym.select("a").distinct().withColumnRenamed("a", "id").localCheckpoint()
    isolated = init.join(incident, "id", "left_anti")
    comp = init.join(incident, "id", "left_semi").localCheckpoint()
    for _ in range(MAX_CC_ROUNDS):
        nbr_min = (
            sym.join(comp, sym["a"] == comp["id"])
            .select(F.col("b").alias("id"), F.col("component"))
            .groupBy("id")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = comp.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))).alias(
                "mid_component"
            ),
            "component",
        )
        # path halving: follow the label one hop (component of my component)
        hop = comp.select(F.col("id").alias("mid_component"), F.col("component").alias("hop_component"))
        updated = (
            stepped.join(hop, "mid_component", "left")
            .select(
                "id",
                F.least(F.col("mid_component"), F.coalesce(F.col("hop_component"), F.col("mid_component"))).alias(
                    "new_component"
                ),
                "component",
            )
            .localCheckpoint()
        )
        changed = updated.filter(F.col("new_component") != F.col("component")).limit(1).count()
        comp = updated.select("id", F.col("new_component").alias("component"))
        if changed == 0:
            break
    sym.unpersist()
    return comp.unionByName(isolated)


def components_for(cvalid: DataFrame) -> DataFrame:
    """Identity component map (id, component = min id) of the valid CDP
    events.  The registry's ``_components`` memo (so every CDP query),
    ``identity_components_incremental``'s prior and ``CdpIdentityStage``'s
    first batch all build it here.

    Every event's id set (≤ 3 normalized ids) is a clique, so the distinct
    sets hold both the nodes and the connectivity.  One collect of up to
    ``MAX_LOCAL_CC_EDGES + 1`` distinct sets is the size probe and, at or
    below the cap, the whole input of :func:`_local_components` (nodes:
    every id; edges: ``(s[0], y)`` for ``y`` in ``s[1:]``).  The labels
    come back as one partition, so a broadcast of the map reads one block.
    Driver bound: ≤ 3 × the cap ids.

    Above the cap, :func:`connected_components` runs over the identity
    nodes and edges with a clique-min head start: labelling each id with
    the min over its events is exactly one neighbor-min propagation round,
    computed as one explode+groupBy (no join against the edge list);
    correctness is the seed contract (label = an id reachable from the
    node)."""
    limit = MAX_LOCAL_CC_EDGES
    if limit > 0:
        sets = [r[0] for r in cvalid.select(_ids_array()).distinct().limit(limit + 1).collect()]
        if len(sets) <= limit:
            rows = _local_components(
                [(x,) for x in sorted({x for s in sets for x in s})],
                [(s[0], y) for s in sets for y in s[1:]],
            )
            schema = "id string NOT NULL, component string NOT NULL"
            return local_df(cvalid.sparkSession, rows, schema).coalesce(1)
    clique_min = (
        cvalid.select(_ids_array().alias("__ids"))
        .filter(F.size("__ids") > 1)
        .select(F.explode("__ids").alias("id"), F.array_min("__ids").alias("m"))
        .groupBy("id")
        .agg(F.min("m").alias("component"))
    )
    return connected_components(identity_nodes(cvalid), identity_edges(cvalid), seed=clique_min)


def merge_components(
    prior: DataFrame, delta_nodes: DataFrame, delta_edges: DataFrame
) -> DataFrame:
    """Incremental component refresh WITHOUT rescanning historical edges:
    fold a delta edge batch into a prior (id, component) label map.

    The prior map is connectivity-complete for everything already seen, so
    each labeled node contributes one *star edge* (component — id); CC over
    star ∪ delta edges equals CC over (all historical ∪ delta) edges —
    the standard label-map contraction.  At 100 TB this is the difference
    between reprocessing a petabyte-class accumulated edge log per refresh
    and touching only |ids| labels + the day's delta (the streaming
    identity stage, ``CdpIdentityStage``, folds each micro-batch in this
    way).  Convergence is fast by construction: the star forest has depth
    1, so only components actually bridged by delta edges move labels.
    Equivalence with a full recompute is pinned by ``TestMergeComponents``
    and by the `identity_components_incremental` registry query, which
    shares the full-graph oracle.
    """
    star = prior.filter(F.col("id") != F.col("component")).select(
        F.col("component").alias("a"), F.col("id").alias("b")
    )
    nodes = prior.select("id").unionByName(delta_nodes.select("id")).distinct()
    edges = star.unionByName(delta_edges.select("a", "b"))
    return connected_components(nodes, edges, seed=prior)


def resolve_profiles(cvalid: DataFrame, comp: DataFrame) -> DataFrame:
    """Attach the canonical profile_id to each valid event (apply-time
    resolution): the component of any of the event's ids — the event's own
    ids are mutually unioned, so any representative resolves identically."""
    key = F.coalesce(F.col("nuser"), F.col("nanon"), F.col("nemail"))
    return (
        cvalid.withColumn("pkey", key)
        .join(F.broadcast(comp.withColumnRenamed("id", "pkey")), "pkey")
        .withColumnRenamed("component", "profile_id")
        .drop("pkey")
    )


#: PageRank's damping factor (the textbook 0.85).
PAGERANK_DAMPING = 0.85
#: Supersteps between two frontier checkpoints (see :func:`pagerank`).
PAGERANK_CHECKPOINT_EVERY = 2


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 10,
) -> DataFrame:
    """Power-iteration PageRank over an undirected edge list — ranks hub
    identifiers (ids that co-occur with many well-connected ids), the
    prioritization complement to :func:`connected_components`' membership
    answer.  Returns (id, rank) with ranks summing to ~1.

    Spark-shaped iteration:

    * the graph size ``N`` and each node's degree are 1-row / node-sized
      aggregates joined back by broadcast — no driver ``count()``;
    * each round is contribution = ranks ⋈ symmetric edges (shuffle on
      the edge key) → groupBy(dst) sum — the canonical distributed
      PageRank step; dangling (degree-0) mass is re-spread uniformly via
      a 1-row aggregate broadcast-joined back (the textbook dangling-node
      treatment, so ranks keep summing to 1);
    * ``PAGERANK_CHECKPOINT_EVERY`` MATERIALIZES the frontier every K rounds
      (eager ``localCheckpoint``) — non-optional in spirit: each round
      references the previous ranks twice (contribution + dangling), so
      a fully lazy build doubles the logical TREE per round and Catalyst
      analysis goes exponential (measured: 12 lazy rounds pinned the
      driver for 30+ min before any job).  Checkpointed supersteps are
      how every production iterative-graph engine runs; K=2 bounds the
      inter-checkpoint tree at 4 copies.  Because every construction runs
      jobs, the registry entry is in ``_CONSTRUCTION_COMPUTE`` (same class
      as ``bpe_train``).

    Determinism: per-dst contribution sums (and the dangling-mass sum)
    are routed ``duck_round(x, 12) → DECIMAL(27,12) → sum → double`` —
    decimal addition is exact and order-free, so the result is bit-stable
    under any shuffle order AND bit-reproducible by the DuckDB oracle's
    unrolled-iteration replay (``oracle/sql.py::identity_pagerank`` —
    the EWMA/Holt recurrence-replay recipe applied to a graph fixpoint).
    The 1e-12 contribution quantization perturbs ranks ~1e-11 over 10
    rounds; ``TestPagerank`` still pins values against a dense NumPy
    power iteration to 1e-9 and exact ranking on a separated graph.
    Run-to-run bit-stability is also what a production 100 TB job wants:
    a re-run on a different cluster layout emits byte-identical ranks.
    """
    from pulseboard_spark.functions.core import duck_round

    def _det_sum(col: Column) -> Column:
        return F.sum(duck_round(col, 12).cast("decimal(27,12)")).cast("double")

    sym = edges.select("a", "b").unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # cached/materialized once: every superstep's contribution join reads
    # sym and every rank rebuild reads base — without this, each
    # checkpoint action rescans the edge source and re-runs the union +
    # degree aggregate (same reason connected_components caches sym)
    sym.cache()
    deg = sym.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    n_tot = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    base = (
        nodes.join(deg, "id", "left")
        .join(F.broadcast(n_tot))
        .select("id", F.coalesce("deg", F.lit(0)).alias("deg"), "_n")
        .localCheckpoint()
    )
    ranks = base.select("id", "deg", "_n", (F.lit(1.0) / F.col("_n")).alias("rank"))
    for i in range(iters):
        contrib = (
            ranks.filter(F.col("deg") > 0)
            .select(F.col("id").alias("a"), (F.col("rank") / F.col("deg")).alias("c"))
            .join(sym, "a")
            .groupBy(F.col("b").alias("id"))
            .agg(_det_sum(F.col("c")).alias("inflow"))
        )
        dangling = ranks.agg(
            F.coalesce(
                _det_sum(F.when(F.col("deg") == 0, F.col("rank"))), F.lit(0.0)
            ).alias("_dangle")
        )
        ranks = (
            base.join(contrib, "id", "left")
            .join(F.broadcast(dangling))
            .select(
                "id",
                "deg",
                "_n",
                (
                    (1.0 - PAGERANK_DAMPING) / F.col("_n")
                    + PAGERANK_DAMPING
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("_dangle") / F.col("_n")
                    )
                ).alias("rank"),
            )
        )
        if (i + 1) % PAGERANK_CHECKPOINT_EVERY == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint()
    # final materialization makes the result self-contained so sym can be
    # released before the consumer runs its action
    ranks = ranks.localCheckpoint()
    sym.unpersist()
    return ranks.select("id", "rank")


def triangle_counts(cvalid: DataFrame) -> DataFrame:
    """Per-identifier triangle counts over the identity graph — the
    over-merge density signal: an alias edge shared by many triangles is
    corroborated (several events independently link the same identifiers),
    while a bridge edge in zero triangles is the classic wrong-merge
    suspect connecting two otherwise-unrelated cliques.

    Counting is the standard oriented wedge join on the (a < b)-ordered
    distinct edge set: wedges (x,y)(y,z) closed by (x,z) — each triangle
    {x<y<z} counted exactly once, two shuffles on edge keys.  Nodes in no
    triangle surface with 0.  At production scale the orientation knob is
    (degree, id) order instead of plain id order — it bounds wedge
    fan-out by hub out-degree (√m) without changing the triangle set;
    identity graphs keep per-profile id counts small, so id order
    suffices here (and matches the oracle verbatim).
    """
    e = identity_edges(cvalid)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(closing, ["x", "z"])
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nodes = identity_nodes(cvalid)
    return nodes.join(per_node, "id", "left").select(
        "id", F.coalesce(F.col("n"), F.lit(0)).alias("n_triangles")
    )


def edge_support(cvalid: DataFrame) -> DataFrame:
    """Per-EDGE triangle support over the identity graph — the edge-grain
    refinement of :func:`triangle_counts`: support(a,b) = number of
    triangles the alias edge (a,b) participates in, i.e. the count of
    identifiers linked to BOTH endpoints.  A zero-support edge is a
    graph bridge — the single uncorroborated event gluing two otherwise
    unrelated identity cliques, the classic wrong-merge to quarantine —
    while high support means independent corroboration (this is exactly
    the truss/support notion from k-truss decomposition, at one level).

    Same oriented wedge join as :func:`triangle_counts` (two shuffles on
    edge keys, fan-out bounded by per-profile id-set width); each closed
    triangle {x<y<z} credits its three edges (x,y)(y,z)(x,z) once, and
    the full (a < b) edge list left-joins the credits so bridges surface
    with 0.
    """
    e = identity_edges(cvalid)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(closing, ["x", "z"])
    tri_edges = F.array(
        F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
        F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
        F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
    )
    per_edge = (
        tri.select(F.explode(tri_edges).alias("e"))
        .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return e.join(per_edge, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("support"),
        (F.coalesce(F.col("n"), F.lit(0)) == 0).alias("is_bridge"),
    )


def canonical_sessions(evprof: DataFrame) -> DataFrame:
    """Cross-device sessionization: gap-based sessions keyed by the
    identity graph's canonical ``profile_id`` instead of any single raw
    identifier — the stitched-journey view the CDP identity layer exists
    to enable (reference semantics: `cdp/identity/IdentityGraph.kt`
    resolution feeding per-profile processing).  ``n_identifiers`` counts
    the distinct raw identifiers participating in each session — the
    cross-device measure a device-keyed sessionizer cannot produce
    (it would split this journey into one session per device).

    Scale: input rides :func:`resolve_profiles` (component map is a
    broadcast join) and the memoized component fixpoint; here one
    shuffle on profile_id serves both the ordering window and the
    session rollup."""
    from pulseboard_spark.operators.sessions import SESSION_GAP_MS, session_numbers

    pid = F.coalesce(F.col("nuser"), F.col("nanon"), F.col("nemail"))
    base = evprof.select("profile_id", "event_id", "ts_ms", pid.alias("rid"))
    s = session_numbers(base, "profile_id", SESSION_GAP_MS)
    return (
        s.groupBy("profile_id", "session_no")
        .agg(
            F.min("ts_ms").cast("long").alias("session_start_ms"),
            F.max("ts_ms").cast("long").alias("session_end_ms"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("rid").cast("long").alias("n_identifiers"),
        )
        .select(
            F.concat(
                F.col("profile_id"), F.lit("#"), F.col("session_no").cast("string")
            ).alias("session_id"),
            "profile_id",
            "session_start_ms",
            "session_end_ms",
            (F.col("session_end_ms") - F.col("session_start_ms")).alias("duration_ms"),
            "n_events",
            "n_identifiers",
        )
    )


def dup_audit(cdp: DataFrame) -> DataFrame:
    """Duplicate-event audit over the RAW (pre-dedup) CDP stream: per
    event class, how many rows arrive, how many distinct eventIds they
    carry, and the duplicate rate in ppm — the observability W1's dedup
    layer needs (the reference's simulator injects ~5% duplicate
    eventIds by design, `ingest/Simulator.kt:392-398`; this table is how
    an operator verifies the pipeline actually sees and absorbs them).

    One map-side-combined aggregate; the distinct-event count keys the
    shuffle on (ctype, event_id), the same distributed shape as
    profile_table's census."""
    per = cdp.groupBy("ctype").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("event_id").cast("long").alias("n_distinct_events"),
    )
    return per.select(
        "ctype",
        "n_rows",
        "n_distinct_events",
        (F.col("n_rows") - F.col("n_distinct_events")).alias("n_dup_rows"),
        F.expr("((n_rows - n_distinct_events) * 1000000) div n_rows").alias("dup_rate_ppm"),
    )
