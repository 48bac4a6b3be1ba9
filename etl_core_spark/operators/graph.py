"""Graph analytics beyond connected components: PageRank, label
propagation, triangle counting.

The web-graph quality signals crawl-based training-data pipelines
use for URL-level filtering and seed expansion (OPIC/Harmonic/
PageRank centrality is a standard CommonCrawl curation feature; see
Page et al. 1999, Haveliwala 2002, Raghavan et al. 2007, Latapy
2008). The reference engine has no counterpart. The connected-
components ENGINE lives in operators/dedup.py next to its near-dup
consumers; this module registers the standalone edge-list operator
on top of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_core_spark.operators.base import (
    Operator,
    OperatorConfigError,
    PortMap,
    bind_operator,
    ensure,
    register_operator,
)


def _normalized_edges(
    edges: DataFrame, src: str, dst: str, symmetrize: bool
) -> DataFrame:
    """(__s, __t) edge relation: NULL endpoints dropped, optionally
    symmetrized (union with the swapped projection), duplicates
    collapsed. Shared by pagerank and label_propagation so the edge
    policy lives in exactly one place."""
    raw = edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__t")
    ).where(F.col("__s").isNotNull() & F.col("__t").isNotNull())
    if symmetrize:
        raw = raw.union(
            raw.select(F.col("__t").alias("__s"), F.col("__s").alias("__t"))
        )
    return raw.distinct()


def _loop_join_hint(df: DataFrame) -> DataFrame:
    """Hint for a relation an iterative loop joins once per round.

    The graph loops persist that relation keyed on the round's join
    key (``persist_intermediate(..., key=)``), so at cluster scale,
    where the round join plans as sort-merge, each round shuffles only
    the node-sized side (r13, numbers in OPTIMIZATION_r13.md).

    ``spark.graft.graph.loopJoinHint`` (default ``auto``): set to
    ``merge`` to attach a SHUFFLE_MERGE hint to the persisted handle
    (outside the cache, so the cached relation stays hint-free). Just
    under ``spark.sql.autoBroadcastJoinThreshold`` AQE broadcasts the
    round join and, because each round re-instantiates the cached
    relation with fresh expression ids, rebuilds that broadcast every
    round. Measured r14 on a 2M-edge / ~48 MB relation: 1.32–1.43
    s/round broadcast vs 0.49–0.70 s/round with the pre-partitioned
    sort-merge shape. ``auto`` leaves AQE's choice alone: at bench
    scale the per-round broadcast of a ~3 MB edge side wins. Single-
    pass consumers never take the hint: there is no rebuild to save.
    The join strategy changes values only by floating-point summation
    order, which the family's floor quantization absorbs.
    """
    if df.sparkSession.conf.get("spark.graft.graph.loopJoinHint", "auto") == "merge":
        return df.hint("merge")
    return df


@bind_operator("pagerank", required=("src", "dst"))
def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    undirected: bool = False,
    quantize: int = 9,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list → ``(node,
    pagerank)``. Power iteration with the standard dangling-mass
    redistribution::

        r'(v) = (1-d)/N + d * (sum over in-nbrs u of r(u)/outdeg(u)
                               + dangling_mass / N)

    ``iterations`` is FIXED (no convergence gate) so results are a
    pure function of the graph — reproducible across engines and
    runs; 10 rounds is the classical transient-decay budget for
    d=0.85. ``undirected=True`` symmetrizes the edge list first
    (every node then has out-edges, so the dangling term is exactly
    zero). Parallel duplicate edges collapse (``distinct``) —
    pre-aggregate into a weighted formulation upstream if
    multiplicity matters; self-loops are kept (they damp their own
    node, the Page et al. formulation). NULL endpoints are dropped.
    ``weight_col`` switches to weighted PageRank: neighbor mass
    splits proportionally to edge weight (r(u) * w(u,v) / W(u),
    W(u) = total outgoing weight); parallel weighted edges COMBINE
    BY SUM instead of collapsing; NULL / non-positive weights drop.

    Cross-engine contract: final ranks floor-quantized at
    ``quantize`` dp (floor has no rounding ties — the Java-vs-C
    lesson); intermediates stay full-precision because per-iteration
    quantization would MULTIPLY boundary-straddle opportunities
    while the engines' group-sum order differences stay ~100 ulp.

    Scale shape: the degree-annotated edge relation and the node
    list are persisted once; each iteration is ONE keyed equi-join
    (ranks x edges on src, AQE-sized) + one map-side-combinable
    group aggregate on dst — no window, no cartesian, nothing
    driver-sized. Two execution modes:

    - ``undirected=True`` (no dangling nodes structurally, so each
      iteration references the previous ranks exactly ONCE): the
      whole power iteration is ONE LAZY chained plan — zero actions
      at build time (the engine's lazy-operator contract), linear
      lineage, and Catalyst reuses the edge relation's shuffle
      across all rounds (ReusedExchange) instead of paying a
      per-round Python-driver materialization round-trip. N rides
      as a broadcast one-row aggregate.
    - directed: the dangling anti-join makes each round reference
      the previous ranks TWICE, so the lazy plan would grow 2^k —
      this mode runs the eager loop with a per-round
      ``localCheckpoint`` (the connected-components discipline) and
      a one-time structural dangling probe. (A lazy-checkpoint
      variant — LogicalRDD barriers, single final action — was tried
      in r10 and showed NO reliable win: each round's dangling
      broadcast exchange still serializes the chain on the driver's
      broadcast thread, so the round jobs don't actually fuse.) On a
      real cluster prefer ``setCheckpointDir`` + ``checkpoint()`` for
      executor-loss resilience. Driver-side values: N (one long) and
      the loop counter, nothing row-sized.
    """
    if not 0 < float(damping) < 1:
        raise OperatorConfigError("pagerank damping must be in (0, 1)")
    if int(iterations) < 1:
        raise OperatorConfigError("pagerank iterations must be >= 1")
    from etl_core_spark.session import checkpoint, persist_intermediate, release

    d = F.lit(float(damping))
    if weight_col is None:
        e = _normalized_edges(edges, src, dst, symmetrize=undirected)
    else:
        raw = edges.select(
            F.col(src).alias("__s"),
            F.col(dst).alias("__t"),
            F.col(weight_col).cast("double").alias("__w"),
        ).where(
            F.col("__s").isNotNull()
            & F.col("__t").isNotNull()
            & (F.col("__w") > 0)
        )
        if undirected:
            raw = raw.union(
                raw.select(
                    F.col("__t").alias("__s"),
                    F.col("__s").alias("__t"),
                    "__w",
                )
            )
        # parallel weighted edges combine by sum (the weighted
        # analog of the unweighted path's distinct)
        e = raw.groupBy("__s", "__t").agg(F.sum("__w").alias("__w"))
    if undirected:
        # the symmetrized relation contains every node in BOTH
        # projections — one is enough, no union-then-distinct over
        # twice the edges
        nodes = persist_intermediate(
            e.select(F.col("__s").alias("__id")).distinct()
        )
    else:
        nodes = persist_intermediate(
            e.select(F.col("__s").alias("__id"))
            .union(e.select(F.col("__t").alias("__id")))
            .distinct()
        )
    # deg is consumed by edged AND (directed mode) the per-round
    # dangling aggregate — persist so the edge list isn't
    # re-distinct-ed and re-counted every iteration
    if weight_col is None:
        deg = persist_intermediate(
            e.groupBy("__s").agg(F.count(F.lit(1)).alias("__d"))
        )
    else:
        # W(u): total outgoing weight
        deg = persist_intermediate(
            e.groupBy("__s").agg(F.sum("__w").alias("__d"))
        )
    # degree rides on every edge so the per-iteration join is a
    # single (ranks x edged) equi-join, not a three-way; cached
    # pre-partitioned on __s so the per-round join never re-exchanges
    # the edge side (_loop_join_hint)
    edged = _loop_join_hint(persist_intermediate(e.join(deg, on="__s"), key="__s"))
    q = F.lit(float(10 ** int(quantize)))
    base_of = lambda n_col: (F.lit(1.0) - d) / n_col  # noqa: E731

    if undirected:
        # ---- fully lazy linear chain (no dangling structurally) ----
        # N as a broadcast one-row aggregate CARRIED as a constant
        # column through the iteration (one cross-join total, not one
        # per round); in the symmetrized graph every node has
        # in-neighbors, so the contribution aggregate already covers
        # every node — no per-round nodes join-back, no coalesce, and
        # the per-round plan is exactly one keyed join + one
        # aggregate. (1-d)/N and 1/N are engine-side doubles,
        # bit-identical to the unrolled oracle; x + 0.0 == x bitwise
        # keeps this value-identical to the directed form with dm=0.
        nn = nodes.agg(F.count(F.lit(1)).alias("__n"))
        ranks = nodes.crossJoin(F.broadcast(nn)).select(
            "__id", (F.lit(1.0) / F.col("__n")).alias("__r"), "__n"
        )
        for _ in range(int(iterations)):
            ranks = (
                ranks.join(edged, ranks["__id"] == edged["__s"])
                .groupBy("__t")
                .agg(
                    F.sum(
                        F.col("__r") / F.col("__d")
                        if weight_col is None
                        else F.col("__r") * F.col("__w") / F.col("__d")
                    ).alias("__c"),
                    # constant per graph; first() is order-independent
                    # on a constant column
                    F.first("__n").alias("__n"),
                )
                .select(
                    F.col("__t").alias("__id"),
                    (base_of(F.col("__n")) + d * F.col("__c")).alias("__r"),
                    "__n",
                )
            )
        return ranks.select(
            F.col("__id").alias("node"),
            (F.floor(F.col("__r") * q) / q).alias("pagerank"),
        )

    # ---- directed: eager checkpointed loop (dangling possible) ----
    # the dangling node SET is structural (rank-independent):
    # compute it once, persist it node-sized, and let every round's
    # mass aggregate semi-join against it instead of re-deriving the
    # anti-join from the raw edge list per iteration. No dangling
    # means the term (and its per-round broadcast-exchange job)
    # disappears entirely, and the sequential-round fixed cost IS
    # this mode's runtime
    dang_nodes = persist_intermediate(
        nodes.join(deg, nodes["__id"] == deg["__s"], "left_anti")
    )
    # ONE probe job for BOTH driver-side facts (r13 optimization:
    # previously nodes.count() and a dangling limit-1 probe ran as
    # two sequential jobs): N and the dangling count come out of a
    # single aggregate over the same left join that defines the
    # dangling set. Bounded driver collect — two longs.
    probe = (
        nodes.join(deg, nodes["__id"] == deg["__s"], "left")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.count(F.when(F.col("__s").isNull(), F.lit(1))).alias("__nd"),
        )
        .first()
    )
    n = probe["__n"]
    if n == 0:
        return nodes.select(
            F.col("__id").alias("node"), F.lit(0.0).alias("pagerank")
        )
    has_dangling = probe["__nd"] > 0
    base = F.lit((1.0 - float(damping)) / n)
    ranks = checkpoint(nodes.select("__id", F.lit(1.0 / n).alias("__r")))
    for _ in range(int(iterations)):
        contrib = (
            ranks.join(edged, ranks["__id"] == edged["__s"])
            .groupBy("__t")
            .agg(
                F.sum(
                    F.col("__r") / F.col("__d")
                    if weight_col is None
                    else F.col("__r") * F.col("__w") / F.col("__d")
                ).alias("__c")
            )
        )
        new_ranks = nodes.join(
            contrib, nodes["__id"] == contrib["__t"], "left"
        )
        if has_dangling:
            dangling = (
                ranks.join(dang_nodes, on="__id", how="left_semi")
                .agg((F.sum("__r") / F.lit(float(n))).alias("__dm"))
            )
            new_ranks = new_ranks.crossJoin(F.broadcast(dangling)).select(
                "__id",
                (
                    base
                    + d
                    * (
                        F.coalesce(F.col("__c"), F.lit(0.0))
                        + F.coalesce(F.col("__dm"), F.lit(0.0))
                    )
                ).alias("__r"),
            )
        else:
            new_ranks = new_ranks.select(
                "__id",
                (base + d * F.coalesce(F.col("__c"), F.lit(0.0))).alias(
                    "__r"
                ),
            )
        new_ranks = checkpoint(new_ranks)
        release(ranks)
        ranks = new_ranks
    return ranks.select(
        F.col("__id").alias("node"),
        (F.floor(F.col("__r") * q) / q).alias("pagerank"),
    )


@bind_operator("label_propagation", required=("src", "dst"))
def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """Synchronous label propagation community detection (Raghavan,
    Albert & Kumara 2007) → ``(node, label)`` — the cheap
    community/cluster signal next to connected components: CC says
    "reachable", LPA says "densely attached". Used on near-dup pair
    graphs to split chained-together clusters and on domain graphs
    to group related sources.

    The graph is symmetrized (LPA is defined on undirected graphs);
    duplicate edges collapse; NULL endpoints drop. Every node starts
    as its own label; each round every node adopts the label most
    common among its neighbors, ties to the SMALLEST label —
    deterministic synchronous updates, so a fixed ``iterations`` (no
    convergence gate) makes the result a pure function of the graph.
    (Synchronous LPA oscillates with period 2 on bipartite
    structures — the textbook caveat; run both parities of
    ``iterations`` if a component's labels look swapped.) All
    arithmetic is integer/label comparison: bit-exact cross-engine,
    no quantization needed.

    Scale shape: the same lazy-chain discipline as undirected
    ``pagerank`` — each round references the previous labels exactly
    once (neighbor-vote counts), so the whole run is ONE lazy plan
    with linear lineage and zero driver actions; per round it is a
    keyed equi-join (labels x edges on src) + two map-side-combinable
    aggregates (vote count, then struct-min argmax with the
    (-count, label) tiebreak — one expression, no window, no
    second pass over the vote relation). Nothing driver-sized.
    """
    if int(iterations) < 1:
        raise OperatorConfigError(
            "label_propagation iterations must be >= 1"
        )
    from etl_core_spark.session import persist_intermediate

    e = _loop_join_hint(persist_intermediate(
        _normalized_edges(edges, src, dst, symmetrize=True), key="__s"
    ))
    nodes = persist_intermediate(
        e.select(F.col("__s").alias("__id")).distinct()
    )
    labels = nodes.select("__id", F.col("__id").alias("__l"))
    for _ in range(int(iterations)):
        votes = (
            labels.join(e, labels["__id"] == e["__s"])
            .groupBy(F.col("__t"), F.col("__l"))
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        labels = votes.groupBy("__t").agg(
            F.min(
                F.struct((-F.col("__n")).alias("c"), F.col("__l").alias("l"))
            )["l"].alias("__l")
        ).select(F.col("__t").alias("__id"), "__l")
    return labels.select(
        F.col("__id").alias("node"), F.col("__l").alias("label")
    )


@bind_operator("triangle_count", required=("src", "dst"))
def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over the undirected simple graph →
    ``(node, triangles)`` (nodes in no triangle report 0) — the
    clustering-structure signal next to LPA: spam/link-farm detection
    on web graphs and density scoring for near-dup neighborhoods.

    Edges are symmetrized, de-duplicated; self-loops drop (a triangle
    has three distinct nodes). Counting uses the compact-forward
    orientation (Latapy 2008): orient every undirected edge from the
    (degree, id)-SMALLER endpoint to the larger, then each triangle
    is found exactly once as a wedge a→b, a→c (b before c) closed by
    b→c. Orientation by ANY total order enumerates the same triangle
    set — the oracle uses plain id order and must agree — but the
    degree order is the scale lever: join fan-out per node is
    bounded by its ORIENTED out-degree ≤ O(sqrt(E)) on any graph
    (arboricity bound), so a celebrity node with 10^6 neighbors
    contributes wedges only through its few higher-degree peers,
    never 10^12 pairs. All-integer arithmetic: bit-exact
    cross-engine.

    Plan shape: degree aggregate + two keyed equi-joins over the
    oriented edge relation (persisted once) + the closing edge
    equi-join + one explode(3)-groupBy — no window over the full
    relation, nothing driver-sized, fully lazy.
    """
    from etl_core_spark.session import persist_intermediate

    full = _normalized_edges(edges, src, dst, symmetrize=True)
    # node list from the UNFILTERED relation: a node whose only
    # incident edges are self-loops still reports triangles=0 (the
    # documented contract, and the same node set the sibling graph
    # ops emit); only the COUNTING relation drops self-loops
    nodes = persist_intermediate(
        full.select(F.col("__s").alias("__id")).distinct()
    )
    e = full.where(F.col("__s") != F.col("__t"))
    deg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__d"))
    # (degree, id) total order carried as a single struct per endpoint
    ranked = e.join(deg, on="__s").select(
        F.col("__s"),
        F.col("__t"),
        F.struct(F.col("__d"), F.col("__s")).alias("__os"),
    )
    deg_t = deg.select(
        F.col("__s").alias("__t"), F.col("__d").alias("__dt")
    )
    oriented = persist_intermediate(
        ranked.join(deg_t, on="__t")
        .where(
            F.col("__os") < F.struct(F.col("__dt"), F.col("__t"))
        )
        .select(
            F.col("__s").alias("__a"),
            F.col("__t").alias("__b"),
            F.struct(F.col("__dt"), F.col("__t")).alias("__ob"),
        )
    )
    wedges = (
        oriented.alias("x")
        .join(oriented.alias("y"), F.col("x.__a") == F.col("y.__a"))
        .where(F.col("x.__ob") < F.col("y.__ob"))
        .select(
            F.col("x.__a").alias("__a"),
            F.col("x.__b").alias("__b"),
            F.col("y.__b").alias("__c"),
        )
    )
    closing = oriented.select(
        F.col("__a").alias("__b"), F.col("__b").alias("__c")
    )
    tris = wedges.join(closing, on=["__b", "__c"])
    member = tris.select(
        F.explode(F.array("__a", "__b", "__c")).alias("__id")
    )
    counts = member.groupBy("__id").agg(
        F.count(F.lit(1)).alias("triangles")
    )
    return nodes.join(counts, on="__id", how="left").select(
        F.col("__id").alias("node"),
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
            "triangles"
        ),
    )


@bind_operator("personalized_pagerank", in_ports=("in", "seeds"), required=("src", "dst"))
def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    damping: float = 0.85,
    iterations: int = 10,
    quantize: int = 9,
    directed: bool = False,
) -> DataFrame:
    """Personalized PageRank / TrustRank (Haveliwala 2002; Gyongyi et
    al. 2004): the restart vector concentrates on a SEED set instead
    of spreading uniformly, so rank flows outward from trusted nodes
    — the curation primitive "score every page/domain/document by its
    link proximity to a hand-vetted whitelist"::

        r'(v) = (1-d) * p(v) + d * (sum over in-nbrs u of r(u)/deg(u)
                                    + dangling_mass * p(v))
        p(v)  = 1/|S| for seed nodes, 0 otherwise

    Default ``directed=False`` symmetrizes the graph (no dangling
    structurally, the lazy-chain mode — the common curation shape).
    ``directed=True`` is TrustRank proper: trust flows only ALONG
    link direction (a spam page linking TO a trusted page gains
    nothing), out-degree normalizes the directed edges, and dangling
    mass teleports BY THE RESTART VECTOR (back to the seeds — the
    personalized analog of the uniform 1/N redistribution; Gyongyi
    et al. 2004 §4.1). Seeds not present in the graph are ignored;
    an empty intersection raises loudly (a silent all-zero ranking
    helps nobody). Output ``(node, pagerank)`` floor-quantized;
    nodes unreachable from the seeds along edge direction score
    exactly 0.

    Scale shape: undirected — identical to undirected ``pagerank``:
    one lazy chained plan, per round one keyed equi-join + one
    map-side-combinable aggregate; the personalization vector rides
    pre-joined on the degree-annotated edge relation (``first()``
    per group, no per-round join-back). Directed — the dangling term
    references the previous ranks twice, so it runs the eager
    per-round ``localCheckpoint`` loop with a one-time structural
    dangling probe (the directed-``pagerank`` machinery,
    parameterized by the restart vector). Bounded driver probes
    only, nothing row-sized.
    """
    if not 0 < float(damping) < 1:
        raise OperatorConfigError(
            "personalized_pagerank damping must be in (0, 1)"
        )
    if int(iterations) < 1:
        raise OperatorConfigError(
            "personalized_pagerank iterations must be >= 1"
        )
    from etl_core_spark.session import persist_intermediate

    d = F.lit(float(damping))
    e = _normalized_edges(edges, src, dst, symmetrize=not directed)
    if directed:
        nodes = persist_intermediate(
            e.select(F.col("__s").alias("__id"))
            .union(e.select(F.col("__t").alias("__id")))
            .distinct()
        )
    else:
        nodes = persist_intermediate(
            e.select(F.col("__s").alias("__id")).distinct()
        )
    deg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__d"))
    seed_ids = persist_intermediate(
        seeds.select(F.col(seed_col).alias("__id"))
        .where(F.col("__id").isNotNull())
        .distinct()
        .join(nodes, on="__id", how="left_semi")
    )
    if not directed:
        # directed mode folds this emptiness probe into its combined
        # seeds+dangling probe below (r13: one driver job, not two)
        if seed_ids.limit(1).count() == 0:
            raise OperatorConfigError(
                "personalized_pagerank: no seed node appears in the graph"
            )
    ns = seed_ids.agg(F.count(F.lit(1)).alias("__ns"))
    pvec = persist_intermediate(
        nodes.join(
            seed_ids.withColumn("__isseed", F.lit(True)), on="__id", how="left"
        )
        .crossJoin(F.broadcast(ns))
        .select(
            "__id",
            F.when(
                F.col("__isseed"), F.lit(1.0) / F.col("__ns")
            )
            .otherwise(F.lit(0.0))
            .alias("__p"),
        )
    )
    q = F.lit(float(10 ** int(quantize)))
    if not directed:
        edged = _loop_join_hint(persist_intermediate(
            e.join(deg, on="__s").join(
                pvec.select(
                    F.col("__id").alias("__t"), F.col("__p").alias("__pt")
                ),
                on="__t",
            ),
            key="__s",
        ))
        ranks = pvec.select("__id", F.col("__p").alias("__r"))
        for _ in range(int(iterations)):
            ranks = (
                ranks.join(edged, ranks["__id"] == edged["__s"])
                .groupBy("__t")
                .agg(
                    F.sum(F.col("__r") / F.col("__d")).alias("__c"),
                    F.first("__pt").alias("__pt"),
                )
                .select(
                    F.col("__t").alias("__id"),
                    (
                        (F.lit(1.0) - d) * F.col("__pt") + d * F.col("__c")
                    ).alias("__r"),
                )
            )
        return ranks.select(
            F.col("__id").alias("node"),
            (F.floor(F.col("__r") * q) / q).alias("pagerank"),
        )

    # ---- directed TrustRank: eager checkpointed loop ----
    # (same trade as directed pagerank: lazy checkpoints showed no
    # reliable win — the per-round dangling broadcast serializes the
    # chain on the driver broadcast thread either way, r10 A/B)
    from etl_core_spark.session import checkpoint, release

    deg_p = persist_intermediate(deg)
    edged = _loop_join_hint(persist_intermediate(e.join(deg_p, on="__s"), key="__s"))
    # structural (rank-independent) dangling node set, computed once;
    # its emptiness decides whether the per-round mass aggregate
    # exists at all (the directed-pagerank discipline)
    dang_nodes = persist_intermediate(
        nodes.join(deg_p, nodes["__id"] == deg_p["__s"], "left_anti")
    )
    # ONE probe job for BOTH driver-side facts (r13: the seeds
    # emptiness guard and the has-dangling probe previously ran as
    # two sequential limit-1 jobs): union two limit-1 projections,
    # collect at most two tagged rows
    flags = {
        r["__f"]
        for r in seed_ids.limit(1)
        .select(F.lit(1).alias("__f"))
        .unionByName(dang_nodes.limit(1).select(F.lit(2).alias("__f")))
        .collect()
    }
    if 1 not in flags:
        raise OperatorConfigError(
            "personalized_pagerank: no seed node appears in the graph"
        )
    has_dangling = 2 in flags
    ranks = checkpoint(pvec.select("__id", F.col("__p").alias("__r")))
    for _ in range(int(iterations)):
        contrib = (
            ranks.join(edged, ranks["__id"] == edged["__s"])
            .groupBy("__t")
            .agg(F.sum(F.col("__r") / F.col("__d")).alias("__c"))
        )
        new_ranks = pvec.join(
            contrib, pvec["__id"] == contrib["__t"], "left"
        )
        if has_dangling:
            # dangling mass teleports by the restart vector: the
            # per-node share is dm * p(v), so seeds reabsorb it
            dangling = ranks.join(
                dang_nodes.select(nodes["__id"]), on="__id", how="left_semi"
            ).agg(F.sum("__r").alias("__dm"))
            new_ranks = new_ranks.crossJoin(F.broadcast(dangling)).select(
                pvec["__id"],
                (
                    (F.lit(1.0) - d) * F.col("__p")
                    + d
                    * (
                        F.coalesce(F.col("__c"), F.lit(0.0))
                        + F.coalesce(F.col("__dm"), F.lit(0.0))
                        * F.col("__p")
                    )
                ).alias("__r"),
            )
        else:
            new_ranks = new_ranks.select(
                pvec["__id"],
                (
                    (F.lit(1.0) - d) * F.col("__p")
                    + d * F.coalesce(F.col("__c"), F.lit(0.0))
                ).alias("__r"),
            )
        new_ranks = checkpoint(new_ranks)
        release(ranks)
        ranks = new_ranks
    return ranks.select(
        F.col("__id").alias("node"),
        (F.floor(F.col("__r") * q) / q).alias("pagerank"),
    )


@bind_operator("bfs_distances", in_ports=("in", "seeds"), required=("src", "dst"))
def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 6,
    directed: bool = False,
) -> DataFrame:
    """Hop distance from a seed set → ``(node, distance)`` for every
    node within ``max_hops`` (seeds at 0; unreachable nodes omitted)
    — the crawl-frontier / link-proximity primitive: "how many link
    hops is this page from the vetted set", the integer companion to
    ``personalized_pagerank``'s continuous trust score.

    Frontier-relaxation rounds: each round joins the CURRENT frontier
    (nodes first reached last round) against the edge relation and
    anti-joins the visited set — classic parallel BFS. All-integer,
    so the unrolled-CTE oracle is bit-exact. ``directed=True``
    follows edges src→dst only.

    Scale shape: per round ONE keyed equi-join (frontier × edges,
    frontier side usually AQE-broadcast) + one anti-join against
    visited + a distinct — all hash-partitioned, nothing
    driver-sized. Each round pays exactly ONE action: the frontier
    is LAZILY localCheckpoint-ed and the emptiness probe's count()
    materializes it (the r9 verdict's fold — previously the
    materialization and the probe were separate jobs). The visited
    set is a lazy union over the checkpointed frontiers — each
    frontier's blocks are stored ONCE (no per-round re-union
    re-checkpoint), the union chain is flat LogicalRDDs so analysis
    stays O(hops), and lineage can't blow up because every leaf is
    a checkpoint. State is O(reached nodes), the BFS minimum.
    """
    if int(max_hops) < 0:
        raise OperatorConfigError("bfs_distances max_hops must be >= 0")
    from etl_core_spark.session import checkpoint, persist_intermediate

    e = _loop_join_hint(persist_intermediate(
        _normalized_edges(edges, src, dst, symmetrize=not directed), key="__s"
    ))
    nodes = (
        e.select(F.col("__s").alias("__id"))
        .union(e.select(F.col("__t").alias("__id")))
        .distinct()
    )
    frontier = checkpoint(
        seeds.select(F.col(seed_col).alias("__id"))
        .where(F.col("__id").isNotNull())
        .distinct()
        .join(nodes, on="__id", how="left_semi")
        .select("__id", F.lit(0).alias("__d")),
        eager=False,
    )
    if frontier.count() == 0:
        raise OperatorConfigError(
            "bfs_distances: no seed node appears in the graph"
        )
    visited = frontier
    for hop in range(1, int(max_hops) + 1):
        nxt = checkpoint(
            frontier.join(e, frontier["__id"] == e["__s"])
            .select(F.col("__t").alias("__id"))
            .distinct()
            .join(visited, on="__id", how="left_anti")
            .select("__id", F.lit(hop).alias("__d")),
            eager=False,
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.select(
        F.col("__id").alias("node"), F.col("__d").cast("long").alias("distance")
    )


@register_operator("connected_components")
class ConnectedComponentsOperator(Operator):
    """Standalone connected components over ANY edge list →
    ``(node, component)`` with component = min node id — the same
    certified engine the dedup family uses (union-find below
    driver_max_edges, Kiveris large-star/small-star above;
    operators/dedup.py connected_components), exposed as a
    first-class graph operator so an edge table that never came from
    near-dup pairs (co-purchase, citation, session transitions) can
    be clustered through the JSON-config path.

    Config: ``src``, ``dst`` (required); ``driver_max_edges``
    (default 1,000,000 — 0 forces the distributed star algorithm),
    ``max_iters``."""

    in_ports = ("in",)
    out_ports = ("out",)

    def validate_config(self) -> None:
        for key in ("src", "dst"):
            if not self.config.get(key):
                raise OperatorConfigError(
                    f"connected_components requires {key!r}"
                )

    def apply(self, inputs: PortMap) -> PortMap:
        from etl_core_spark.operators.dedup import connected_components

        c = self.config
        edges = _normalized_edges(
            self.single_input(inputs), c["src"], c["dst"], symmetrize=False
        )
        out = connected_components(
            edges.select(
                F.col("__s").alias("id_a"), F.col("__t").alias("id_b")
            ),
            max_iters=int(c.get("max_iters", 50)),
            driver_max_edges=int(c.get("driver_max_edges", 1_000_000)),
        )
        return {
            "out": out.select(
                F.col("id").alias("node"),
                F.col("cluster_id").alias("component"),
            )
        }


@bind_operator("modularity", in_ports=("in", "assignment"), required=("src", "dst"))
def modularity(
    edges: DataFrame,
    assignment: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    quantize: int = 9,
) -> DataFrame:
    """Newman modularity of a (node, community) assignment —
    ``Q = sum_c [ L_c/m - (D_c/(2m))^2 ]`` (Newman & Girvan 2004)
    per community: ``(community, n_nodes, internal_edges,
    degree_sum, q_contrib)``; total modularity = sum(q_contrib).
    The quality meter for label_propagation / connected-components
    output: LPA gives you communities, this says whether they are
    denser than chance.

    Edge policy: symmetrized, deduplicated, self-loops dropped; m
    counts each undirected edge ONCE; degree(v) = #distinct
    neighbors. Nodes missing from the assignment drop (inner join —
    score the labeled subgraph); assigned nodes without edges count
    in ``n_nodes`` with zero degree.

    Scale shape: two membership equi-joins on the canonical edge
    list + three map-side-combinable aggregates; the graph totals
    (m) ride as a broadcast one-row crossJoin — nothing driver-sized,
    no iteration. ``q_contrib`` floor-quantized (graph-family
    convention)."""
    from etl_core_spark.session import checkpoint, persist_intermediate

    # both bounded relations are consumed TWICE (sym: canon + degrees;
    # mem: two membership joins + the per-community rollup). sym's
    # lineage is shallow — persist covers it. mem can carry an
    # EXPENSIVE upstream (a multi-round LPA chain): persist alone
    # still duplicates its full logical plan into both join subtrees
    # for Catalyst to re-analyze, so it gets a LAZY localCheckpoint
    # barrier (LogicalRDD leaf, no extra action — materializes inside
    # the consumer's job, cached for the second reference).
    #
    # Both are cached PRE-PARTITIONED on the key their consumers use
    # (r14, the graph-loop discipline, guide §2.4): sym
    # on __s serves the degree aggregate AND canon's first membership
    # join without re-exchanging the edge relation; mem on its node
    # id serves both membership joins and the per-community rollup's
    # join. At bench scale AQE broadcasts the node-sized mem side and
    # the layout is timing-neutral; at cluster scale (SMJ) it elides
    # one edge-sized and up to three node-sized exchanges.
    sym = persist_intermediate(
        _normalized_edges(edges, src, dst, symmetrize=True).where(
            F.col("__s") != F.col("__t")
        ),
        key="__s",
    )
    canon = sym.where(F.col("__s") < F.col("__t"))  # each edge once
    mem = checkpoint(
        assignment.select(
            F.col(node_col).alias("__n"),
            F.col(community_col).alias("community"),
        )
        .where(F.col("__n").isNotNull())
        .repartition(F.col("__n")),
        eager=False,
    )
    m_tot = canon.agg(F.count(F.lit(1)).alias("__m"))
    # internal edges per community: both endpoints in the community
    lc = (
        canon.join(
            mem.select(F.col("__n").alias("__s"), F.col("community").alias("__cs")),
            on="__s",
        )
        .join(
            mem.select(F.col("__n").alias("__t"), F.col("community").alias("__ct")),
            on="__t",
        )
        .where(F.col("__cs") == F.col("__ct"))
        .groupBy(F.col("__cs").alias("community"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    deg = sym.groupBy(F.col("__s").alias("__n")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    dc = (
        mem.join(deg, on="__n", how="left")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.coalesce(F.col("__deg"), F.lit(0))).alias("degree_sum"),
        )
    )
    q = F.lit(float(10 ** int(quantize)))
    qc = (
        F.coalesce(F.col("internal_edges"), F.lit(0)) / F.col("__m")
        - F.pow(
            F.col("degree_sum") / (F.lit(2.0) * F.col("__m")), F.lit(2.0)
        )
    )
    return (
        dc.join(lc, on="community", how="left")
        .crossJoin(F.broadcast(m_tot))
        .select(
            "community",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce(F.col("internal_edges"), F.lit(0))
            .cast("long")
            .alias("internal_edges"),
            F.col("degree_sum").cast("long").alias("degree_sum"),
            (F.floor(qc * q) / q).alias("q_contrib"),
        )
    )


def _check_k_core(k, **_) -> None:
    ensure(k >= 1, "k_core requires k >= 1")


@bind_operator("k_core", check=_check_k_core)
def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983):
    repeatedly delete nodes of degree < ``k`` until none remain —
    the surviving subgraph is the k-core, the standard density
    filter (spam-farm detection, community pre-pruning, keeping only
    well-embedded nodes of a link graph before trust propagation).
    Returns ``(node, degree)`` of the survivors; ``degree`` is the
    node's within-subgraph degree at the round it last qualified (at
    fixpoint: its k-core degree). Undirected: the edge list is
    symmetrized and deduplicated first (``_normalized_edges`` —
    NULL endpoints drop; a self-loop counts once toward degree).

    The peel is MONOTONE (each round's survivor set contains the
    next round's), so once a round removes nobody the result is the
    true fixpoint for every later round — which makes a
    ``max_rounds``-truncated run a pure function of the graph: the
    certified row unrolls the identical rounds in SQL, and the early
    fixpoint exit can never disagree with the longer unroll.

    Scale shape: per round ONE map-side-combinable degree aggregate
    + two semi-joins restricting the edge relation (all AQE-sized
    keyed joins, nothing driver-sized), and exactly ONE action — the
    survivor table is lazily localCheckpoint-ed and the fixpoint
    probe's count() materializes it (the bfs_distances fold).
    State is O(alive edges), monotonically shrinking.
    """
    if int(k) < 1:
        raise OperatorConfigError("k_core requires k >= 1")
    if int(max_rounds) < 1:
        raise OperatorConfigError("k_core requires max_rounds >= 1")
    from etl_core_spark.session import checkpoint, persist_intermediate

    e = persist_intermediate(
        _normalized_edges(edges, src, dst, symmetrize=True)
    )
    alive = e
    keep = None
    prev_n = None
    for _ in range(int(max_rounds)):
        deg = alive.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
        keep = checkpoint(deg.where(F.col("__deg") >= int(k)), eager=False)
        n = keep.count()
        if n == 0 or n == prev_n:
            break
        prev_n = n
        alive = alive.join(
            keep.select("__s"), on="__s", how="left_semi"
        ).join(
            keep.select(F.col("__s").alias("__t")), on="__t", how="left_semi"
        )
    return keep.select(
        F.col("__s").alias("node"), F.col("__deg").cast("long").alias("degree")
    )


def _check_louvain(iterations, **_) -> None:
    ensure(iterations >= 1, "louvain iterations must be >= 1")


@bind_operator("louvain", required=("src", "dst"), check=_check_louvain)
def louvain(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
) -> DataFrame:
    """One-level Louvain modularity ascent (Blondel et al. 2008,
    the local-move phase) → ``(node, community)`` — the refinement
    step above label_propagation: LPA votes on raw neighbor counts,
    Louvain moves a node only when the move strictly RAISES Newman
    modularity, so its assignment scores at least as dense as its
    starting point by construction (the ``modularity`` operator is
    the meter; the pytest asserts Q(louvain) >= Q(lpa) on the
    certified graph).

    Every node starts as its own community. Rounds alternate by node
    PARITY — round ``r`` lets only nodes with ``pmod(id, 2) == r % 2``
    move (the standard distributed-Louvain fix: fully synchronous
    updates pairwise-swap on symmetric structures and DESCEND — Q
    went negative on both the toy and certification graphs — while
    parity alternation reached the exact two-community optimum on
    the toy in one even/odd sweep). A moving node evaluates joining
    each neighboring community — plus staying put, with itself
    removed first — and takes the best move, ties to the SMALLEST
    community id. Gains compare in EXACT integer arithmetic: with
    unit weights the argmax of ``ΔQ(i→C)`` is the argmax of
    ``2m·k_i,in(C) − k_i·Σtot(C)`` (the common ``1/2m²`` factor
    drops out), with ``Σtot`` corrected by ``−k_i`` for the node's
    own community. No floats anywhere, so the assignment is a pure
    function of the graph, bit-identical in any engine — which is
    what makes the unrolled-CTE oracle a full-value certification.

    ``iterations`` counts half-sweeps (one parity class each); use an
    EVEN number so both classes get the same number of turns —
    default 4 = two full sweeps. Multi-level coarsening (collapse
    communities into super-nodes, repeat) is the documented
    extension; one level is the refinement the meter certifies.

    Scale shape: per round ONE keyed equi-join (edges × assignment on
    the neighbor end) + two map-side-combinable aggregates (k_in
    counts, per-community degree totals) + one struct-min argmax — the
    label_propagation lazy-chain discipline (linear lineage, zero
    driver actions); edge and degree relations persist once (bounded:
    |E| and |V|). The graph total ``m`` rides as a broadcast one-row
    crossJoin. Gain terms stay within int64 while
    ``2·m·max_degree < 2^63`` — beyond that, promote to decimal.
    """
    if int(iterations) < 1:
        raise OperatorConfigError("louvain iterations must be >= 1")
    from etl_core_spark.session import checkpoint, persist_intermediate

    # the per-round kin join reads e keyed on __t (the neighbor end)
    e = _loop_join_hint(persist_intermediate(
        _normalized_edges(edges, src, dst, symmetrize=True).where(
            F.col("__s") != F.col("__t")
        ),
        key="__t",
    ))
    deg = persist_intermediate(
        e.groupBy(F.col("__s").alias("__id")).agg(
            F.count(F.lit(1)).cast("long").alias("__d")
        )
    )
    m_tot = e.where(F.col("__s") < F.col("__t")).agg(
        F.count(F.lit(1)).cast("long").alias("__m")
    )
    assign = deg.select("__id", F.col("__id").alias("__c"))
    for rnd in range(int(iterations)):
        par = rnd % 2
        movable = F.pmod(F.col("__id"), F.lit(2)) == F.lit(par)
        # k_in: edges from each MOVABLE node into each neighboring
        # community (communities read from the full assignment)
        kin = (
            e.where(F.pmod(F.col("__s"), F.lit(2)) == F.lit(par))
            .join(
                assign.select(
                    F.col("__id").alias("__t"), F.col("__c").alias("__nc")
                ),
                on="__t",
            )
            .groupBy(F.col("__s").alias("__id"), "__nc")
            .agg(F.count(F.lit(1)).cast("long").alias("__k"))
        )
        # NOTE (r13 optimization round): sharing one assign×deg join
        # between `tot` and `scored` was tried and REVERTED — Catalyst
        # has no common-subexpression elimination across DataFrame
        # branches, so the "shared" join executed twice and replaced
        # two cheap node-sized broadcast builds with two join
        # executions (louvain_multilevel +1.4 s, consistent over two
        # interleaved A/B rounds). The three-join shape below is the
        # measured optimum.
        tot = (
            assign.join(deg.select("__id", "__d"), on="__id")
            .groupBy(F.col("__c").alias("__nc"))
            .agg(F.sum("__d").alias("__st"))
        )
        # stay option rides as an always-present k=0 candidate: when a
        # real own-community row exists in kin it strictly dominates
        # (2m·k > 0 with the same Σtot correction), so the duplicate
        # is harmless and saves an anti-join per round
        cands = kin.unionByName(
            assign.where(movable).select(
                "__id", F.col("__c").alias("__nc"), F.lit(0).cast("long").alias("__k")
            )
        )
        own = assign.select("__id", F.col("__c").alias("__own"))
        scored = (
            cands.join(own, on="__id")
            .join(deg, on="__id")
            .join(tot, on="__nc")
            .crossJoin(F.broadcast(m_tot))
        )
        gain = F.lit(2) * F.col("__m") * F.col("__k") - F.col("__d") * (
            F.col("__st")
            - F.when(F.col("__nc") == F.col("__own"), F.col("__d")).otherwise(
                F.lit(0)
            )
        )
        moved = (
            scored.withColumn("__g", gain)
            .groupBy("__id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__g")).alias("g"), F.col("__nc").alias("c")
                    )
                )["c"].alias("__c")
            )
        )
        # unlike LPA (one reference per round, linear lineage) the
        # assignment feeds FIVE subtrees per round (kin, tot, stay
        # candidates, own, the keep-union) — without a barrier the
        # logical plan grows ~5^rounds. A LAZY localCheckpoint (the
        # modularity discipline) cuts lineage with no extra action:
        # it materializes inside the next round's first job
        assign = checkpoint(
            moved.unionByName(assign.where(~movable)), eager=False
        )
    return assign.select(
        F.col("__id").alias("node"), F.col("__c").alias("community")
    )


def _louvain_local_move(
    e: DataFrame,
    deg: DataFrame,
    m_tot: DataFrame,
    iterations: int,
) -> DataFrame:
    """WEIGHTED Louvain local-move phase — the certified ``louvain``
    round body generalized from unit weights to an edge-weight column
    (``__w``): k_in sums weights instead of counting rows, and the
    integer gain becomes ``2m·k_in(C) − k_i·(Σtot(C) − [own]·k_i)``
    in weight units. ``e``: symmetric (``__s``, ``__t``, ``__w``)
    with no self-loops; ``deg``: (``__id``, ``__d``) weighted degree
    INCLUDING self-loop weight (at a coarse level this is exactly the
    sum of the member nodes' fine degrees, which is what modularity
    needs); ``m_tot``: the FINE-LEVEL one-row total — m is invariant
    under coarsening, so every level shares it. Same parity
    alternation, stay-candidate, struct-min tie-break and lazy
    localCheckpoint barrier as ``louvain`` (graph.py:1121)."""
    from etl_core_spark.session import checkpoint

    assign = deg.select("__id", F.col("__id").alias("__c"))
    for rnd in range(int(iterations)):
        par = rnd % 2
        movable = F.pmod(F.col("__id"), F.lit(2)) == F.lit(par)
        kin = (
            e.where(F.pmod(F.col("__s"), F.lit(2)) == F.lit(par))
            .join(
                assign.select(
                    F.col("__id").alias("__t"), F.col("__c").alias("__nc")
                ),
                on="__t",
            )
            .groupBy(F.col("__s").alias("__id"), "__nc")
            .agg(F.sum("__w").cast("long").alias("__k"))
        )
        tot = (
            assign.join(deg.select("__id", "__d"), on="__id")
            .groupBy(F.col("__c").alias("__nc"))
            .agg(F.sum("__d").alias("__st"))
        )
        cands = kin.unionByName(
            assign.where(movable).select(
                "__id",
                F.col("__c").alias("__nc"),
                F.lit(0).cast("long").alias("__k"),
            )
        )
        own = assign.select("__id", F.col("__c").alias("__own"))
        scored = (
            cands.join(own, on="__id")
            .join(deg, on="__id")
            .join(tot, on="__nc")
            .crossJoin(F.broadcast(m_tot))
        )
        gain = F.lit(2) * F.col("__m") * F.col("__k") - F.col("__d") * (
            F.col("__st")
            - F.when(F.col("__nc") == F.col("__own"), F.col("__d")).otherwise(
                F.lit(0)
            )
        )
        moved = (
            scored.withColumn("__g", gain)
            .groupBy("__id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__g")).alias("g"), F.col("__nc").alias("c")
                    )
                )["c"].alias("__c")
            )
        )
        assign = checkpoint(
            moved.unionByName(assign.where(~movable)), eager=False
        )
    return assign


def _check_louvain_multilevel(iterations, levels, **_) -> None:
    ensure(iterations >= 1, "louvain_multilevel iterations must be >= 1")
    ensure(levels >= 1, "louvain_multilevel levels must be >= 1")


@bind_operator("louvain_multilevel", required=("src", "dst"), check=_check_louvain_multilevel)
def louvain_multilevel(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    levels: int = 2,
) -> DataFrame:
    """Multi-level Louvain (Blondel et al. 2008, BOTH phases) →
    ``(node, community)``: run the local-move phase, COLLAPSE each
    community into a super-node (edge weights between super-nodes =
    number of fine edges between the communities; intra-community
    edges become self-loop weight, carried implicitly by keeping each
    super-node's degree = the sum of its members' fine degrees), then
    run the WEIGHTED local-move phase one level up and project the
    coarse assignment back down. Modularity is invariant under the
    collapse (the Blondel phase-2 construction).

    Monotonicity guard: parity-SYNCHRONOUS coarse moves can conflict
    (two super-nodes relocating on the same stale state — observed on
    a ring of cliques, where sequential Louvain has no such hazard),
    so the operator scores EVERY level's fine-projected assignment
    with the exact-integer modularity score ``score = Σ_C (2m·W_C −
    D_C²)`` (W_C = symmetric intra-community edge count, D_C = total
    community degree; score/4m² = Q exactly) and returns the
    best-scoring level, ties to the FINEST level. Q(multilevel) ≥
    Q(one level) therefore holds BY CONSTRUCTION, and is strict on
    structures where whole communities merge cleanly (path of
    triangles; pytest-enforced). All arithmetic stays exact integers
    (weights are fine-edge counts; the score fits int64 while
    ``4m² < 2^63``), so the unrolled two-level CTE oracle is
    bit-exact, level selection included.

    Scale shape: the coarsening is ONE double equi-join + one
    aggregate (|E| → |E'|, monotonically shrinking); each level's
    rounds keep the ``louvain`` plan shape (one keyed equi-join + two
    map-side-combinable aggregates + struct-min argmax, lazy
    localCheckpoint barriers); the guard is two map-side-combinable
    aggregates per level plus a #levels-row broadcast pick — fully
    lazy, no driver actions. Levels beyond the second repeat the same
    collapse; coarse graphs are strictly smaller, so level cost
    decreases geometrically in practice. ``iterations`` counts
    half-sweeps PER LEVEL (even numbers give both parities equal
    turns); ``levels=1`` is exactly the certified one-level
    operator's semantics."""
    if int(iterations) < 1:
        raise OperatorConfigError(
            "louvain_multilevel iterations must be >= 1"
        )
    if int(levels) < 1:
        raise OperatorConfigError("louvain_multilevel levels must be >= 1")
    from etl_core_spark.session import persist_intermediate

    # keyed on __t: every level's local-move sweeps join e on the
    # neighbor end (_louvain_local_move kin)
    e = _loop_join_hint(persist_intermediate(
        _normalized_edges(edges, src, dst, symmetrize=True)
        .where(F.col("__s") != F.col("__t"))
        .withColumn("__w", F.lit(1).cast("long")),
        key="__t",
    ))
    deg = persist_intermediate(
        e.groupBy(F.col("__s").alias("__id")).agg(
            F.sum("__w").cast("long").alias("__d")
        )
    )
    # m is the FINE total and invariant under coarsening (self-loop
    # weight keeps riding inside the coarse degrees)
    m_tot = e.where(F.col("__s") < F.col("__t")).agg(
        F.sum("__w").cast("long").alias("__m")
    )
    # node -> community at the finest level, refined level by level;
    # each level's fine projection is scored and the best one wins.
    #
    # Score algebra (r13 refinement, VERDICT r12 item 8): the level-L
    # fine-projected score Σ_C (2m·W_C − D_C²) needs only TOTALS —
    # Σ_C W_C and Σ_C D_C² — never per-community rows joined back to
    # the fine edge list. Two exact identities make both totals fall
    # out of structures the coarsening already builds:
    #   (1) telescoping intra weight: the symmetric fine intra weight
    #       of the level-L communities is T_0 − T_{L+1}, where T_l is
    #       the total weight of the level-l coarse edge list (each
    #       collapse removes EXACTLY the newly-intra weight from the
    #       edge list and T_0 = 2m), plus — on the FINAL level only —
    #       the intra weight of the final assignment measured on the
    #       final (already-coarse, small) graph;
    #   (2) D_C (fine degree mass of a level-L community) IS the
    #       level-L+1 coarse degree (self-loop weight rides inside),
    #       so Σ D_C² = Σ deg_{L+1}².
    # Non-final levels therefore score from two one-row aggregates
    # over the NEXT level's persisted coarse edges/degrees, and the
    # final level joins only the final coarse graph — the fine edge
    # list is never rescanned for scoring. Same exact integers as the
    # per-community form (left-join + coalesce(W_C, 0) included,
    # since 2m·Σ W_C − Σ D_C² sums the same terms), so the unrolled
    # two-level CTE oracle still matches bit-for-bit.
    two_m = persist_intermediate(
        m_tot.select((F.lit(2) * F.col("__m")).cast("long").alias("__t0"))
    )
    mapping = None
    tagged_maps = []
    tagged_scores = []
    for _level in range(int(levels)):
        assign = _louvain_local_move(e, deg, m_tot, int(iterations))
        mapping = (
            assign
            if mapping is None
            # the composed fine projection feeds the level tag union
            # and — via the relabel — the next level's composition;
            # level 0's mapping IS the localCheckpointed assignment
            else persist_intermediate(
                mapping.select(
                    "__id", F.col("__c").alias("__mid")
                ).join(
                    assign.select(
                        F.col("__id").alias("__mid"), "__c"
                    ),
                    on="__mid",
                ).select("__id", "__c")
            )
        )
        tagged_maps.append(
            mapping.select(F.lit(_level).alias("__lvl"), "__id", "__c")
        )
        if _level + 1 == int(levels):
            if int(levels) > 1:
                # final-level score, measured ON the final coarse
                # graph: intra = T_0 − T_final + W_final(coarse)
                ms = assign.select(
                    F.col("__id").alias("__s"), F.col("__c").alias("__cs")
                )
                mt2 = assign.select(
                    F.col("__id").alias("__t"), F.col("__c").alias("__ct")
                )
                intra_f = (
                    e.join(ms, on="__s")
                    .join(mt2, on="__t")
                    .where(F.col("__cs") == F.col("__ct"))
                    .agg(
                        F.coalesce(F.sum("__w"), F.lit(0))
                        .cast("long").alias("__wf")
                    )
                )
                t_cur = e.agg(
                    F.coalesce(F.sum("__w"), F.lit(0))
                    .cast("long").alias("__tc")
                )
                dsq = (
                    assign.join(deg, on="__id")
                    .groupBy("__c")
                    .agg(F.sum("__d").cast("long").alias("__dc"))
                    .agg(
                        F.coalesce(F.sum(F.col("__dc") * F.col("__dc")),
                                   F.lit(0))
                        .cast("long").alias("__sq")
                    )
                )
                tagged_scores.append(
                    two_m.crossJoin(F.broadcast(intra_f))
                    .crossJoin(F.broadcast(t_cur))
                    .crossJoin(F.broadcast(dsq))
                    .select(
                        F.lit(_level).alias("__lvl"),
                        (
                            F.col("__t0")
                            * (F.col("__t0") - F.col("__tc")
                               + F.col("__wf"))
                            - F.col("__sq")
                        ).cast("long").alias("__score"),
                    )
                )
            break
        # coarsen: communities become nodes; weights sum fine edges.
        # Coarse nodes are RELABELED 1..K by the distributed
        # _global_rank of their community label: labels inherit
        # smallest-id ties and can collapse onto ONE parity class
        # (observed: ALL-odd labels on a path of triangles, which
        # starves the parity alternation and lets every super-node
        # move in the same half-sweep — maximal churn), while
        # contiguous ranks alternate parity by construction.
        from etl_core_spark.operators.linkage import _global_rank

        ranked = persist_intermediate(
            _global_rank(
                assign.select(F.col("__c").alias("__lab")).distinct(),
                ["__lab"],
            ).select("__lab", F.col("__rn").alias("__rid"))
        )
        ca = assign.select(
            F.col("__id").alias("__s"), F.col("__c").alias("__cs")
        )
        cb = assign.select(
            F.col("__id").alias("__t"), F.col("__c").alias("__ct")
        )
        lut_s = ranked.select(
            F.col("__lab").alias("__cs"), F.col("__rid").alias("__rs")
        )
        lut_t = ranked.select(
            F.col("__lab").alias("__ct"), F.col("__rid").alias("__rt")
        )
        e = _loop_join_hint(persist_intermediate(
            e.join(ca, on="__s")
            .join(cb, on="__t")
            .where(F.col("__cs") != F.col("__ct"))
            .join(lut_s, on="__cs")
            .join(lut_t, on="__ct")
            .groupBy(
                F.col("__rs").alias("__s"), F.col("__rt").alias("__t")
            )
            .agg(F.sum("__w").cast("long").alias("__w")),
            key="__t",
        ))
        deg = persist_intermediate(
            assign.join(deg, on="__id")
            .join(
                ranked.select(
                    F.col("__lab").alias("__c"), "__rid"
                ),
                on="__c",
            )
            .groupBy(F.col("__rid").alias("__id"))
            .agg(F.sum("__d").cast("long").alias("__d"))
        )
        # this level's score from the freshly-built coarse structures
        # (identities (1)+(2) above): two one-row aggregates, no fine
        # edge rescans
        t_next = e.agg(
            F.coalesce(F.sum("__w"), F.lit(0)).cast("long").alias("__tn")
        )
        sq_next = deg.agg(
            F.coalesce(F.sum(F.col("__d") * F.col("__d")), F.lit(0))
            .cast("long").alias("__sq")
        )
        tagged_scores.append(
            two_m.crossJoin(F.broadcast(t_next))
            .crossJoin(F.broadcast(sq_next))
            .select(
                F.lit(_level).alias("__lvl"),
                (
                    F.col("__t0") * (F.col("__t0") - F.col("__tn"))
                    - F.col("__sq")
                ).cast("long").alias("__score"),
            )
        )
        # move the running node->community mapping into rid space so
        # the next level's assignment composes by equi-join
        mapping = mapping.join(
            ranked.select(F.col("__lab").alias("__c"), "__rid"), on="__c"
        ).select("__id", F.col("__rid").alias("__c"))
    if len(tagged_maps) == 1:
        return tagged_maps[0].select(
            F.col("__id").alias("node"), F.col("__c").alias("community")
        )
    scores = tagged_scores[0]
    for s in tagged_scores[1:]:
        scores = scores.unionByName(s)
    # best level: highest exact score, ties to the FINEST level —
    # a #levels-row argmin, broadcast into the assignment union
    best = scores.agg(
        F.min(
            F.struct(
                (-F.col("__score")).alias("s"), F.col("__lvl").alias("l")
            )
        )["l"].alias("__lvl")
    )
    allmaps = tagged_maps[0]
    for t in tagged_maps[1:]:
        allmaps = allmaps.unionByName(t)
    return allmaps.join(F.broadcast(best), on="__lvl").select(
        F.col("__id").alias("node"), F.col("__c").alias("community")
    )


def _check_link_predict(method, max_degree, min_common, weight_scale, quantize, **_) -> None:
    ensure(
        method in ("common_neighbors", "resource_allocation", "adamic_adar"),
        f"link_predict: unknown method {method!r}",
    )
    ensure(max_degree >= 2, "link_predict max_degree must be >= 2")
    ensure(min_common >= 1, "link_predict min_common must be >= 1")
    ensure(weight_scale >= 1, "link_predict weight_scale must be >= 1")
    ensure(quantize >= 1, "link_predict quantize must be >= 1")


@bind_operator("link_predict", required=("src", "dst"), check=_check_link_predict)
def link_predict(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    method: str = "resource_allocation",
    max_degree: int = 10_000,
    min_common: int = 1,
    exclude_adjacent: bool = True,
    weight_scale: int = 12,
    quantize: int = 9,
) -> DataFrame:
    """Neighborhood-overlap link prediction (Liben-Nowell & Kleinberg
    2007) over the undirected simple graph → ``(src, dst,
    common_neighbors, score)`` for every unordered candidate pair
    sharing at least ``min_common`` common neighbors — "which nodes
    are likely to connect / be the same entity": related-document
    suggestion on a citation graph, seed expansion on a domain graph,
    blocking-free entity-pair generation on a co-occurrence graph.

    Methods (per common neighbor ``z`` of degree ``d(z)``):

    - ``common_neighbors`` — score = |N(u) ∩ N(v)| (integer,
      bit-exact).
    - ``resource_allocation`` (Zhou, Lü & Zhang 2009) — score =
      Σ 1/d(z), computed in EXACT integer arithmetic as
      Σ (10^weight_scale div d(z)) / 10^weight_scale: the per-hub
      weight is an integral division, so Spark's long sums and any
      other engine agree bit-for-bit regardless of reduction order
      (a double Σ1/d depends on the partition schedule). This is the
      certified mode.
    - ``adamic_adar`` (Adamic & Adar 2003) — score =
      Σ 1/ln(d(z)) in doubles (libm ln is not bit-portable across
      engines, so this mode is floor-quantized best-effort, not
      oracle-certified; RA ranks hubs almost identically and IS
      exact).

    Scale design: the wedge self-join through a common neighbor ``z``
    fans out d(z)^2 pairs — ONE celebrity hub with 10^6 neighbors
    would emit 10^12 rows. ``max_degree`` EXCLUDES hubs above the cap
    from scoring (the documented contract, mirrored by the oracle):
    the same move as winnowing's document-frequency cap, and
    semantically aligned with all three indices, which by
    construction assign hubs vanishing weight (RA/AA) or pure noise
    (CN — everything co-occurs with a hub). With the cap the pair
    relation is bounded by Σ min(d(z), cap)^2 ≤ cap · E. Existing
    edges are removed with ONE left-anti equi-join when
    ``exclude_adjacent`` (the prediction use-case; set False for
    similarity scoring). Plan shape: degree aggregate + one keyed
    self-join + one groupBy — no windows, no driver collects, fully
    lazy.
    """
    if method not in ("common_neighbors", "resource_allocation",
                      "adamic_adar"):
        raise OperatorConfigError(
            f"link_predict: unknown method {method!r}"
        )
    if int(max_degree) < 2:
        raise OperatorConfigError("link_predict max_degree must be >= 2")
    if int(min_common) < 1:
        raise OperatorConfigError("link_predict min_common must be >= 1")
    if int(weight_scale) < 1:
        # weight_scale <= 0 makes the RA unit weight collapse to 1
        # (or a negative power formatted into the SQL expression),
        # silently zeroing every score instead of raising
        raise OperatorConfigError("link_predict weight_scale must be >= 1")
    if int(quantize) < 1:
        raise OperatorConfigError("link_predict quantize must be >= 1")
    from etl_core_spark.session import persist_intermediate

    q = float(10 ** int(quantize))
    unit = 10 ** int(weight_scale)
    # cached PRE-PARTITIONED on __s (r14, the modularity treatment,
    # guide §2.4): the degree aggregate (groupBy __s), the nbr join
    # (on __s, whose deg side inherits the layout from the
    # exchange-free aggregate) and the adjacency anti-join's edge
    # side (__s is a subset of its join keys) all consume sym on
    # __s — one upfront exchange, zero at the consumers in the SMJ
    # shape.
    sym = persist_intermediate(
        _normalized_edges(edges, src, dst, symmetrize=True).where(
            F.col("__s") != F.col("__t")
        ),
        key="__s",
    )
    deg = sym.groupBy("__s").agg(F.count(F.lit(1)).alias("__d"))
    if method == "resource_allocation":
        w = F.expr(f"CAST({unit} AS BIGINT) div __d")
    elif method == "adamic_adar":
        # a degree-1 hub can never close a wedge, but guard ln(1)=0
        w = F.when(
            F.col("__d") > 1, F.lit(1.0) / F.log(F.col("__d").cast("double"))
        ).otherwise(F.lit(0.0))
    else:
        w = F.lit(1)
    # nbr: hub z -> neighbor u, hubs above the cap excluded; the
    # per-hub weight is computed HERE, once per (z, u) row, so the
    # wedge self-join carries it without re-referencing the degree
    nbr = (
        sym.join(deg, on="__s")
        .where(F.col("__d") <= int(max_degree))
        .select(
            F.col("__s").alias("__z"),
            F.col("__t").alias("__u"),
            w.alias("__w"),
        )
    )
    pairs = (
        nbr.alias("x")
        .join(nbr.alias("y"), F.col("x.__z") == F.col("y.__z"))
        .where(F.col("x.__u") < F.col("y.__u"))
        .select(
            F.col("x.__u").alias("__a"),
            F.col("y.__u").alias("__b"),
            F.col("x.__w").alias("__w"),
        )
    )
    # RA weights are ~10^weight_scale each: sum in DECIMAL(38,0) so a
    # pair with tens of millions of common neighbors cannot wrap a
    # long (the oracle sums in a 128-bit type; bit-exact means the
    # Spark side must not overflow first). AA stays double.
    w_agg = (
        F.sum(F.col("__w").cast("decimal(38,0)"))
        if method == "resource_allocation"
        else F.sum("__w")
    )
    scored = pairs.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).alias("__cn"), w_agg.alias("__sw")
    ).where(F.col("__cn") >= int(min_common))
    if exclude_adjacent:
        scored = scored.join(
            sym,
            (F.col("__a") == F.col("__s")) & (F.col("__b") == F.col("__t")),
            "left_anti",
        )
    if method == "resource_allocation":
        score = (
            F.floor(
                F.col("__sw").cast("double") / F.lit(float(unit)) * F.lit(q)
            )
            / F.lit(q)
        )
    elif method == "adamic_adar":
        score = F.floor(F.col("__sw") * F.lit(q)) / F.lit(q)
    else:
        score = F.col("__cn").cast("double")
    return scored.select(
        F.col("__a").alias("src"),
        F.col("__b").alias("dst"),
        F.col("__cn").cast("long").alias("common_neighbors"),
        score.alias("score"),
    )
