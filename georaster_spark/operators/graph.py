"""Distributed connected components — the clustering stage of near-dup
deduplication (pairs -> clusters -> canonical doc election).

What the module holds:
- ``connected_components``: min-label propagation (dedup);
- ``connected_components_star``: large-star/small-star contraction with
  an optional ``forest_contract`` local pre-pass (dedup, dbscan,
  zone_dissolve, single_linkage); its round count is read as
  ``graph.last_star_rounds``;
- ``canonical_docs``: one survivor per component;
- ``boruvka_msf``: minimum spanning forest (mst_boruvka, single_linkage);
- ``_pin`` / ``_pin_lazy``: the bounded registry of checkpointed round
  frames these loops share.

The reference has no graph operators (it is a raster library); this is
part of the LLM-training-data-pipeline tier the task mandates: LSH
near-dup joins (textops MinHash/SimHash, vectors V1) emit PAIRS, but dedup
needs per-document CLUSTER ids so exactly one canonical survives per
duplicate group.

Algorithm: iterative min-label propagation over the undirected pair
graph.  Each round is one shuffle (groupBy-min over the symmetric edge
list joined to current labels); a round strictly lowers labels, and the
fixpoint assigns every vertex the minimum vertex id reachable from it
(= a deterministic component id).  Rounds needed = graph diameter.

Scale posture (10^12 rows): near-dup clusters produced by
verified-LSH are DENSE (a duplicate group is close to a clique — every
member pairs with most others), so diameters are tiny (2-4) and this
converges in a handful of shuffles over an edge list that is itself
bounded by the LSH band fan-out.  The pathological case — long chains,
e.g. transitive drift across a similarity threshold — is bounded by
``max_iter``; for adversarial graphs swap the round body for the
alternating large-star/small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — PAPERS.md),
which the per-round join shape here already accommodates.

The per-round convergence check is a driver-side aggregate (one scalar
per round, no data collected) — acceptable: it only gates loop exit.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pin(df: DataFrame) -> DataFrame:
    """Truncate lineage AND reset the size estimate for an iterative
    round: localCheckpoint alone is NOT enough, because the LogicalRDD
    it produces carries over the SOURCE plan's estimated sizeInBytes —
    and join-size estimates are multiplicative, so round r's checkpoint
    inherits a product of products: by round 4 the estimate is a
    ~10^5-digit BigInteger and Catalyst's SizeInBytesOnlyStatsPlanVisitor
    spends tens of seconds PER ROUND in Karatsuba multiplication (jstack
    verified: 45 s of planning on a 2-component, 1.5k-edge graph).
    Caching on top of the checkpoint and materializing replaces that
    estimate with the EXACT in-memory size, so every round plans
    against real (tiny) numbers and join strategies stay sane.

    The cached blocks are round-sized (component labels / frontier
    edges — KBs to MBs), but a long one-session suite (the 545-query
    gate) runs HUNDREDS of iterative ops: without a bound the pinned
    caches accumulate for the whole session and squeeze the box (a
    545-query gate run OOM'd the sibling DuckDB process after ~400
    queries).  A FIFO registry keeps the most recent _PIN_CAP pins
    live and unpersists older ones — their localCheckpoint blocks
    still hold the data, so correctness and lineage are untouched;
    only the (no-longer-replanned) stats reset is dropped."""
    out = _pin_lazy(df)
    out.count()
    return out


_PINNED: list[DataFrame] = []
_PIN_CAP = 48
# callers run iterative ops concurrently (q_single_linkage fans three
# CC runs across a ThreadPoolExecutor); list pop/append from several
# threads must not race, and relying on GIL atomicity would still let
# one thread evict a pin another thread's round is replanning against
# mid-eviction — a plain lock around the registry mutation is cheap
# (driver-side, once per round) and removes the hazard.
_PINNED_LOCK = threading.Lock()


def _pin_lazy(df: DataFrame) -> DataFrame:
    """checkpoint+cache+register without forcing materialization — for
    loop frames whose first action is the convergence witness."""
    out = df.localCheckpoint(eager=False).cache()
    evicted: list[DataFrame] = []
    with _PINNED_LOCK:
        _PINNED.append(out)
        while len(_PINNED) > _PIN_CAP:
            evicted.append(_PINNED.pop(0))
    for old in evicted:
        try:
            old.unpersist()
        except Exception:
            pass
    return out


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    vertex_col: str = "doc_id",
    src_col: str = "a_id",
    dst_col: str = "b_id",
    max_iter: int = 25,
) -> DataFrame:
    """(vertex, component) with component = min vertex id in the
    connected component.  Vertices with no incident edge keep their own
    id.  Deterministic for any input order (min is order-free)."""
    sym = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
        .distinct()
    )
    sym.persist()
    # localCheckpoint (not persist) on the per-round label frame: persist
    # caches DATA but the logical plan still nests one round deeper per
    # iteration, and AQE re-renders the whole tree per action — O(rounds²)
    # single-threaded driver time that dwarfs the actual shuffles on
    # multi-round (chain-like) graphs.  Checkpointing truncates lineage to
    # a LogicalRDD so every round's plan is one-round deep, constant size.
    labels = vertices.select(
        F.col(vertex_col).alias("vid"), F.col(vertex_col).alias("label")
    ).transform(_pin)
    try:
        # labels only ever DECREASE, so for numeric ids sum(label) is a
        # strictly decreasing convergence witness — one scalar aggregate
        # per round instead of a changed-rows join+count.  decimal(38,0):
        # 10^12 vertices x 64-bit ids overflows a BIGINT sum.  For
        # non-numeric ids fall back to counting distinct labels (also
        # monotone: merges only ever reduce the label set).
        numeric = dict(labels.dtypes)["label"] not in ("string", "binary")

        def _sum(df: DataFrame):
            return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]

        prev_sum = _sum(labels) if numeric else None
        for _ in range(max_iter):
            # neighbor-min pass: each vertex pulls the smallest label in
            # its closed neighborhood (one shuffle: groupBy(v).min)
            neigh = (
                sym.join(labels, sym["u"] == labels["vid"])
                .groupBy(F.col("v").alias("vid"))
                .agg(F.min("label").alias("nlabel"))
            )
            new = (
                labels.join(neigh, "vid", "left")
                .select(
                    "vid",
                    F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias(
                        "label"
                    ),
                )
                # lazy ckpt+cache; the witness sum below materializes it
                .transform(_pin_lazy)
            )
            if numeric:
                new_sum = _sum(new)
                converged = new_sum == prev_sum
                prev_sum = new_sum
            else:
                # exact changed-rows check (sound for any id type; the
                # distinct-label count is NOT a valid witness — a label
                # can move between vertices without leaving the set)
                converged = (
                    new.alias("n")
                    .join(labels.alias("o"), "vid")
                    .where(F.col("n.label") != F.col("o.label"))
                    .count()
                ) == 0
            labels = new
            if converged:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                "(long-chain graph? switch to large-star/small-star)"
            )
        return labels.select(
            F.col("vid").alias(vertex_col), F.col("label").alias("component")
        )
    finally:
        sym.unpersist()


def canonical_docs(components: DataFrame, vertex_col: str = "doc_id") -> DataFrame:
    """Dedup election: the canonical survivor of each cluster is the
    minimum doc id — which IS the component id, so this is a map-only
    flag, no extra shuffle."""
    return components.withColumn(
        "is_canonical", (F.col(vertex_col) == F.col("component")).cast("boolean")
    )


def forest_contract(edges: DataFrame, n_parts: int = 8) -> DataFrame:
    """Local-contraction pre-pass for two-level distributed CC (the
    shard-then-merge scheme of Rastogi et al. ICDE'13 / every MPC CC
    paper's "local phase"): hash-partition the edge list, run an exact
    union-find INSIDE each partition (Arrow-batched via mapInPandas —
    a per-shard batch loop, not per-row SQL Python), and emit each
    shard's spanning structure as star edges (node -> shard-local min
    of its local component).

    Connectivity is preserved exactly: every input edge (u,v) lands in
    some shard whose forest connects u and v, so the union of shard
    forests has the same components as the input.  Output size is at
    most one edge per (node, shard) — and each shard-component is
    already a STAR, so the global star-contraction loop that follows
    converges in 1-3 round pairs instead of O(log n).

    At 10^12 scale this is the standard shape: each executor contracts
    its shard in memory (shard size is bounded by the partition count
    you choose), and only the quotient graph enters the iterative
    global phase."""
    sym = edges.select(
        F.col("u").cast("long").alias("u"), F.col("v").cast("long").alias("v")
    )

    def _uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for u, v in zip(pdf["u"].to_numpy(), pdf["v"].to_numpy()):
                u = int(u)
                v = int(v)
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
        if parent:
            nodes = list(parent)
            roots = [find(x) for x in nodes]
            yield pd.DataFrame({"u": nodes, "v": roots})

    # RANGE partitioning, not hash: a hash shard of a chain-like graph
    # holds scattered singleton edges (nothing to contract); contiguous
    # id ranges keep locally-connected structure together, so each
    # shard's union-find actually collapses it (pinned by
    # tests/test_graph_rounds.py::test_star_cc_pre_contract_cuts_rounds).
    return (
        sym.repartitionByRange(n_parts, "u", "v")
        .mapInPandas(_uf, "u long, v long")
        .where(F.col("u") != F.col("v"))
    )


# round count of the most recent connected_components_star run — the
# O(log n) convergence claim is PINNED by tests/test_graph_rounds.py
# against adversarial (long-chain) topologies via this census.  Stored
# THREAD-LOCAL (q_single_linkage runs three CC calls concurrently; a
# shared global would interleave their censuses into garbage) and
# surfaced as the module attribute `graph.last_star_rounds` via PEP 562
# so existing readers see the count of THEIR OWN thread's latest run.
_star_tls = threading.local()


def __getattr__(name: str):
    if name == "last_star_rounds":
        return getattr(_star_tls, "rounds", 0)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def connected_components_star(
    edges: DataFrame,
    vertices: DataFrame,
    vertex_col: str = "doc_id",
    src_col: str = "a_id",
    dst_col: str = "b_id",
    max_iter: int = 25,
    pre_contract: int | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — PAPERS.md): the adversarial-graph-safe sibling of
    ``connected_components``.  Min-label propagation needs diameter
    rounds (a 10^6-long chain = 10^6 shuffles); star contraction halves
    component "height" per round pair, converging in O(log n) rounds on
    ANY topology — the production choice when the near-dup graph is not
    guaranteed clique-like.

    Per round (2 shuffles, both combiner-friendly groupBy-min):
      large-star: group the symmetric edge list by u, m = min(Γ(u)∪{u});
                  re-point every LARGER neighbor v>u at m.
      small-star: orient edges max->min, group by the max endpoint u,
                  m = min(Γ⁻(u)∪{u}); re-point u and all its smaller
                  neighbors at m.
    Both operations preserve connectivity (edges only re-point within a
    component) and monotonically flatten each component toward a star
    rooted at its minimum id.  Fixpoint: the small-star edge set is
    stable; then every node's component = min(neighbors ∪ self).

    Same contract as ``connected_components``: (vertex, component) with
    component = min reachable vertex id, isolated vertices keep their
    own id, deterministic on any partitioning.  The convergence witness
    is Σ(u+v) over the oriented edge set — strictly decreasing while any
    re-pointing happens (every re-point replaces an endpoint by a
    strictly smaller label), one scalar aggregate per round."""
    ecur = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    )
    if pre_contract:
        ecur = forest_contract(ecur, n_parts=pre_contract).select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
    # lazy checkpoint + cache with the witness aggregate as the
    # materializing action: one job per round pins lineage, resets the
    # size stats (see _pin) AND measures convergence.
    ecur = _pin_lazy(ecur.distinct())

    def _witness(e: DataFrame):
        return e.agg(
            F.count(F.lit(1)),
            F.sum(F.col("u").cast("decimal(38,0)") + F.col("v").cast("decimal(38,0)")),
        ).first()

    prev = _witness(ecur)
    _star_tls.rounds = 0
    for _round in range(max_iter):
        _star_tls.rounds = _round + 1
        sym = ecur.union(ecur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: m(u) = min over closed neighborhood; (v, m) for v > u
        lmin = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(lmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # small-star on the max->min orientation: (v, m) for v in Γ⁻(u)∪{u}
        ori = large.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        smin = ori.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            ori.join(smin, "u")
            .select(
                F.explode(F.array(F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                                  F.struct(F.col("u").alias("a"), F.col("m").alias("b")))).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .where(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
            .transform(_pin_lazy)
        )
        cur = _witness(small)
        # witness equality is necessary-not-sufficient; confirm the
        # suspected fixpoint with ONE exact multiset-diff (runs ~once)
        stable = cur == prev and small.exceptAll(ecur).count() == 0
        ecur = small
        prev = cur
        if stable:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )

    verts = vertices.select(F.col(vertex_col).alias("vid"))
    nmin = (
        ecur.union(ecur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .groupBy("u")
        .agg(F.min("v").alias("nm"))
    )
    return verts.join(nmin, verts["vid"] == nmin["u"], "left").select(
        F.col("vid").alias(vertex_col),
        F.least(F.col("vid"), F.coalesce("nm", F.col("vid"))).alias("component"),
    )


def boruvka_msf(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Minimum spanning forest via Borůvka rounds (Borůvka 1926; the
    standard MST algorithm for bulk-parallel frameworks because every
    round is a pair of groupBy reductions): ``edges`` is (u, v, w) with
    u < v and GLOBALLY DISTINCT weights (callers build w with a
    unique-id tiebreak in the low digits), which makes the MSF unique
    and every round deterministic.

    Each round: (1) drop intra-component edges, (2) every component
    picks its minimum incident edge — ONE groupBy(component).min over
    the lexicographic (w, u, v) struct, (3) contract by recomputing
    min-label connected components over all chosen edges.  Components
    at least halve per round, so rounds <= ceil(log2 V) — the classic
    O(log V) Borůvka bound; the loop asserts it.

    Scale shape: per round, one broadcast-or-shuffle join of edges
    against the (slim) component labels + one groupBy(comp) partial+
    final min — edges never amplify, no pair explosion.  Contraction
    does NOT re-run a full CC over the cumulative forest each round
    (that was the dominant fixed cost — a whole witness-checked star
    loop per Borůvka round): the round's min-edge choices form a
    PSEUDOFOREST over current component ids (each component points at
    the other end of its min edge; with globally distinct weights
    every cycle is a mutual-min 2-cycle), so contraction is the
    classic hook + pointer-jumping: break 2-cycles toward the smaller
    id, then square the parent map (one self-join per jump, on a
    frame no larger than the component count) until idempotent.
    At 10^12 edges the weight-struct min is exactly the shape a
    Pregel-style MSF takes; labels stay a slim broadcastable dim until
    V itself is huge, at which point the same joins hash-partition."""
    slim = edges.select("u", "v", "w").transform(_pin)
    verts = (
        slim.select(F.col("u").alias("vid"))
        .union(slim.select(F.col("v").alias("vid")))
        .distinct()
        .transform(_pin)
    )
    comp = verts.select("vid", F.col("vid").alias("component"))
    chosen: DataFrame | None = None
    for _ in range(max_rounds):
        ca = comp.select(
            F.col("vid").alias("u"), F.col("component").alias("cu")
        )
        cb = comp.select(
            F.col("vid").alias("v"), F.col("component").alias("cv")
        )
        cross = (
            slim.join(ca, "u").join(cb, "v").where(F.col("cu") != F.col("cv"))
        )
        ms = (
            cross.select(
                F.col("cu").alias("c"),
                F.struct("w", "u", "v", F.col("cv").alias("oc")).alias("e"),
            )
            .union(
                cross.select(
                    F.col("cv").alias("c"),
                    F.struct("w", "u", "v", F.col("cu").alias("oc")).alias("e"),
                )
            )
            .groupBy("c")
            .agg(F.min("e").alias("e"))
            .transform(_pin)
        )
        if ms.isEmpty():
            break
        chosen = (
            ms.select("e.u", "e.v", "e.w")
            if chosen is None
            else chosen.union(ms.select("e.u", "e.v", "e.w"))
        )
        chosen = chosen.distinct().transform(_pin)
        # hook: p(c) = other component of c's min edge; mutual-min
        # 2-cycles root at the smaller id (p(c) = c), leaving in-trees.
        p = ms.select("c", F.col("e.oc").alias("p"))
        nbr = p.select(F.col("c").alias("p"), F.col("p").alias("pp"))
        p = p.join(nbr, "p", "left").select(
            "c",
            F.when(
                (F.col("pp") == F.col("c")) & (F.col("c") < F.col("p")),
                F.col("c"),
            )
            .otherwise(F.col("p"))
            .alias("p"),
        )
        # pointer jumping: p <- p∘p until idempotent (≤ log2(depth)
        # self-joins, each over a ≤|components| frame).
        for _ in range(40):
            nxt = p.select(F.col("c").alias("p"), F.col("p").alias("pp"))
            sq = (
                p.join(nxt, "p")
                .select(
                    "c",
                    F.col("pp").alias("p"),
                    (F.col("pp") != F.col("p")).alias("moved"),
                )
                .transform(_pin)
            )
            moved = sq.where("moved").isEmpty()
            p = sq.select("c", "p")
            if moved:
                break
        else:
            raise RuntimeError("boruvka_msf pointer jumping did not converge")
        comp = (
            comp.join(
                p.select(F.col("c").alias("component"), "p"), "component", "left"
            )
            .select("vid", F.coalesce("p", F.col("component")).alias("component"))
            .transform(_pin)
        )
    else:
        raise RuntimeError(f"boruvka_msf did not converge in {max_rounds} rounds")
    if chosen is None:
        return slim.where(F.lit(False)).select(
            F.col("u").alias("za"), F.col("v").alias("zb"), F.col("w").alias("weight")
        )
    return chosen.select(
        F.col("u").alias("za"), F.col("v").alias("zb"), F.col("w").alias("weight")
    )
