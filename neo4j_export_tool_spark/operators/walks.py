"""Deterministic random-walk corpus generation over KG edges.

Graph-embedding training (DeepWalk / node2vec family) consumes a corpus
of fixed-length walks.  ``rand()``-driven walks are irreproducible and
resume-inconsistent — the same objection the mixture sampler solves
(functions/sampling.py): a 100 TB pipeline needs every walk to be a
pure function of (graph, salt), identical across runs, partitionings,
and engines.  Here the "random" next hop from node u at step t of walk
w is the neighbor minimizing the portable 60-bit md5 hash of
``salt:w:t:neighbor`` — i.e. a salted hash-argmin, exactly the
deterministic-pick convention of ``negative_samples``.

Per step the plan is: active walks ⋈ edges on the current node (one
equi-join), a per-walk ``min(struct(hash, dst))`` argmin (one keyed
agg; the struct makes ties impossible — the hash includes the
neighbor), and a 1:1 join back.  Dead-end walks retire into the result
as-is.  walk_len rounds of linear joins, lineage cut per round with
localCheckpoint — the CC/PageRank discipline.  Walk count =
|nodes| × walks_per_node rows; nothing is ever driver-side.

Determinism is pinned by an independent python replay of the identical
md5 picks (tests/test_walks.py) and a repartition-equality test.

``node2vec_walks`` generalizes to the biased second-order walk of
node2vec (Grover & Leskovec, KDD 2016).  The float-weighted pick of
the paper (weights 1/p, 1, 1/q) is replaced by an integer-exact
equivalent: the caller supplies INTEGER class weights ``(w_return,
w_near, w_far)`` (node2vec's α with p = w_near/w_return and
q = w_near/w_far, cleared of denominators), and the draw is one 60-bit
md5 hash per (walk, step) reduced mod the total candidate weight, then
located in the cumulative-weight ladder of the neighbors ordered by
node id.  No floats anywhere — the walk stays a pure integer function
of (graph, salt), bit-stable across runs, engines, and partitionings,
which a float Gumbel/exponential race cannot guarantee (last-ulp
``ln`` differences flip argmins).

``skipgram_pairs`` completes the pipeline: walks → (center, context)
training pairs for a skip-gram embedding model.  It is a pure
projection (nested array higher-order functions, zero Exchange until
the optional count aggregation) — the pair explosion happens inside
whole-stage codegen on each walk row, never via a self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.partitioning import broadcast_if_small
from neo4j_export_tool_spark.functions.similarity import shingle_hash_col

# Edge ceiling under which the per-step walk joins broadcast the capped
# edge table (and the walk-sized pick table) instead of shuffle-joining
# (guide §3.1: broadcast the side that fits).  An edge row is two short
# node strings (~≤128 B framed), so 500k edges ≈ the session's 64 MB
# auto-broadcast threshold — the pagerank convention
# (`operators/pagerank.py::_BROADCAST_RANKS_MAX_NODES`).  The planner
# cannot make this call itself: the edge table sits behind a
# localCheckpoint boundary with no size statistics, so every step
# sort-merge-joins even a 500-row graph (2 exchanges per step).  Above
# the ceiling — a real web-scale graph — the loop keeps the shuffle-join
# shape.  The count that decides it materializes the checkpoint the
# first step would materialize anyway.  Results are identical either
# way: every pick is a pure hash function of (graph, salt), independent
# of partitioning (pinned by the python replays in tests/test_walks.py).
_BROADCAST_EDGES_MAX_ROWS = 500_000


def cap_neighbors(
    edges: DataFrame, src_col: str, dst_col: str, k: int, salt: str
) -> DataFrame:
    """Deterministic per-node neighbor cap: keep the ``k`` neighbors of
    every source with the smallest 60-bit md5 of ``salt:cap:src:dst``
    (GraphSAGE-style neighbor sampling, made reproducible).  WHY: on a
    hub-heavy graph (a doc↔concept bipartite graph's concepts have
    degree ~ corpus size) every walk standing at a hub expands
    |N(hub)| candidate rows per step — measured weak-scaling
    efficiency 0.27-0.45 uncapped vs ~linear capped
    (BENCH/scaling_graph_ops_round6*.json).  The cap bounds per-step
    expansion to k·|walks| and is a pure function of (graph, salt) —
    same pick across runs/engines/partitionings.  One shuffle keyed by
    the source node.
    """
    if k < 1:
        raise ValueError("max_neighbors_per_node must be >= 1")
    from pyspark.sql import Window

    h = shingle_hash_col(
        F.concat(
            F.lit(salt + ":cap:"),
            F.col(src_col),
            F.lit(":"),
            F.col(dst_col),
        )
    )
    w = Window.partitionBy(src_col).orderBy(h.asc(), F.col(dst_col).asc())
    return (
        edges.withColumn("_capr", F.row_number().over(w))
        .where(F.col("_capr") <= k)
        .drop("_capr")
    )


def random_walks(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    walk_len: int = 10,
    walks_per_node: int = 2,
    salt: str = "walk",
    max_neighbors_per_node: int | None = None,
    use_local_checkpoint: bool = True,
) -> DataFrame:
    """(walk_id, start, path) — ``walks_per_node`` walks from every node
    with at least one outgoing edge, each following ``walk_len - 1``
    hash-argmin hops (shorter when a dead end retires the walk early).

    ``walk_id`` = ``start#i`` for i in [0, walks_per_node); the path is
    an array of node strings beginning with ``start``.  Node ids are
    cast to string (the hash needs a canonical byte form).
    ``max_neighbors_per_node`` applies the deterministic
    `cap_neighbors` prune first — REQUIRED on hub-heavy graphs, where
    per-step candidate expansion is otherwise |N(hub)|·walks (see
    `cap_neighbors`); the walk is then a pure function of
    (capped graph, salt).  When the edge table fits
    (`_BROADCAST_EDGES_MAX_ROWS`), the per-step joins broadcast it (and
    the walk-sized pick table) instead of shuffling — same rows, decided
    from a measured count.

    Eager at call time: in the default mode (``use_local_checkpoint=True``)
    with ``walk_len > 1`` the call runs two Spark count jobs before it
    returns — they materialize the checkpointed edge table and start
    frontier and decide the broadcast tiers.  The walk steps run when the
    result is first used.  ``use_local_checkpoint=False`` or
    ``walk_len == 1`` runs no job at call time.
    """
    if walk_len < 1:
        raise ValueError("walk_len must be >= 1")
    if walks_per_node < 1:
        raise ValueError("walks_per_node must be >= 1")
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    if max_neighbors_per_node is not None:
        e = cap_neighbors(e, "src", "dst", max_neighbors_per_node, salt)
    # use_local_checkpoint=False keeps pure lineage (the edge scan is
    # recomputed per round) — debugging/small-graph mode.  A persist()
    # here would leak cached blocks for the session: the returned
    # DataFrame is lazy in that mode, so there is no point at which this
    # function could safely unpersist.  In the default checkpoint mode
    # the function is EAGER whenever the loop will run (walk_len > 1):
    # the count below (which decides the broadcast tier) materializes
    # the checkpoint at call time — the same job the first step would
    # otherwise trigger.  walk_len == 1 skips the count and stays lazy.
    _be = _bp = lambda df: df
    if use_local_checkpoint:
        e = e.localCheckpoint(eager=False)
        if walk_len > 1:  # walk_len == 1: the loop never runs
            # materializes the checkpoint; decides the edge-side tier
            _be = broadcast_if_small(e.count(), _BROADCAST_EDGES_MAX_ROWS)

    active = (
        e.select("src")
        .distinct()
        .select(
            F.col("src").alias("start"),
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("_i"),
        )
        .select(
            F.concat("start", F.lit("#"), F.col("_i")).alias("walk_id"),
            "start",
            F.col("start").alias("cur"),
            F.array("start").alias("path"),
        )
    )
    if use_local_checkpoint:
        # round 1 consumes the initial frontier in both branches
        active = active.localCheckpoint(eager=False)
        if walk_len > 1:
            # the pick/retire side is WALK-sized; count it exactly
            # (walks only retire, so every later frame is ≤ this) —
            # the count materializes the frontier round 1 reads twice
            _bp = broadcast_if_small(
                active.count(), _BROADCAST_EDGES_MAX_ROWS
            )
    done = active.limit(0)

    for step in range(1, walk_len):
        cand = active.join(_be(e), active["cur"] == e["src"])
        h = shingle_hash_col(
            F.concat(
                F.lit(salt + ":"),
                F.col("walk_id"),
                F.lit(f":{step}:"),
                F.col("dst"),
            )
        )
        pick = cand.groupBy("walk_id").agg(
            F.min(F.struct(h.alias("h"), F.col("dst").alias("d"))).alias("_m")
        ).select("walk_id", F.col("_m.d").alias("_next"))
        nxt = active.join(_bp(pick), "walk_id").select(
            "walk_id",
            "start",
            F.col("_next").alias("cur"),
            F.concat("path", F.array("_next")).alias("path"),
        )
        if use_local_checkpoint:
            # nxt feeds BOTH the retire anti-join and the next round:
            # checkpoint it where computed, so the candidate join +
            # argmin agg evaluate once per step and each step stores
            # exactly one walk-sized frame (the dedup.py _materialize
            # discipline)
            nxt = nxt.localCheckpoint(eager=False)
        done = done.unionByName(
            active.join(_bp(nxt.select("walk_id")), "walk_id", "left_anti")
        )
        if use_local_checkpoint:
            done = done.localCheckpoint(eager=False)
        active = nxt
    return done.unionByName(active).select("walk_id", "start", "path")


def node2vec_walks(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    walk_len: int = 10,
    walks_per_node: int = 2,
    w_return: int = 1,
    w_near: int = 1,
    w_far: int = 1,
    salt: str = "n2v",
    max_neighbors_per_node: int | None = None,
    use_local_checkpoint: bool = True,
) -> DataFrame:
    """(walk_id, start, path) — node2vec-biased second-order walks with
    integer class weights.

    From previous node ``p`` standing at ``u``, a candidate neighbor
    ``x`` of ``u`` weighs ``w_return`` if ``x == p``, ``w_near`` if the
    edge ``(p, x)`` exists (distance 1 from ``p``), else ``w_far``
    (distance 2) — node2vec's 1/p, 1, 1/q bias cleared of denominators.
    The first hop (no previous node) is uniform.  The pick at step t of
    walk w is ``h60(salt:w:t) mod Σweights`` located in the cumulative
    ladder of candidates ordered by node id (binary/ASCII string
    order), so the walk is a pure integer function of (graph, salt) —
    the python replay in tests/test_walks.py reproduces it bit-exactly.
    ``w_return = w_near = w_far`` degenerates to a uniform DeepWalk
    (but NOT to ``random_walks``, whose draw is a per-neighbor
    hash-argmin rather than a ladder pick).

    Scale shape per step: one equi-join on the current node (candidate
    expansion), one equi-join against the edge list on ``(prev, dst)``
    (the distance-1 membership probe), and one window over ``walk_id``
    (cumulative + total weight — same partitioning, one Exchange);
    lineage cut per round with localCheckpoint.  When the capped edge
    table fits (`_BROADCAST_EDGES_MAX_ROWS`), the two equi-joins
    broadcast it instead of shuffling the walk table — same rows,
    decided from a measured count the checkpoint materialization pays
    for anyway (skipped, staying lazy, when walk_len == 1 means the
    loop never runs).  Dead ends retire into
    the result.  Weights must be positive ints; totals stay far inside
    int64 (max degree × max weight).

    Reference: the walk corpus feeds the same embedding-training surface
    as ``random_walks``; see module docstring for the determinism
    convention shared with ``negative_samples``.

    Eager at call time: in the default mode (``use_local_checkpoint=True``)
    with ``walk_len > 1`` the call runs two Spark count jobs before it
    returns — they materialize the checkpointed edge table and start
    frontier and decide the broadcast tiers.  The walk steps run when the
    result is first used.  ``use_local_checkpoint=False`` or
    ``walk_len == 1`` runs no job at call time.
    """
    if walk_len < 1:
        raise ValueError("walk_len must be >= 1")
    if walks_per_node < 1:
        raise ValueError("walks_per_node must be >= 1")
    for w in (w_return, w_near, w_far):
        # floats would silently truncate in int() and change the walk
        # distribution relative to any replay — reject, don't coerce
        if not isinstance(w, int) or w < 1:
            raise ValueError("class weights must be positive integers")
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    if max_neighbors_per_node is not None:
        # bounds BOTH the candidate expansion and the distance-1
        # membership probe to the capped graph (consistent semantics:
        # the walk lives entirely on the pruned graph)
        e = cap_neighbors(e, "src", "dst", max_neighbors_per_node, salt)
    _be = _bp = lambda df: df
    if use_local_checkpoint:
        e = e.localCheckpoint(eager=False)
        if walk_len > 1:  # walk_len == 1: the loop never runs
            # materializes the checkpoint; decides the edge-side tier
            _be = broadcast_if_small(e.count(), _BROADCAST_EDGES_MAX_ROWS)
    e_near = e.select(
        F.col("src").alias("_psrc"), F.col("dst").alias("_pdst"),
        F.lit(1).alias("_near"),
    )

    active = (
        e.select("src")
        .distinct()
        .select(
            F.col("src").alias("start"),
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("_i"),
        )
        .select(
            F.concat("start", F.lit("#"), F.col("_i")).alias("walk_id"),
            "start",
            F.lit(None).cast("string").alias("prev"),
            F.col("start").alias("cur"),
            F.array("start").alias("path"),
        )
    )
    if use_local_checkpoint:
        # round 1 consumes the initial frontier in both branches
        active = active.localCheckpoint(eager=False)
        if walk_len > 1:
            # the pick/retire side is WALK-sized; count it exactly
            # (walks only retire, so every later frame is ≤ this)
            _bp = broadcast_if_small(
                active.count(), _BROADCAST_EDGES_MAX_ROWS
            )
    done = active.limit(0)

    from pyspark.sql import Window

    for step in range(1, walk_len):
        cand = (
            active.join(_be(e), active["cur"] == e["src"])
            .join(
                _be(e_near),
                (F.col("prev") == F.col("_psrc"))
                & (F.col("dst") == F.col("_pdst")),
                "left",
            )
            .select(
                "walk_id", "start", "prev", "cur", "path", "dst",
                F.when(F.col("prev").isNull(), F.lit(1))
                .when(F.col("dst") == F.col("prev"), F.lit(int(w_return)))
                .when(F.col("_near") == 1, F.lit(int(w_near)))
                .otherwise(F.lit(int(w_far)))
                .cast("long")
                .alias("_w"),
            )
        )
        by_walk = Window.partitionBy("walk_id")
        ladder = by_walk.orderBy("dst").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        draw = (
            shingle_hash_col(
                F.concat(F.lit(salt + ":"), F.col("walk_id"), F.lit(f":{step}"))
            )
            % F.sum("_w").over(by_walk)
        )
        pick = (
            cand.withColumn("_cum", F.sum("_w").over(ladder))
            .withColumn("_r", draw)
            .where(
                (F.col("_r") >= F.col("_cum") - F.col("_w"))
                & (F.col("_r") < F.col("_cum"))
            )
        )
        nxt = pick.select(
            "walk_id",
            "start",
            F.col("cur").alias("prev"),
            F.col("dst").alias("cur"),
            F.concat("path", F.array("dst")).alias("path"),
        )
        if use_local_checkpoint:
            # nxt feeds BOTH the retire anti-join and the next round:
            # checkpoint the NARROW projection where computed (the
            # ladder scaffolding _w/_cum/_r/dst is dropped first), so
            # the candidate joins + windows evaluate once per step and
            # each step stores exactly one walk-sized frame (the
            # dedup.py _materialize discipline)
            nxt = nxt.localCheckpoint(eager=False)
        done = done.unionByName(
            active.join(_bp(nxt.select("walk_id")), "walk_id", "left_anti")
        )
        if use_local_checkpoint:
            done = done.localCheckpoint(eager=False)
        active = nxt
    return done.unionByName(active).select("walk_id", "start", "path")


def skipgram_pairs(
    walks: DataFrame,
    path_col: str = "path",
    window: int = 2,
    with_counts: bool = False,
) -> DataFrame:
    """Skip-gram training pairs from walk paths: one ``(center,
    context)`` row per ordered pair of positions ``(i, j)`` with
    ``j != i`` and ``|j - i| <= window`` (both directions, the standard
    skip-gram context).  With ``with_counts=True`` the pairs are
    aggregated to ``(center, context, n)`` — the frequency table an
    embedding trainer consumes.

    Scale shape: the pair expansion is a pure array projection (indexed
    structs + nested transform/filter, all JVM-side in whole-stage
    codegen) followed by one explode — ZERO shuffles for the raw-pair
    form.  A self-join formulation would shuffle the exploded positions
    table twice; this never shuffles at all.  Per-row cost is
    O(len(path)^2) element ops, bounded by walk_len (typically 5-40).
    Null/empty paths yield no pairs.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    indexed = F.transform(
        F.col(path_col),
        lambda x, j: F.struct(x.alias("x"), j.alias("j")),
    )
    pairs = F.expr(
        "flatten(transform(_ix, c -> "
        "  transform("
        f"    filter(_ix, t -> t.j != c.j AND abs(t.j - c.j) <= {int(window)}),"
        "    t -> named_struct('center', c.x, 'context', t.x))))"
    )
    out = (
        walks.where(F.col(path_col).isNotNull())
        .select(indexed.alias("_ix"))
        .select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.center").alias("center"), F.col("_p.context").alias("context"))
    )
    if with_counts:
        out = out.groupBy("center", "context").agg(
            F.count(F.lit(1)).alias("n")
        )
    return out
