"""Distributed connected components via iterative min-label propagation
WITH pointer doubling — the graph kernel behind duplicate clustering
(text LSH pairs and embedding near-dup pairs share it).

Each round does two label-shrinking steps:
  1. one-hop:          label(v) ← min(label(v), min over neighbors)
  2. pointer doubling: label(v) ← label(label(v))
Step 1 alone converges in O(diameter) rounds; the label-of-label join
halves the pointer chains every round, giving true O(log diameter)
convergence — the "alternating algorithm" shape used by large-scale CC
systems (ADVICE r3: one-hop-only silently truncated chain components
longer than max_rounds). Every step joins on a node/label id and
hash-aggregates a min, so the shuffle structure stays linear in |E| + |V|
per round, no global structures.

If labels still changed after ``max_rounds`` rounds the function RAISES
rather than returning split clusters that would silently diverge from
the recursive-CTE oracles.

localCheckpoint (not just persist) after every round: an iterative plan
that references its previous round TWICE doubles in size per iteration —
lineage must be CUT, not merely cached, or analysis alone goes
exponential (SURVEY §4.2). Checkpoint blocks pin executor memory for the
session, so every intermediate is released before returning; only the
final labels frame stays checkpointed (callers consume it lazily).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import memo
from .execution import arrow_frame

_CC_CACHE: dict = {}


class _tiny_graph_confs:
    """The CC dispatch decision: a pair graph at or under
    ``SPARK_GRAFT_CC_TINY_EDGES`` edges (default 200k, a ~6 MB frame)
    is labeled by the driver union-find (``apply``), a bigger one by a
    distributed kernel."""

    def __init__(self, spark: SparkSession, edge_count: int):
        self.apply = edge_count <= int(
            os.environ.get("SPARK_GRAFT_CC_TINY_EDGES", "200000")
        )


def cached_min_label_components(
    spark: SparkSession,
    cache_key: tuple,
    pairs_factory: Callable[[], DataFrame],
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 30,
    algorithm: str | None = None,
) -> DataFrame:
    """Connected components memoized per (session, cache_key).

    ``pairs_factory`` is only invoked on a miss, so callers can defer
    building the (possibly expensive) candidate-pair plan entirely.

    ``algorithm`` selects the kernel — "largestar" (alternating
    large-star/small-star, Kiveris et al. SoCC'14, whose per-round
    cost never depends on component diameter — the default since the
    r10 100×-documents probe measured it 0.71× of min-label's wall at
    487k labeled nodes, SCALE_SWEEP_r10.json) or "minlabel"
    (pointer-doubling + contraction min-label propagation). Results
    are identical (parity-pinned in tests), so the cache key
    deliberately ignores the kernel choice.

    A pair graph at or under ``SPARK_GRAFT_CC_TINY_EDGES`` pairs (the
    ``_tiny_graph_confs`` cutoff) skips both kernels: its labels come
    from ``union_find_components`` on one driver collect.
    """
    def build() -> DataFrame:
        algo = algorithm or "largestar"
        kernels = {
            "largestar": large_small_star_components,
            "minlabel": min_label_components,
        }
        if algo not in kernels:
            raise ValueError(f"unknown CC algorithm {algo!r}")
        # a graph under the tiny-edge cutoff is one bounded collect: the
        # driver union-find returns the same labels without the rounds'
        # per-job floor; bigger graphs run the selected kernel
        p = pairs_factory().localCheckpoint()
        if _tiny_graph_confs(spark, p.count()).apply:
            labels = union_find_components(p, id_a, id_b)
        else:
            labels = kernels[algo](p, id_a, id_b, max_rounds)
        p.unpersist()
        return memo.checkpointed(labels)

    return memo.app_scoped_memo(_CC_CACHE, spark, cache_key, build)


def union_find_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Connected components of a SMALL pair list on the driver — the
    same contract as the distributed kernels: (node_id, cluster_id) for
    every node appearing in >=1 pair (self-pairs included), cluster_id
    the component's minimum id (null ids stay unlinked, labeled null).

    Union by minimum root keeps every root its component's minimum, so
    the labels equal the kernels' by construction. The caller bounds
    the input (``_tiny_graph_confs``): one collect of the pairs, and the
    labels come back as an Arrow-built frame."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs.select(id_a, id_b).collect():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # node_id's type is the kernels' own: the union of both id columns
    node = (
        pairs.select(F.col(id_a).alias("node_id"))
        .unionAll(pairs.select(F.col(id_b).alias("node_id")))
        .schema["node_id"]
    )
    schema = StructType(
        [node, StructField("cluster_id", node.dataType, node.nullable)]
    )
    rows = [(x, None if x is None else find(x)) for x in parent]
    return arrow_frame(pairs.sparkSession, rows, schema)


def min_label_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components over an undirected pair list.

    Returns (node_id, cluster_id) for every node appearing in >=1 pair;
    cluster_id is the component's minimum node id (the canonical
    representative — 'keep one per cluster' keeps cluster_id itself).

    Each round does min-label propagation WITH EDGE CONTRACTION:

      1. one-hop:          m(v) = min(v, min over v's neighbors)
      2. pointer doubling: m(v) <- m(m(v))
      3. contraction:      compose m into the node->label map, rewrite
                           the edge list through m, drop self-loops,
                           dedupe

    Pointer doubling gives ~log2(diameter) rounds; contraction makes
    each successive round run over a geometrically SHRINKING supernode
    graph instead of the full edge set — on dense duplicate clusters
    (m nodes, ~m^2/2 verified pairs) the first contraction collapses
    almost the whole component, so total work stays near-linear in |E|
    rather than |E|·rounds (the r4 sf1 probe measured the uncontracted
    kernel at 10x edges going superlinear; contraction is
    result-identical, components of the contracted graph ARE components
    of the original). Converged when the contracted edge set is empty.
    Raises RuntimeError if the budget runs out first (never silently
    truncates).

    localCheckpoint (not just persist) after every round: an iterative
    plan that references its previous round TWICE doubles in size per
    iteration — lineage must be CUT, not merely cached, or analysis
    alone goes exponential (SURVEY §4.2). Intermediates are released
    before returning; only the final labels frame stays checkpointed.
    """
    retained: list[DataFrame] = []
    p = pairs.localCheckpoint()
    retained.append(p)
    edges = (
        p.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(p.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
        .localCheckpoint()
    )
    retained.append(edges)
    # node set from the ORIGINAL pairs, not the self-loop-filtered edge
    # list: a node whose only pair is (a, a) still "appears in >=1 pair"
    # per the contract and must come back labeled with itself (a raw
    # similarity join naturally emits exact self-matches)
    labels_cp = (
        p.select(F.col(id_a).alias("node_id"))
        .unionAll(p.select(F.col(id_b).alias("node_id")))
        .distinct()
        .withColumn("label", F.col("node_id"))
        .localCheckpoint()
    )
    retained.append(labels_cp)
    labels = labels_cp
    converged = False
    # carried edge count (r13): computed once here and re-computed only
    # when the contracted edge list is rebuilt, so the top-of-round
    # emptiness probe is a plain int test instead of a per-round job.
    edges_cnt = edges.count()
    for _ in range(max_rounds):
        if edges_cnt == 0:
            converged = True
            break
        # 1. one-hop min over the CURRENT supernode graph (edges are
        # symmetric, so scanning in-neighbors of dst covers everyone)
        m = (
            edges.groupBy(F.col("dst").alias("v"))
            .agg(F.min("src").alias("nl"))
            .select("v", F.least(F.col("v"), F.col("nl")).alias("m1"))
        )
        # 2. pointer doubling ITERATED TO A FIXED POINT (bounded by
        # max_rounds inner steps, so total reach per outer round is
        # 2^max_rounds hops): the mapping frame holds one row per
        # ACTIVE supernode — far smaller than the edge list — so
        # compressing paths here is much cheaper than paying extra
        # edge-join rounds. A chain of any diameter d collapses in ONE
        # outer round (~log2 d inner self-joins).
        m2 = m.select("v", F.col("m1").alias("mlab")).localCheckpoint()
        retained.append(m2)
        for _ in range(max_rounds):
            look = m2.select(F.col("v").alias("_lv"), F.col("mlab").alias("_lm"))
            nxt = (
                m2.join(look, m2.mlab == look._lv, "left")
                .select(
                    "v",
                    F.least(F.col("mlab"), F.coalesce("_lm", "mlab")).alias("mlab"),
                    (F.least(F.col("mlab"), F.coalesce("_lm", "mlab"))
                     < F.col("mlab")).alias("_chg"),
                )
                .localCheckpoint()
            )
            retained.append(nxt)
            changed = nxt.filter("_chg").limit(1).count()
            m2 = nxt.drop("_chg")
            if changed == 0:
                break
        # 3a. compose into the full node->label map
        new_labels = (
            labels.join(m2, labels.label == m2.v, "left")
            .select(
                "node_id",
                F.coalesce("mlab", "label").alias("label"),
            )
            .localCheckpoint()
        )
        retained.append(new_labels)
        labels = new_labels
        # 3b. contract the edge list through m, drop self-loops, dedupe
        ms = m2.select(F.col("v").alias("_sv"), F.col("mlab").alias("_sm"))
        md = m2.select(F.col("v").alias("_dv"), F.col("mlab").alias("_dm"))
        new_edges = (
            edges.join(ms, edges.src == ms._sv, "left")
            .join(md, edges.dst == md._dv, "left")
            .select(
                F.coalesce("_sm", "src").alias("src"),
                F.coalesce("_dm", "dst").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates()
            .localCheckpoint()
        )
        retained.append(new_edges)
        edges = new_edges
        edges_cnt = edges.count()
    if not converged and edges_cnt == 0:
        converged = True  # emptied exactly on the final allowed round
    final = labels.select("node_id", F.col("label").alias("cluster_id"))
    if converged:
        final = final.localCheckpoint()
    for df in retained:
        df.unpersist()
    if not converged:
        raise RuntimeError(
            f"min_label_components: labels still changing after "
            f"{max_rounds} contraction rounds — component diameter "
            f"exceeds ~4^{max_rounds}; raise max_rounds"
        )
    return final


def large_small_star_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same contract as min_label_components: returns
    (node_id, cluster_id) for every node appearing in >=1 pair, with
    cluster_id = the component's minimum node id.

    Per round, over edges oriented big->small (u > v):
      large-star: every node connects its strictly-LARGER neighbors to
                  the minimum of its closed neighborhood;
      small-star: every node connects its smaller-or-equal neighbors
                  (and itself) to the minimum of that set.
    Both operations preserve connectivity and strictly shrink the
    potential function of the paper; the fixed point is a forest of
    stars centered at component minima, reached in O(log^2 n) rounds —
    each is one groupBy-min plus one join, so the shuffle volume per
    round is linear in |E| and no round depends on graph DIAMETER,
    the failure mode of plain label propagation on skewed hub graphs.

    The result is identical to min_label_components (parity-pinned on
    all three dedup families in tests/test_dedup.py); which kernel the
    dedup call sites use is selected by cached_min_label_components'
    ``algorithm`` argument. Rounds used are
    exposed as ``.lss_rounds`` on the returned frame so tests can pin
    the bound. Raises instead of returning a non-converged forest.
    """
    retained: list[DataFrame] = []
    p = pairs.localCheckpoint()
    retained.append(p)
    # nodes are only consumed by the FINAL labels join — build the plan
    # now but don't materialize it (r13: the eager checkpoint here was
    # one whole extra job before the first round could start; p is
    # already checkpointed, so this stays a two-scan plan of checkpoint
    # blocks however late it runs)
    nodes = (
        p.select(F.col(id_a).alias("node_id"))
        .unionAll(p.select(F.col(id_b).alias("node_id")))
        .distinct()
    )
    # natural column types throughout — same contract as
    # min_label_components: greatest/least/min order ANY orderable id
    # type (string doc fingerprints included). A cast to long here
    # would NULL out non-numeric ids and silently return singletons.
    eu, ev = F.col(id_a), F.col(id_b)
    edges = (
        p.filter(eu != ev)
        .select(F.greatest(eu, ev).alias("u"), F.least(eu, ev).alias("v"))
        .dropDuplicates()
        .localCheckpoint()
    )
    retained.append(edges)
    # |edges| is carried across rounds (each round's fused stats job
    # returns the next round's count), so the set-equality convergence
    # test never re-counts a frame it already measured
    edges_cnt = edges.count()
    converged = False
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        # large-star over the symmetric view: for node x with closed-
        # neighborhood min m, emit (w, m) for every neighbor w > x.
        # Eager localCheckpoint, NOT a lazy persist (r13 probe): the
        # frame is referenced twice within small-star's plan, and
        # under AQE a lazily-cached two-shuffle subtree gets
        # recomputed by concurrently-scheduled sibling stages before
        # the cache fills — measured 6x slower than paying the one
        # materialization job.
        sym = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
            .localCheckpoint()
        )
        retained.append(large)
        # small-star on the big->small orientation: node u with
        # smaller-neighbor min m relinks those neighbors (and itself)
        minsS = large.groupBy("u").agg(F.min("v").alias("m"))
        joined = large.join(minsS, "u")
        small = (
            joined.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(joined.select("u", F.col("m").alias("v")))
            .dropDuplicates()
            .localCheckpoint()
        )
        retained.append(small)
        # fixed point of (large ∘ small) == star forest, i.e. the
        # deduped `small` SET-EQUALS `edges`: |small| == |edges| and
        # small ⊆ edges. r13: both facts come from ONE pass over the
        # checkpointed frame (left-join against edges, count rows +
        # count non-matches) instead of the former three jobs
        # (count + count + anti-join probe) per round.
        st = (
            small.join(
                edges.select("u", "v", F.lit(1).alias("_in")), ["u", "v"], "left"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("_in").isNull(), 1)).alias("outside"),
            )
            .first()
        )
        edges = small
        if st["outside"] == 0 and st["n"] == edges_cnt:
            converged = True
            break
        edges_cnt = st["n"]
    if converged:
        stars = edges.select(
            F.col("u").alias("node_id"), F.col("v").alias("label")
        )
        final = (
            nodes.join(stars, "node_id", "left")
            .select(
                "node_id",
                F.coalesce("label", "node_id").alias("cluster_id"),
            )
            .localCheckpoint()
        )
    for df in retained:
        df.unpersist()
    if not converged:
        raise RuntimeError(
            f"large_small_star_components: not converged after "
            f"{max_rounds} rounds; raise max_rounds"
        )
    final.lss_rounds = rounds
    return final
