"""Connected components (N19-N20) without a graph library.

Reference: duplicate-pair edges -> DFS single-linkage clusters
(pipeline/duplicate_detector.py:216-264). DFS doesn't distribute, so
there are two paths, both labeling every node with the min node id it
reaches:

- ``local``: a small edge list is collected and solved with driver-side
  union-find.
- ``star``: alternating large-star / small-star contraction (Kiveris
  et al., "Connected Components in MapReduce and Beyond", SoCC 2014).
  Each round re-points whole neighborhoods at the neighborhood
  minimum, so label distance to the component root shrinks
  multiplicatively: O(log^2 n) rounds worst case, ~log2 n measured (a
  65,536-node path converges in 17 rounds, a 4,096-node path in 13,
  near-clique dup graphs in 2; SCALE.md "Iterative operators").
  Min-label propagation needs rounds = diameter instead, which is why
  it is not offered. Each round runs TWO groupBy+join pairs (large-star
  over the symmetric edge set, small-star over the canonical one) plus
  an O(1)-output fingerprint agg, and ``localCheckpoint`` cuts the
  lineage every round so plan size stays O(1) per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.decisions import record
from conversation_analysis_tools_spark.operators.cache import track


#: Edge count below which the graph is collected and solved with
#: driver-side union-find: a duplicate graph's edge list is almost
#: always tiny relative to the corpus (it IS the point of dedup), and
#: a local union-find on 10^5 edges is milliseconds, vs several
#: distributed join rounds. Above the limit star contraction runs
#: (scales to any size).
SMALL_GRAPH_LIMIT = 500_000


def connected_components(
    edges: DataFrame,
    max_iter: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """(src, dst) undirected edges -> (id, component) with component =
    min node id reachable (matches the reference's min-representative
    selection, duplicate_detector.py:266-299).

    Strategies: ``local`` (driver union-find, small graphs) and
    ``star`` (large-star/small-star contraction, O(log n) rounds on
    any topology). ``auto`` probes the edge count and picks ``local``
    up to :data:`SMALL_GRAPH_LIMIT` edges, else ``star``. Any other
    value raises ``ValueError``.
    """
    if strategy not in ("auto", "local", "star"):
        raise ValueError(f"unknown strategy {strategy!r}: use 'auto', 'local' or 'star'")
    # persist first: the probe, the collect/loop, and any downstream
    # join would otherwise re-materialize the (often expensive)
    # edge-producing plan -- e.g. the all-pairs similarity join
    edges = track(edges)
    requested, head, rounds = strategy, None, None
    if strategy == "auto":
        # Fused probe+collect (one materialization, not two): take up
        # to LIMIT+1 edge rows. At or under the limit those rows ARE
        # the whole graph -- solve on them directly instead of
        # re-reading the (persisted) edge plan a second time; over the
        # limit the bounded head (~8 MB of id pairs) is discarded and
        # the diameter-robust star path runs. executeTake also scans
        # incrementally, so huge edge plans often probe FEWER
        # partitions than the old limit+count job did.
        head = edges.select("id1", "id2").limit(SMALL_GRAPH_LIMIT + 1).collect()
        strategy = "local" if len(head) <= SMALL_GRAPH_LIMIT else "star"
    if strategy == "local":
        out = (_cc_local(edges, "id1", "id2") if head is None
               else _cc_local_rows(head, edges, "id1"))
    else:
        # max_iter=None -> _cc_star self-sizes its round cap from the
        # node count (a fixed cap would be too tight past ~10^8
        # nodes); an explicit max_iter is honored verbatim so
        # round-bound certificates (cc_star_chain_fixed) keep their
        # teeth, and hitting it raises rather than returning
        # silently-split components
        out, rounds = _cc_star(edges, max_iter)
    record("connected_components", strategy, requested=requested,
           probe_edges=None if head is None else len(head), star_rounds=rounds)
    return out


def _cc_local(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Driver-side union-find over a collected (small) edge list."""
    return _cc_local_rows(edges.select(src, dst).collect(), edges, src)


def _cc_local_rows(rows, edges: DataFrame, src: str) -> DataFrame:
    """Union-find core over already-collected (src, dst) rows --
    shared by the explicit ``local`` strategy and the fused auto-probe
    (which already holds the full edge list when it decides local)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the representative IS the component label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(n, find(n)) for n in parent]
    spark = edges.sparkSession
    # broadcast hint: this relation just fit in DRIVER memory (the
    # local strategy's precondition), so it always fits a broadcast.
    # Without the hint, downstream joins of the component table (the
    # pipeline's is_duplicate flag) plan a sort-merge join whose two
    # exchanges + sorts dominate the join of a corpus-sized left side
    # against this small createDataFrame relation (no stats).
    return spark.createDataFrame(
        out, schema=f"id {_id_type(edges, src)}, component {_id_type(edges, src)}"
    ).hint("broadcast")


def _id_type(edges: DataFrame, col: str) -> str:
    return edges.schema[col].dataType.simpleString()


def _edge_fingerprint(cur: DataFrame) -> tuple:
    """(count, two independent hash sums) of a canonical edge set --
    an O(1)-output convergence probe that avoids the exceptAll shuffle
    a literal set comparison would cost every round."""
    row = cur.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor, not sum: order-insensitive over the (distinct) edge
        # set and immune to ANSI-mode long overflow
        F.expr("bit_xor(xxhash64(hi, lo))").alias("h1"),
        F.expr("bit_xor(xxhash64(7, hi, lo))").alias("h2"),
    ).first()
    return (row["n"], row["h1"], row["h2"])


def _cc_star(edges: DataFrame, max_iter: int | None = None) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star contraction (Kiveris et
    al., SoCC 2014) -- O(log n) rounds on any topology, so long
    chains don't stall it the way they stall min-label propagation.

    Edges are kept canonical as (hi, lo) with hi > lo. Per round:

    - large-star: over the symmetric neighborhood of each node u,
      m = min(N(u) + {u}); every neighbor v > u re-points to m.
    - small-star: over the canonical (downward) neighborhood of each
      node hi, m = min(N(hi)); hi and every lo != m re-point to m.

    Both steps preserve connectivity (every replaced edge keeps a
    path through m) and never raise the minimum reachable id, and a
    union of min-rooted stars is a fixed point of both -- so at the
    fingerprint fixpoint each component is exactly the star of its
    minimum, and (child -> root) edges ARE the label table. Nodes
    are captured up front so self-loop-only and already-root nodes
    still label themselves. Returns (labels, rounds run, counting the
    fixpoint-confirming one).
    """
    nodes = (
        edges.select(F.col("id1").alias("id"))
        .union(edges.select(F.col("id2").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    cur = (
        edges.where(F.col("id1") != F.col("id2"))
        .select(
            F.greatest(F.col("id1"), F.col("id2")).alias("hi"),
            F.least(F.col("id1"), F.col("id2")).alias("lo"),
        )
        .distinct()
        .localCheckpoint()
    )
    if max_iter is None:
        # self-sized cap: 2*log2(n) + 8 covers the measured ~log2 n
        # convergence with ample headroom (cap is a backstop, the
        # fingerprint fixpoint exits early), stays tiny at 10^12 nodes
        import math

        n_nodes = nodes.count()
        max_iter = 2 * math.ceil(math.log2(max(n_nodes, 2))) + 8
    fp = _edge_fingerprint(cur)
    def _one_round(cur: DataFrame) -> DataFrame:
        # large-star: mins need the SYMMETRIC neighborhoods, but the
        # emitted edges (v, m(u)) with v > u survive only from the
        # u=lo side of each canonical edge -- so join cur (not sym)
        # against mins on lo, halving the join-probe volume
        sym = cur.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            cur.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        # hi > lo >= m keeps (hi, m) canonical
        cur = (
            cur.join(mins.withColumnRenamed("u", "lo"), "lo")
            .select("hi", F.col("m").alias("lo"))
            .distinct()
            .localCheckpoint()
        )
        # small-star over the canonical (all-smaller) neighborhoods
        mins = cur.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = cur.join(mins, "hi")
        return (
            joined.where(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(mins.select("hi", F.col("m").alias("lo")))
            .distinct()
            .localCheckpoint()
        )

    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        cur = _one_round(cur)
        new_fp = _edge_fingerprint(cur)
        if new_fp == fp:
            converged = True
            break
        fp = new_fp
    if not converged:
        # the fingerprint only proves a fixpoint one round AFTER the
        # last change, so a graph whose edge set reaches star form
        # exactly at round max_iter would otherwise need max_iter+1
        # rounds: grant that single change-free confirming round for
        # free before declaring failure (it cannot advance a
        # non-converged contraction past where max_iter+1 would)
        rounds += 1  # the confirm round ran, so the census counts it
        confirm = _one_round(cur)
        if _edge_fingerprint(confirm) == fp:
            converged = True
            cur = confirm
    if not converged:
        # LOUD, not silently wrong: at the cap the edge set can still
        # contain chains, and groupBy-min labels would split one
        # component across several non-root labels (downstream dedup
        # would then KEEP duplicates)
        raise RuntimeError(
            f"star contraction did not reach its fixpoint in {max_iter} "
            "rounds (+1 change-free confirming round); raise max_iter "
            "(rounds needed ~= log2(n_nodes)+1)"
        )
    # converged: the edge set is (child, root) stars
    child = cur.groupBy(F.col("hi").alias("id")).agg(F.min("lo").alias("component"))
    return nodes.join(child, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    ), rounds


def unique_representatives(all_ids: DataFrame, components: DataFrame) -> DataFrame:
    """N20 unique-doc selection: min(id) per cluster + every standalone
    id (duplicate_detector.py:266-299). ``all_ids`` must have column
    ``id``."""
    reps = components.groupBy("component").agg(F.min("id").alias("id"))
    standalone = all_ids.join(components, "id", "left_anti")
    return reps.select("id").unionByName(standalone.select("id"))
