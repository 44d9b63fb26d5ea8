"""Iterative graph operators: connected components over an edge list.

Near-duplicate detection produces PAIRS (minhash/simhash/embedding LSH,
operators/dedup.py); turning pairs into dedup GROUPS is a connected-
components problem — ``minhash_dedup``'s explicit ``method="greedy"``
("drop id_b of every pair") over-drops when duplicates chain (a~b,
b~c: greedy drops b and c even if a~c was never verified). This module
provides the label-propagation fixpoint the standard large-scale dedup
pipelines use; it backs ``minhash_dedup``'s default
``method="components"``.

Scale design: each iteration is ONE equi-join (labels against the
symmetric edge list) + a map-side-combined min-aggregate — no driver
data movement. Lineage is truncated every iteration with
``localCheckpoint`` so the plan doesn't grow unboundedly (the
documented hard part of iterative Spark, SURVEY.md §7.4). Convergence
is O(component diameter) iterations; dedup clusters are shallow
(near-clique), so this converges in 2-3 rounds in practice. For
adversarially long chains at extreme scale the large-star/small-star
contraction variant (O(log n) rounds) is the drop-in upgrade —
implemented below as ``connected_components_star`` (same output
contract, gated against the same oracle by ``dup_components_star``).

Convergence probes: every iterative operator here gets its per-round
scalars — the changed-label count, the frontier or surviving-edge
count, PageRank's node count and dangling mass — from an
``Observation`` on the round's own checkpoint job
(:func:`~gbif_filter_python_spark.operators.iterate.observed_checkpoint`),
never from a separate ``count()``/``isEmpty()``/``collect()`` job on
the checkpointed frame.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gbif_filter_python_spark.operators.iterate import observed_checkpoint


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """(id, component) for every node in ``edges``; component is the
    minimum node id reachable. Deterministic.

    Raises if the fixpoint isn't reached within ``max_iterations`` —
    a diameter that large means the input isn't dedup-shaped and
    :func:`connected_components_star` should be used instead.
    """
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).unionByName(
        edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    ).localCheckpoint(eager=True)
    # ^ the edge set is re-joined EVERY iteration; without the
    # checkpoint each round re-evaluates the caller's whole upstream
    # plan. For the dedup chain (minhash → verify → components) that
    # upstream is ~34 s at sf10, and ~3 label rounds re-ran it to
    # 111.8 s total (BENCH_sf10_r08 leakage_split/bcubed_eval, the two
    # worst ladder ratios) — vs 4.4 s for the components themselves on
    # materialized pairs (BENCH_sf10_newops_r09 decomposition).
    # Pair-edge sets are tiny relative to the corpus, so the
    # executor-local materialization is the right trade at any scale.
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neigh = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("comp").alias("_ncomp"))
        )
        # A row changed iff its neighborhood min undercuts its label
        # (non-null ``_ncomp < comp`` ⇔ ``new != old``); the changed
        # count is observed on the round's own checkpoint job.
        labels, probe = observed_checkpoint(
            labels.join(neigh, labels["id"] == neigh["src"], "left").select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("_ncomp"), F.col("comp"))
                ).alias("comp"),
                (
                    F.col("_ncomp").isNotNull()
                    & (F.col("_ncomp") < F.col("comp"))
                ).alias("_chg"),
            ),
            F.count_if(F.col("_chg")).alias("changed"),
        )
        labels = labels.drop("_chg")
        if probe["changed"] == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "iterations; component diameter too large — use star contraction"
    )


def transitive_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_iterations: int = 30,
) -> DataFrame:
    """All (ancestor, descendant, depth) pairs of a parent-edge DAG.

    The unbounded-depth generalization of ``expansion.descend_to_rank``
    (SURVEY.md §7.4 "arbitrary-depth hierarchy"): the reference's
    taxonomy only ever needs ≤ 2 hops, but a real hierarchy (org
    charts, category trees, full taxonomic lineages) needs the
    fixpoint. Each round extends every frontier path by one parent
    edge: one equi-join, lineage truncated with ``localCheckpoint``,
    convergence detected by an empty frontier (its row count observed
    on the frontier's checkpoint job). Rounds = hierarchy
    depth, not data size; the per-round shuffle carries (ancestor,
    descendant, depth) triples only.

    Spark 4's recursive CTE (``WITH RECURSIVE``) can express the same
    plan SQL-side; this formulation adds the checkpoint cadence and an
    explicit ``max_iterations`` cycle guard (a cycle in a parent edge
    list would otherwise iterate forever — depth exceeding the cap
    raises instead).
    """
    e = edges.select(
        F.col(child_col).alias("descendant"),
        F.col(parent_col).alias("ancestor"),
    ).filter(F.col("ancestor").isNotNull())
    paths = e.withColumn("depth", F.lit(1)).localCheckpoint(eager=True)
    result = paths
    frontier = paths
    # derive the per-round join side from the CHECKPOINTED paths, not
    # the lazy `e` — joining `e` each round would re-evaluate the
    # caller's whole upstream plan once per hop (the r9
    # connected_components lesson: static loop inputs must be
    # materialized before the loop)
    up = paths.select(
        F.col("descendant").alias("_c"), F.col("ancestor").alias("_p")
    )
    for _ in range(max_iterations):
        nxt, probe = observed_checkpoint(
            frontier.join(up, frontier["ancestor"] == up["_c"]).select(
                "descendant",
                F.col("_p").alias("ancestor"),
                (F.col("depth") + 1).alias("depth"),
            ),
            F.count(F.lit(1)).alias("n"),
        )
        if probe["n"] == 0:
            return result
        result = result.unionByName(nxt)
        frontier = nxt
    raise RuntimeError(
        f"transitive_closure exceeded {max_iterations} levels — "
        "cycle in the parent edges or a deeper-than-expected hierarchy"
    )


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Keep one representative (the component-minimum id) per verified
    near-duplicate component; rows never in any pair pass through.

    The chain-correct upgrade of ``minhash_dedup``'s greedy drop: a~b
    and b~c collapse to ONE survivor (a) instead of greedy's a only if
    edges happened to point that way.
    """
    comps = connected_components(pairs, src_col, dst_col)
    losers = comps.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    test_pct: int = 10,
    val_pct: int = 10,
    split_col: str = "split",
) -> DataFrame:
    """Train/val/test split that near-duplicates can NEVER straddle —
    the leakage guard an LLM corpus needs: a test document with a
    near-copy in train silently inflates eval.

    Per-row hash splits (corpus.deterministic_split) assign duplicates
    independently, so ~2·test_pct% of each dup pair leaks across the
    boundary. Here the split key is the row's near-dup COMPONENT
    (minimum reachable id over the verified-pair graph; rows in no
    pair are their own component), so every member of a duplicate
    cluster lands in the same split by construction.

    Scale shape: connected_components shuffles only the pair edges
    (tiny vs the corpus); the component map joins back to the corpus
    once (broadcastable — components exist only for paired rows); the
    split itself is the map-only md5-threshold filter. Output: input
    rows + ``split_col``.
    """
    from gbif_filter_python_spark.functions.text import md5_bucket

    comps = connected_components(pairs, src_col, dst_col).select(
        F.col("id").alias(id_col), F.col("comp").alias("_comp")
    )
    with_comp = df.join(F.broadcast(comps), id_col, "left").withColumn(
        "_comp", F.coalesce(F.col("_comp"), F.col(id_col))
    )
    b = md5_bucket(F.col("_comp"), 100)
    return with_comp.withColumn(
        split_col,
        F.when(b < test_pct, F.lit("test"))
        .when(b < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train")),
    ).drop("_comp")


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    n_iter: int = 5,
    round_dp: int = 4,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list:
    ``(id, rank)`` after exactly ``n_iter`` power-iteration steps —
    the importance score large corpus pipelines use to weight web
    documents by link authority (e.g. the Common-Crawl-graph rank
    feature in quality classifiers).

    Semantics (uniform init, dangling mass redistributed uniformly):

        rank_0(v)   = 1 / N
        rank_i+1(v) = (1-d)/N + d * (sum_{u->v} rank_i(u)/deg(u)
                                     + dangling_i / N)

    Fixed ``n_iter`` (not convergence-tested) keeps the result
    closed-form enough for a cross-engine SQL oracle; ranks round to
    ``round_dp`` at the END only (intermediate iterations stay full
    precision — the sums are small per node, so cross-engine float
    drift stays ~1e-13, far below the rounding quantum).

    Plan shape. The edge list is checkpointed once, and the node table
    ``(id, deg)`` — every endpoint with its out-degree, NULL for a
    dangling node — is built once from it; that table's checkpoint
    observes ``N`` and the dangling-node count. A round is ONE
    ``unionByName`` + ``groupBy("id")``: node rows carry ``deg`` and a
    0.0 contribution (so every node, fed or not, keeps its row and its
    degree), edge rows carry ``rank/deg`` of their source to ``dst``
    (one equi-join of the edge list against the rank vector). The
    aggregate both sums a node's in-flow and carries its degree to the
    next round, so no second join against the node table is needed;
    the round's checkpoint observes the next dangling mass,
    ``sum(rank) where deg is null``, so no round runs a job of its own
    for it. ``localCheckpoint`` truncates lineage each round.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    # ^ the edges are re-joined EVERY round; left lazy, each round
    # would re-evaluate the caller's upstream plan (static loop inputs
    # must be materialized; the connected_components lesson)
    deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    ids = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    nodes, probe = observed_checkpoint(
        ids.join(deg, "id", "left"),
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("deg").isNull()).alias("dangling"),
    )
    n = probe["n"]
    if n == 0:
        return nodes.select("id", F.lit(0.0).alias("rank"))
    # an edge into a NULL id feeds no node: drop it here so the NULL
    # key of the round's aggregate stays the NULL node's own row
    out_edges = e.filter(F.col("dst").isNotNull())
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    dangling = probe["dangling"] / n
    for _ in range(n_iter):
        fed = out_edges.join(ranks, out_edges["src"] == ranks["id"]).select(
            F.col("dst").alias("id"),
            F.lit(None).cast("long").alias("deg"),
            (F.col("rank") / F.col("deg")).alias("_c"),
        )
        ranks, probe = observed_checkpoint(
            ranks.select("id", "deg", F.lit(0.0).alias("_c"))
            .unionByName(fed)
            .groupBy("id")
            .agg(F.max("deg").alias("deg"), F.sum("_c").alias("_in"))
            .select(
                "id",
                "deg",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * (F.col("_in") + F.lit(dangling / n))
                ).alias("rank"),
            ),
            F.sum(F.when(F.col("deg").isNull(), F.col("rank"))).alias(
                "dangling"
            ),
        )
        dangling = probe["dangling"] or 0.0
    return ranks.select("id", F.round("rank", round_dp).alias("rank"))


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list:
    ``(id, triangles)`` for every node incident to an edge.

    Triangle density is the classic cohesion signal over a
    near-duplicate pair graph (operators/dedup.py produces the
    edges): a dup cluster whose pairs triangulate is a true clique
    (every member verified against every other), while a chain
    a~b~c with no a~c edge — exactly the case ``dedup_by_components``
    handles conservatively — has triangles = 0.

    Scale design — degree-ordered orientation (the O(m^1.5) wedge
    bound): every undirected edge is directed from its lower
    (degree, id) endpoint to its higher one, so each wedge is
    enumerated at its lowest-degree apex and each triangle exactly
    once. This is the standard skew armor: a celebrity node of degree
    d contributes ~0 wedges as apex because nearly all its edges
    point INTO it. The orientation changes only the join sizes —
    counts are identical to the naive a<b<c enumeration, which is
    what the DuckDB oracle replays. Three equi-joins + one explode
    aggregate; node ids only on the shuffle.
    """
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    # Materialize the symmetric edge list ONCE: degree, orientation,
    # wedge and node subtrees all re-reference it, and an expensive
    # upstream edge derivation (a similarity join, say) would
    # otherwise re-execute per reference — measured 7× at sf1.
    both = sym.unionByName(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    deg = both.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    # Orient each edge low→high by (degree, id); ties on degree break
    # by id, so the orientation is a strict total order (acyclic).
    d = (
        both.join(deg.withColumnRenamed("a", "_u"), F.col("a") == F.col("_u"))
        .withColumnRenamed("deg", "dega")
        .join(
            deg.select(F.col("a").alias("_v"), F.col("deg").alias("degb")),
            F.col("b") == F.col("_v"),
        )
        .filter(
            (F.col("dega") < F.col("degb"))
            | ((F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b")
    )
    w1 = d.select(F.col("a").alias("u"), F.col("b").alias("v"))
    w2 = d.select(F.col("a").alias("u"), F.col("b").alias("w"))
    wedges = w1.join(w2, "u").filter(F.col("v") < F.col("w"))
    # The closing edge between v and w is oriented one way or the
    # other; check both directions against the oriented edge list.
    closing = d.select(
        F.least("a", "b").alias("v"), F.greatest("a", "b").alias("w")
    ).distinct()
    tris = wedges.join(closing, ["v", "w"]).select(
        F.explode(F.array("u", "v", "w")).alias("id")
    )
    counts = tris.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    nodes = both.select(F.col("a").alias("id")).distinct()
    return nodes.join(counts, "id", "left").select(
        "id", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles")
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan 2007) for community
    detection: ``(id, label)`` after exactly ``n_iter`` rounds.

    label_0(v) = v; each round every node adopts the MAJORITY label
    among its neighbors (ties broken by smallest label; isolated
    nodes keep their label). Fully deterministic — the asynchronous
    textbook variant is order-dependent, so this fixed-round
    synchronous form is what a reproducible data pipeline (and the
    unrolled-CTE DuckDB oracle) needs. Against the near-dup pair
    graph this yields dedup communities without running components
    to convergence first.

    Scale shape per round (identical to the pagerank round): one
    equi-join of the label vector against the symmetric edge list,
    one (node, label) count aggregate, one WindowGroupLimit argmax,
    one join back; ``localCheckpoint`` truncates lineage. Shuffles
    carry (id, label, count) integers only.
    """
    from pyspark.sql import Window

    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    both = (
        sym.unionByName(
            sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = both.select(F.col("a").alias("id")).distinct()
    labels = nodes.withColumn("label", F.col("id")).localCheckpoint(
        eager=True
    )
    w = Window.partitionBy("id").orderBy(
        F.desc("_c"), F.asc("label")
    )
    for _ in range(n_iter):
        votes = (
            both.join(labels, both["a"] == labels["id"])
            .select(F.col("b").alias("id"), "label")
            .groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        winner = (
            votes.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("id", F.col("label").alias("_new"))
        )
        labels = (
            labels.select("id", "label")
            .join(winner, "id", "left")
            .select(
                "id", F.coalesce("_new", "label").alias("label")
            )
            .localCheckpoint(eager=True)
        )
    return labels


def k_core(
    edges: DataFrame,
    k: int = 2,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """k-core decomposition for a fixed ``k``: the maximal subgraph in
    which every node has degree ≥ k (Seidman 1983 — the standard
    "cohesive community vs incidental fringe" cut above the
    similarity-graph operators here: a node in the 3-core has three
    mutually-well-connected neighbors; a pendant chain never does).
    Returns ``(id, core_degree)`` for surviving nodes — degree counted
    WITHIN the core (all ≥ k by the fixpoint). Simple-graph
    semantics: parallel input edges collapse via distinct; self-loops
    are dropped (a self-loop is not cohesion).

    The peel loop is degree-prune iterated to fixpoint: per round, ONE
    map-side-combined degree aggregation over the surviving symmetric
    edge list + two semi-joins pruning edges whose either endpoint
    fell under k. No driver data movement — the only driver value is
    the per-round surviving-edge count (a scalar, which doubles as the
    convergence test, observed on the round's checkpoint job);
    ``localCheckpoint`` truncates lineage per round
    (the connected_components contract). Round count is bounded by
    the degeneracy ordering depth — small for similarity graphs; the
    cap raises rather than silently returning a non-core.
    """
    n_rows = F.count(F.lit(1)).alias("n")
    sym, probe = observed_checkpoint(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(
            edges.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        n_rows,
    )
    n_edges = probe["n"]
    for _ in range(max_iterations):
        if n_edges == 0:
            break
        keep = (
            sym.groupBy("src")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select("src")
        )
        sym, probe = observed_checkpoint(
            sym.join(keep, "src", "left_semi")
            .join(
                keep.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
            .select("src", "dst"),
            n_rows,
        )
        n_next = probe["n"]
        if n_next == n_edges:
            return sym.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("core_degree")
            )
        n_edges = n_next
    if n_edges == 0:
        return sym.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("core_degree")
        )
    raise RuntimeError(
        f"k_core did not reach a fixpoint in {max_iterations} rounds"
    )


def k_truss(
    edges: DataFrame,
    k: int = 4,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """k-truss decomposition (Cohen 2008): the maximal subgraph in
    which every EDGE participates in at least k-2 triangles — the
    edge-level cohesion cut one notch stricter than :func:`k_core`
    (every k-truss is inside the (k-1)-core, but a sparse hub passes
    a degree test while failing the triangle test). Returns the
    surviving edges ``(id_a, id_b, support)`` canonicalized a < b,
    support counted within the truss (all ≥ k-2 at the fixpoint).
    Simple-graph semantics (parallel edges collapse, self-loops drop).

    Peel loop, per round: enumerate triangles once with the oriented
    x<y<z three-way self-join (each triangle materializes exactly
    once — no factor-6 duplication), scatter each to its three edges,
    count per-edge support in one hash aggregation, and drop edges
    under k-2. Shuffles carry (node, node) integer pairs only;
    ``localCheckpoint`` truncates lineage per round and the only
    driver value is the surviving-edge count (the convergence scalar,
    observed on the round's checkpoint job). Round count is bounded
    by the truss peeling depth — shallow on similarity graphs
    (measured 7 at k=8 on the item graph). For hot nodes the oriented
    join bounds wedge fan-out by the a<b orientation; at extreme skew,
    degree-order the orientation first (triangle_count's trick) before
    the loop.
    """
    n_rows = F.count(F.lit(1)).alias("n")
    cur, probe = observed_checkpoint(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        n_rows,
    )
    min_sup = k - 2
    n_edges = probe["n"]
    for _ in range(max_iterations):
        if n_edges == 0:
            return cur.select(
                F.col("a").alias("id_a"),
                F.col("b").alias("id_b"),
                F.lit(0).cast("long").alias("support"),
            )
        e1 = cur.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = cur.select(F.col("a").alias("y"), F.col("b").alias("z"))
        e3 = cur.select(F.col("a").alias("x"), F.col("b").alias("z"))
        tri = e1.join(e2, "y").join(e3, ["x", "z"])
        support = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
            .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        kept, probe = observed_checkpoint(
            cur.join(support, ["a", "b"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= min_sup)
            # coalesce in the PROJECTION too: with k<=2 (min_sup<=0)
            # triangle-free edges survive the filter and their support
            # must read 0 — a count — not NULL (ADVICE r4).
            .select(
                "a",
                "b",
                F.coalesce(F.col("support"), F.lit(0).cast("long")).alias(
                    "support"
                ),
            ),
            n_rows,
        )
        n_next = probe["n"]
        if n_next == n_edges:
            return kept.select(
                F.col("a").alias("id_a"), F.col("b").alias("id_b"), "support"
            )
        cur = kept.select("a", "b")
        n_edges = n_next
    raise RuntimeError(
        f"k_truss did not reach a fixpoint in {max_iterations} rounds"
    )


def connected_components_star(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """(id, component) via alternating large-star / small-star
    contraction (Kiveris et al., SoCC 2014) — the O(log n)-round
    variant the :func:`connected_components` docstring names as the
    drop-in upgrade for adversarial diameters: label propagation
    needs O(diameter) rounds (a 10k-link chain = 10k joins), star
    contraction collapses the same chain in ~log rounds by rewiring
    every edge toward the neighborhood minimum each round.

    Per round, each phase is ONE symmetric-neighbor aggregation
    (min over Γ(u) ∪ {u}) plus a projection of rewired edges —
    large-star rewires strictly-larger neighbors to the min,
    small-star rewires the rest; both also emit the node's own link
    to its min (connectivity is then preserved edge-by-edge:
    u—v becomes u—m—v). Edges only ever move toward smaller ids, so
    the edge multiset converges to component-minimum stars; the
    convergence check compares the round's edge count (observed on its
    checkpoint job) with the previous one and, only when they agree,
    runs a distributed ``exceptAll`` count (no edge data reaches the
    driver); ``localCheckpoint`` truncates lineage per round. Same
    output contract as ``connected_components`` (component = min
    reachable id; every node of ``edges`` labeled).
    """

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("a").alias("b"), F.col("b").alias("a")).select(
                "a", "b"
            )
        )

    def _phase(e: DataFrame, large: bool) -> DataFrame:
        nb = _sym(e)
        mins = nb.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        cond = F.col("b") > F.col("a") if large else F.col("b") <= F.col("a")
        rewired = nb.join(mins, "a").filter(cond).select(
            F.col("b").alias("a"), F.col("m").alias("b")
        )
        self_links = mins.select(F.col("a"), F.col("m").alias("b"))
        return (
            rewired.unionByName(self_links)
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    raw = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    n_rows = F.count(F.lit(1)).alias("n")
    cur, probe = observed_checkpoint(
        raw.filter(F.col("a") != F.col("b")).distinct(), n_rows
    )
    n_cur = probe["n"]
    # Node universe from the RAW endpoints — BEFORE the self-loop
    # filter — so a node whose only edge is a self-loop still gets its
    # (id, comp=id) row, exactly as connected_components labels it
    # (ADVICE r4: the contract is "every node of ``edges`` labeled").
    all_nodes = (
        raw.select(F.col("a").alias("id"))
        .unionByName(raw.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        nxt, probe = observed_checkpoint(
            _phase(_phase(cur, large=True), large=False), n_rows
        )
        # the exceptAll anti-count short-circuits on a cardinality
        # change, so it only runs on the terminal rounds
        n_nxt = probe["n"]
        same = n_nxt == n_cur and nxt.exceptAll(cur).count() == 0
        cur = nxt
        n_cur = n_nxt
        if same:
            labels = cur.select(
                F.col("a").alias("id"), F.col("b").alias("comp")
            )
            return all_nodes.join(labels, "id", "left").select(
                "id", F.coalesce(F.col("comp"), F.col("id")).alias("comp")
            )
    raise RuntimeError(
        f"star contraction did not converge in {max_iterations} rounds"
    )


def adamic_adar(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 1,
    max_center_degree: int | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar 2003) over an
    undirected edge list: for every NON-adjacent node pair sharing at
    least ``min_common`` neighbors, ``(id_a, id_b, common_neighbors,
    aa_score)`` with

        aa = Σ_{z ∈ N(a) ∩ N(b)}  1 / ln(deg(z))

    — the classic "which duplicate pairs did the similarity join
    miss" / "which items will co-occur next" ranking. A shared
    neighbor of degree 2 (ln 2 ≈ 0.69, weight ≈ 1.44) is strong
    evidence; a hub shared by everyone contributes ~nothing. Wedge
    centers always have degree ≥ 2 (they touch both endpoints), so
    ln(deg) is never 0. Existing edges are anti-joined out — the
    operator predicts NEW links only.

    Scale shape: degrees come from one agg over the symmetrized edge
    list; wedges are the self-equi-join on the CENTER key (each
    center z fans out deg(z)² pairs — the one quadratic term, and it
    is quadratic in single-node degree, not graph size).
    ``max_center_degree`` is the skew valve: dropping hub centers
    above the cap bounds the fan-out per key, and since a hub's
    weight 1/ln(deg) is asymptotically negligible the ranking is
    barely perturbed — same contract as the hot-bucket cap in
    minhash_lsh_candidates. The anti-join and the final agg shuffle
    only (a, b) pair rows.
    """
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    both = sym.unionByName(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    deg = both.groupBy(F.col("a").alias("z")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    if max_center_degree is not None:
        deg = deg.filter(F.col("deg") <= max_center_degree)
    # star join at the wedge center: (z, neighbor) ⋈ (z, neighbor)
    nbr = both.select(F.col("a").alias("z"), F.col("b").alias("nb"))
    l, r = nbr.alias("l"), nbr.alias("r")
    wedges = (
        l.join(r, "z")
        .filter(F.col("l.nb") < F.col("r.nb"))
        .join(deg, "z")
        .select(
            F.col("l.nb").alias("id_a"),
            F.col("r.nb").alias("id_b"),
            (1.0 / F.log(F.col("deg").cast("double"))).alias("w"),
        )
    )
    scored = wedges.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.round(F.sum("w"), round_dp).alias("aa_score"),
    )
    return (
        scored.join(
            sym,
            (F.col("id_a") == F.col("a")) & (F.col("id_b") == F.col("b")),
            "left_anti",
        )
        .filter(F.col("common_neighbors") >= min_common)
        .select("id_a", "id_b", "common_neighbors", "aa_score")
    )


def harmonic_centrality(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 4,
    round_dp: int = 6,
) -> DataFrame:
    """Hop-bounded harmonic centrality (Boldi & Vigna 2014's
    preferred closeness variant — sums 1/d so disconnected pairs
    contribute 0 instead of breaking the mean): per node
    ``(id, n_reached, harmonic)`` with

        harmonic(u) = Σ_{v ≠ u, d(u,v) ≤ max_hops} 1 / d(u, v)

    over the undirected graph — "which items sit in the middle of
    the similarity neighborhood" where :func:`pagerank` measures
    in-flow and :func:`triangle_count` local cohesion. The hop bound
    is the contract, not a shortcut: exact all-pairs distances on an
    unbounded graph are O(n·m), so this operator targets the BOUNDED
    graphs this module produces (near-dup pair graphs, catalog-capped
    item graphs) and truncates the long tail, which 1/d already
    discounts.

    Scale shape: classic frontier BFS as iterated joins — dist_k
    joins the symmetric edge list, anti-joins everything already
    reached (so each (u, v) pair carries its SHORTEST distance,
    exactly once), unions, localCheckpoints per hop (lineage reset,
    the connected-components discipline). Shuffle rows are reached
    pairs only.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    both = sym.unionByName(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    hop1 = both.select(
        F.col("a").alias("u"), F.col("b").alias("v"), F.lit(1).alias("d")
    ).localCheckpoint(eager=True)
    # ``reached`` stays a LAZY union of the per-hop checkpointed
    # frontiers: each hop's pairs are materialized exactly once (in
    # ``nxt``'s checkpoint) instead of re-copied into a fresh
    # checkpoint of the whole growing reached set every round — one
    # fewer job AND one fewer full-materialization per hop, identical
    # anti-join semantics (optimization r14, guide §2.4). The union
    # plan grows by one cached leaf per hop, bounded by max_hops.
    parts = [hop1]
    reached = hop1
    frontier = hop1
    for k in range(2, max_hops + 1):
        nxt = (
            frontier.join(
                both.withColumnRenamed("a", "v"),
                "v",
            )
            .select("u", F.col("b").alias("v"), F.lit(k).alias("d"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .join(reached.select("u", "v"), ["u", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        parts.append(nxt)
        reached = reduce(DataFrame.unionByName, parts)
        frontier = nxt
    nodes = both.select(F.col("a").alias("u")).distinct()
    scores = reached.groupBy("u").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.round(F.sum(1.0 / F.col("d")), round_dp).alias("harmonic"),
    )
    return (
        nodes.join(scores, "u", "left")
        .select(
            F.col("u").alias("id"),
            F.coalesce("n_reached", F.lit(0)).cast("long").alias(
                "n_reached"
            ),
            F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
        )
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    round_dp: int = 6,
) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002): ONE row
    ``(n_nodes, n_edges, assortativity)`` — the Pearson correlation
    of endpoint degrees over all DIRECTED edge occurrences (each
    undirected edge counted in both orientations, the standard
    convention that makes the statistic symmetric). Positive =
    hubs attach to hubs (social graphs); negative = hub-and-spoke
    (similarity graphs with a few cosmopolitan items — exactly the
    skew the hot-bucket caps in this module defend against, so this
    is the one-number probe for whether those caps will bind).
    Regular graphs (zero degree variance) yield NULL — undefined,
    not 0, by Pearson semantics.

    Scale shape (r14 optimization round): over the directed edge
    occurrences the MARGINAL moments of the endpoint degrees are pure
    degree-table sums — node ``v`` appears as the left endpoint of
    exactly ``deg(v)`` directed edges, so ``Σ da = Σ deg²``,
    ``Σ da² = Σ deg³`` and ``n = Σ deg``, all exact integer sums over
    the |nodes|-row table. Only the CROSS term needs the edge list:
    one broadcast join attaches ``deg(a)`` to each directed edge, a
    map-side-combined ``groupBy(b)`` reduces it to the |nodes|-row
    neighbor-degree sums ``S(b) = Σ_{a~b} deg(a)``, and
    ``Σ da·db = Σ_b deg(b)·S(b)`` rides a node-sized join. The r13
    shape joined the degree dimension onto the edge list TWICE and
    ran ``count_distinct`` over the edge-sized join output; nothing
    edge-sized aggregates or shuffles here beyond the one degree
    attach. Pearson is the spelled-out closed form on these sufficient
    statistics (the sample-(n−1) factors cancel in r), with the same
    zero-variance → NULL guard (Spark 4 ANSI corr() would throw).
    """
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    both = sym.unionByName(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = both.groupBy(F.col("a").alias("n")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    d = F.col("deg").cast("double")
    marg = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.coalesce(F.sum("deg"), F.lit(0)) / 2)
        .cast("long")
        .alias("n_edges"),
        F.coalesce(F.sum("deg"), F.lit(0)).cast("double").alias("_n"),
        F.sum(d * d).alias("_sx"),
        F.sum(d * d * d).alias("_sxx"),
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("_da"))
    nbr = (
        both.join(F.broadcast(da), "a")
        .groupBy(F.col("b").alias("n"))
        .agg(F.sum("_da").alias("_snbr"))
    )
    cross = (
        deg.join(nbr, "n")
        .agg(F.sum(d * F.col("_snbr").cast("double")).alias("_sxy"))
    )
    agg = marg.crossJoin(F.broadcast(cross))
    # Precision note (ADVICE r14): the raw power sums feed the
    # cancellation-prone n·Sxy − Sx² closed form; for graphs whose
    # moment sums approach 2^53 with near-zero assortativity,
    # catastrophic cancellation could perturb r beyond the 6dp
    # rounding. Mitigating by centering on a pre-pass mean would
    # change the computed doubles (and potentially the 6dp-rounded
    # declared output) for zero performance gain, so it is documented
    # rather than applied; at that operating point switch to shifted
    # moment sums AND re-derive the oracle together.
    # Directed occurrences are symmetric in (a, b), so Σ db = Σ da and
    # Σ db² = Σ da²: vy ≡ vx and the closed form needs only vx.
    n = F.col("_n")
    cov = n * F.col("_sxy") - F.col("_sx") * F.col("_sx")
    vx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    r = F.when(vx > 0, cov / vx)
    return agg.select(
        "n_nodes",
        "n_edges",
        F.round(r, round_dp).alias("assortativity"),
    )
