"""Hierarchical child expansion (SURVEY.md §2 ops 12, 13, 15, 22, 26).

The reference expands a FAMILY/GENUS taxon into accepted children at a
target rank with one REST call (``species.name_lookup(higherTaxonKey=…,
rank=…, habitat=…, datasetKey=backbone, limit=1000)``,
/root/reference/gbif_helper.py:35-42), filters ``taxonomicStatus ==
'ACCEPTED'`` client-side (gbif_helper.py:48-50), spatially filters each
child with one probe each (gbif_helper.py:53-58), and projects
name/key arrays (apply_gbif_filter.py:167-168).

Here the hierarchy lives in the taxonomy dimension's ``parent_key``
edge, so expansion is one chain of left self-joins, one per hop (one
hop for GENUS→SPECIES / FAMILY→GENUS, two for FAMILY→SPECIES, up to the
rank-lattice depth for ranks outside it). The spatial filter is a
single semi-join of ALL candidate children against the zone-filtered
occurrence keys — the per-child probe loop disappears.

Deliberate fixes (documented differences):

* no 1000-child cap and no broken overflow warning (§2-F;
  gbif_helper.py:41,44-47 references undefined names and would
  NameError past 1000 children);
* arrays are computed per distinct parent and joined back to ALL rows,
  not just the first row per duplicate taxid (§2-C), and are sorted by
  (name, key) for determinism where the reference inherits API order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gbif_filter_python_spark.operators.iterate import observed_checkpoint
from gbif_filter_python_spark.schemas import (
    BACKBONE_DATASET_KEY,
    RANKS,
    STATUS_ACCEPTED,
)

_RANK_INDEX = {r: i for i, r in enumerate(RANKS)}


def descend_to_rank(
    taxonomy: DataFrame,
    parents: DataFrame,
    target_rank: str,
    habitat: str | None = None,
    backbone_only: bool = True,
    max_hops: int | None = None,
) -> DataFrame:
    """All descendants of ``parents`` at ``target_rank``.

    ``parents`` must have a single long column ``parent``. Returns
    ``(parent, child_key, child_name)``.

    One linear chain of ``max_hops`` left joins against the taxonomy
    (rank-lattice depth, ≤ len(RANKS)). Each row is a path (root, c1 …
    ck); a path extends only from a node whose rank is not the target,
    so it ends at its first target-rank node and holds at most one hit.
    Every level joins the same taxonomy projection, so the levels share
    one broadcast of it at runtime (one BroadcastExchange and
    ``max_hops - 1`` ReusedExchange nodes) instead of each hop
    re-deriving the joins before it; the result's filter reads the last
    hop's ``_next`` so the optimizer cannot narrow that hop's
    projection out of the shared one. For unbounded hierarchies
    this would need checkpointing or Spark 4 recursive CTEs (SURVEY.md
    §7.4) — the reference only ever needs ≤ 2 hops (§2-D).
    """
    target = target_rank.upper()
    if max_hops is None:
        # Deepest possible start is the top of the rank lattice.
        max_hops = _RANK_INDEX.get(target, len(RANKS) - 1) or 1

    rank = F.upper(F.col("rank"))
    # Leaf-level filters the reference pushes into name_lookup
    # (rank/habitat/datasetKey, gbif_helper.py:38-41) or applies
    # client-side (ACCEPTED, gbif_helper.py:48-50).
    leaf_cond = (rank == target) & (F.col("taxonomic_status") == STATUS_ACCEPTED)
    if habitat:
        leaf_cond = leaf_cond & (F.upper(F.col("habitat")) == habitat.upper())
    if backbone_only:
        leaf_cond = leaf_cond & (F.col("dataset_key") == BACKBONE_DATASET_KEY)

    # Per node: its parent edge, its key if a path may continue through
    # it (rank known and not the target), and its hit struct if it is a
    # leaf. Nodes that are neither can only end a path, which the left
    # join does anyway, so they are dropped.
    tax = taxonomy.select(
        F.col("parent_key").alias("_up"),
        F.when(rank != target, F.col("key")).alias("_next"),
        F.when(
            leaf_cond,
            F.struct(
                F.col("key").alias("child_key"),
                F.col("canonical_name").alias("child_name"),
            ),
        ).alias("_hit"),
    ).filter(
        F.col("_up").isNotNull()
        & (F.col("_next").isNotNull() | F.col("_hit").isNotNull())
    )

    paths = parents.select(F.col("parent").alias("_root")).distinct()
    tip = "_root"
    for k in range(max_hops):
        # No broadcast hint: the level is the side a left join can
        # broadcast, and a full ~7M-row backbone could blow the
        # broadcast cap; AQE broadcasts it whenever it fits.
        level = tax.select(
            F.col("_up").alias(f"_up{k}"),
            F.col("_next").alias(f"_next{k}"),
            F.col("_hit").alias(f"_hit{k}"),
        )
        paths = paths.join(level, F.col(tip) == F.col(f"_up{k}"), "left")
        tip = f"_next{k}"
    hit = F.coalesce(*[F.col(f"_hit{k}") for k in range(max_hops)])
    # A hit node is at the target rank, so its _next is NULL and the
    # second conjunct keeps every hit row. It reads the last hop's
    # _next, which the optimizer would otherwise prune, leaving that
    # hop a narrower projection that cannot reuse the shared level
    # broadcast.
    return (
        paths.filter(hit.isNotNull() & F.col(tip).isNull())
        .select(F.col("_root").alias("parent"), hit.alias("_hit"))
        .select("parent", "_hit.child_key", "_hit.child_name")
    )


def ascend_lineage(
    taxonomy: DataFrame,
    keys: DataFrame,
    max_hops: int = 30,
) -> DataFrame:
    """Ancestor chain of each taxon key, walking ``parent_key`` upward.

    The Spark twin of the legacy ``TaxonomicSource.get_lineage``
    (SURVEY.md §1.4, util/__pycache__/data_source.cpython-37.pyc) —
    set-oriented: ``keys`` is a single-column ``key`` DataFrame;
    returns ``(key, ancestor_key, ancestor_name, ancestor_rank,
    depth)`` with depth 1 = immediate parent (self excluded). One
    equi-join per hop against the taxonomy dimension, frontier-sized
    (shrinks as chains hit roots), lineage checkpoint-truncated;
    rounds = tree height (~10 for taxonomic ranks), never data size.
    ``max_hops`` guards corrupt (cyclic) parent edges.
    """
    tax = taxonomy.select(
        F.col("key").alias("_k"),
        F.col("parent_key").alias("_p"),
        F.col("canonical_name").alias("_name"),
        F.upper(F.col("rank")).alias("_rank"),
    )
    frontier = (
        keys.select(F.col("key").alias("_start"))
        .distinct()
        .join(tax, F.col("_start") == F.col("_k"))
        .select("_start", F.col("_p").alias("_cur"))
        .filter(F.col("_cur").isNotNull())
        .localCheckpoint(eager=True)
    )
    out: DataFrame | None = None
    for depth in range(1, max_hops + 1):
        node, probe = observed_checkpoint(
            frontier.join(tax, frontier["_cur"] == tax["_k"]).select(
                F.col("_start").alias("key"),
                F.col("_k").alias("ancestor_key"),
                F.col("_name").alias("ancestor_name"),
                F.col("_rank").alias("ancestor_rank"),
                F.lit(depth).alias("depth"),
                F.col("_p"),
            ),
            F.count(F.lit(1)).alias("n"),
        )
        if probe["n"] == 0:
            return out if out is not None else node.drop("_p")
        emitted = node.drop("_p")
        out = emitted if out is None else out.unionByName(emitted)
        frontier = node.filter(F.col("_p").isNotNull()).select(
            F.col("key").alias("_start"), F.col("_p").alias("_cur")
        )
    raise RuntimeError(
        f"ascend_lineage exceeded {max_hops} hops — cyclic parent edges?"
    )


def expand_children(
    taxonomy: DataFrame,
    parents: DataFrame,
    target_rank: str,
    zone_occurrence_keys: DataFrame | None = None,
    habitat: str | None = None,
    backbone_only: bool = True,
) -> DataFrame:
    """ops 12+13+15+22+26 fused: descend, spatially filter, collect.

    ``parents``: single column ``parent`` (long keys).
    ``zone_occurrence_keys``: optional single-column ``taxon_key``
    DataFrame (already zone-filtered + distinct) — children must have
    ≥1 occurrence in the zone (gbif_helper.py:53-58).

    Returns ``(parent, resolved_names: array<string>,
    resolved_ids: array<long>)`` with arrays sorted by (name, key) and
    name/id positions aligned.
    """
    children = descend_to_rank(
        taxonomy, parents, target_rank, habitat=habitat, backbone_only=backbone_only
    )
    if zone_occurrence_keys is not None:
        children = children.join(
            F.broadcast(zone_occurrence_keys),
            children["child_key"] == zone_occurrence_keys["taxon_key"],
            "left_semi",
        )
    # Sort structs (not parallel arrays) so the name/id arrays stay
    # positionally aligned (apply_gbif_filter.py:167-168 emits aligned
    # lists; collect_list alone is nondeterministic — SURVEY.md op 26).
    return (
        children.groupBy("parent")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("child_name", "child_key"))
            ).alias("_ch")
        )
        .select(
            "parent",
            F.transform("_ch", lambda s: s["child_name"]).alias("resolved_names"),
            F.transform("_ch", lambda s: s["child_key"]).alias("resolved_ids"),
        )
    )
