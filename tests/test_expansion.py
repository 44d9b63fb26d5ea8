"""``descend_to_rank`` against a pure-Python closure of the same rules,
and ``ascend_lineage``'s jobs and cycle guard.

The rules: a path starts at a parent and extends only through nodes
whose rank is known and is not the target; a node is a hit when its
rank is the target, it is ACCEPTED and it passes the habitat and
backbone filters; a path has at most ``max_hops`` hops.
"""

from __future__ import annotations

from collections import defaultdict

import pytest

from gbif_filter_python_spark.operators.expansion import (
    ascend_lineage,
    descend_to_rank,
)
from gbif_filter_python_spark.plans.inspect import jobs_run
from gbif_filter_python_spark.schemas import TAXONOMY_SCHEMA
from gbif_filter_python_spark.schemas import BACKBONE_DATASET_KEY as BB
from tests.conftest import session_conf

# key, parent_key, canonical_name, rank, status, habitat, dataset_key
_NODES = [
    # a 6-hop KINGDOM → SPECIES chain
    (1, None, "K", "KINGDOM", "ACCEPTED", None, BB),
    (2, 1, "P", "PHYLUM", "ACCEPTED", None, BB),
    (3, 2, "C", "CLASS", "ACCEPTED", None, BB),
    (4, 3, "O", "ORDER", "ACCEPTED", None, BB),
    (5, 4, "F", "FAMILY", "ACCEPTED", None, BB),
    (6, 5, "G", "GENUS", "ACCEPTED", "TERRESTRIAL", BB),
    (7, 6, "G deep", "SPECIES", "ACCEPTED", "TERRESTRIAL", BB),
    (8, 6, "G lower", "species", "ACCEPTED", "TERRESTRIAL", BB),
    # a 3-hop path through a rank outside the lattice
    (10, 4, "F2", "FAMILY", "ACCEPTED", None, BB),
    (11, 10, "SubF", "SUBFAMILY", "ACCEPTED", None, BB),
    (12, 11, "G2", "GENUS", "ACCEPTED", None, BB),
    (13, 12, "G2 alpha", "SPECIES", "ACCEPTED", "TERRESTRIAL", BB),
    # a SPECIES under a SPECIES: the path ends at 13
    (14, 13, "G2 alpha sub", "SPECIES", "ACCEPTED", "TERRESTRIAL", BB),
    # NULL ranks: not a hit, and no path continues through one
    (15, 12, "unranked", None, "ACCEPTED", "TERRESTRIAL", BB),
    (16, 15, "G2 hidden", "SPECIES", "ACCEPTED", "TERRESTRIAL", BB),
    # leaves failing one filter each
    (18, 12, "G2 synonym", "SPECIES", "SYNONYM", "TERRESTRIAL", BB),
    (19, 12, "G2 aquatic", "SPECIES", "ACCEPTED", "FRESHWATER", BB),
    (20, 12, "G2 shadow", "SPECIES", "ACCEPTED", "TERRESTRIAL", "other"),
    # a second branch under the subfamily
    (21, 11, "G3", "GENUS", "ACCEPTED", None, BB),
    (22, 21, "G3 beta", "SPECIES", "ACCEPTED", "TERRESTRIAL", BB),
]


def _closure(parents, target, habitat, backbone_only, max_hops):
    children = defaultdict(list)
    for node in _NODES:
        children[node[1]].append(node)
    out = []
    for root in parents:
        frontier = [root]
        for _ in range(max_hops):
            step = [c for cur in frontier for c in children[cur]]
            for key, _p, name, rank, status, hab, ds in step:
                rank = rank.upper() if rank else None
                if (
                    rank == target
                    and status == "ACCEPTED"
                    and (not habitat or hab == habitat)
                    and (not backbone_only or ds == BB)
                ):
                    out.append((root, key, name))
            frontier = [
                c[0] for c in step if c[3] is not None and c[3].upper() != target
            ]
    return sorted(out)


@pytest.fixture(scope="module")
def tree(spark):
    rows = [
        (k, p, n, r, "Animalia", s, s == "SYNONYM", None, h, d)
        for k, p, n, r, s, h, d in _NODES
    ]
    return spark.createDataFrame(rows, TAXONOMY_SCHEMA)


@pytest.mark.parametrize(
    "parents, target, habitat, backbone_only, max_hops",
    [
        ((1, 5, 6, 10, 12), "SPECIES", None, True, 6),
        ((1, 5, 6, 10, 12), "SPECIES", "TERRESTRIAL", True, 6),
        ((1, 10, 12), "SPECIES", None, False, 6),
        ((1, 10), "SPECIES", None, True, 2),
        ((1, 4, 10), "GENUS", None, True, 5),
        ((99,), "SPECIES", None, True, 6),
    ],
)
def test_matches_python_closure(
    spark, tree, parents, target, habitat, backbone_only, max_hops
):
    parent_df = spark.createDataFrame([(p,) for p in parents], "parent long")
    got = descend_to_rank(
        tree,
        parent_df,
        target,
        habitat=habitat,
        backbone_only=backbone_only,
        max_hops=max_hops,
    ).collect()
    want = _closure(parents, target, habitat, backbone_only, max_hops)
    assert sorted(tuple(r) for r in got) == want


def test_closure_covers_the_edge_cases(spark, tree):
    """The cases the closure must agree on are really in the tree:
    the default hop count reaches the 6-hop leaf but not the 7-hop
    ones, the non-lattice rank is crossed, and the
    SPECIES-under-SPECIES, NULL-rank, synonym, wrong-habitat and
    non-backbone leaves stay out."""
    parent_df = spark.createDataFrame([(1,), (10,)], "parent long")
    got = descend_to_rank(tree, parent_df, "SPECIES", habitat="TERRESTRIAL")
    pairs = {(r["parent"], r["child_key"]) for r in got.collect()}
    assert pairs == {(1, 7), (1, 8), (10, 13), (10, 22)}


def test_ascend_lineage_probes_ride_the_checkpoints(spark, taxonomy):
    """Keys 4000 and 3000 climb the fixture's 7-node KINGDOM → SPECIES
    chain; each hop's emptiness probe is observed on its checkpoint's
    job (25 jobs with a separate isEmpty() per hop)."""
    keys = spark.createDataFrame([(4000,), (3000,)], "key long")
    with session_conf(spark, 4, True):
        assert jobs_run(
            spark, lambda: ascend_lineage(taxonomy, keys).collect()) <= 19


def test_ascend_lineage_cycle_raises_after_max_hops(spark):
    tax = spark.createDataFrame(
        [(k, p, f"n{k}", "GENUS", "Animalia", "ACCEPTED", False, None, None,
          BB) for k, p in ((1, 2), (2, 1))],
        TAXONOMY_SCHEMA,
    )
    keys = spark.createDataFrame([(1,)], "key long")
    with pytest.raises(RuntimeError, match="exceeded 5 hops"):
        ascend_lineage(tax, keys, max_hops=5)
