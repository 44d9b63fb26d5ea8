"""Edge cases of ``resolve_names`` (trusted taxids, null roles,
ambiguity) and of ``tag_existence`` on inputs that carry their own
``taxon_key`` column."""

from __future__ import annotations

from gbif_filter_python_spark import FilterConfig
from gbif_filter_python_spark.operators.resolution import resolve_names
from gbif_filter_python_spark.operators.tagging import tag_existence
from gbif_filter_python_spark.schemas import BACKBONE_DATASET_KEY as BB
from gbif_filter_python_spark.schemas import TAXONOMY_SCHEMA
from tests.conftest import TAXONOMY_ROWS

_ALL_ROLES = FilterConfig(
    name_column="name", taxid_column="taxid", rank_column="rank"
)


def _resolve(spark, taxonomy, rows, cfg=_ALL_ROLES, **kw):
    taxa = spark.createDataFrame(
        rows, "id int, name string, taxid string, rank string"
    )
    out = resolve_names(taxa, taxonomy, cfg, **kw).orderBy("id").collect()
    return [(r["gbif_key"], r["gbif_rank"]) for r in out]


def test_taxid_wins_over_name_and_keeps_input_rank(spark, taxonomy):
    # The name alone would resolve to 4000 at SPECIES.
    got = _resolve(spark, taxonomy, [(1, "Lumbricus terrestris", "4100", "genus")])
    assert got == [(4100, "GENUS")]


def test_no_name_no_taxid_keeps_input_rank(spark, taxonomy):
    got = _resolve(spark, taxonomy, [(1, None, None, "family"), (2, None, None, None)])
    assert got == [(None, "FAMILY"), (None, None)]


def test_malformed_and_foreign_taxids_are_null(spark, taxonomy):
    rows = [
        (1, None, "abc", "SPECIES"),
        (2, None, "NCBI:4000", "SPECIES"),
        (3, None, "GBIF:4000", "SPECIES"),
        (4, "Lumbricus terrestris", "GBIF:x", None),
        # three tokens: not DBPREFIX:ID, so no key (not 4000)
        (5, None, "GBIF:4000:1", "SPECIES"),
    ]
    got = _resolve(spark, taxonomy, rows)
    assert got == [(None, "SPECIES"), (None, "SPECIES"), (4000, "SPECIES"),
                   (None, None), (None, "SPECIES")]


def test_validated_unknown_taxid_is_null(spark, taxonomy):
    rows = [(1, None, "999999", "SPECIES"), (2, None, "4000", "SPECIES"),
            (3, "Eisenia fetida", None, "SPECIES")]
    got = _resolve(spark, taxonomy, rows, validate_taxids=True)
    assert got == [(None, "SPECIES"), (4000, "SPECIES"), (4100, "SPECIES")]


def test_rankless_name_at_two_ranks_is_ambiguous(spark):
    # "Lumbricus" at GENUS (3000) and, here, also at SUBGENUS.
    subgenus = (8000, 3000, "Lumbricus", "SUBGENUS", "Animalia",
                "ACCEPTED", False, None, None, BB)
    taxonomy = spark.createDataFrame(TAXONOMY_ROWS + [subgenus], TAXONOMY_SCHEMA)
    cfg = FilterConfig(name_column="name", rank_column="rank",
                       taxa_kingdom="Animalia")
    got = _resolve(spark, taxonomy,
                   [(1, "Lumbricus", None, None), (2, "Lumbricus", None, "GENUS")],
                   cfg=cfg)
    assert got == [(None, None), (3000, "GENUS")]


def test_tag_existence_passes_input_taxon_key_through(spark, occurrence):
    taxa = spark.createDataFrame(
        [(1, 4000, -1), (2, 6000, -2), (3, None, -3)],
        "id int, gbif_key long, taxon_key long",
    )
    out = tag_existence(taxa, occurrence)
    assert out.columns == ["id", "gbif_key", "taxon_key", "gbif_filter_tag"]
    rows = [tuple(r) for r in out.orderBy("id").collect()]
    assert rows == [(1, 4000, -1, True), (2, 6000, -2, False), (3, None, -3, None)]
