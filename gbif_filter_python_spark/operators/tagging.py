"""Existence semi-join and ternary tagging (SURVEY.md §2 ops 14, 18,
20, 21, 24, 25).

The reference's hot path is one limit-1 REST probe per distinct taxon
(``occurrences.search(taxonKey, geometry, country, limit=1)`` →
``len(results) > 0``, /root/reference/gbif_helper.py:85-92), memoized
by a dict whose key types don't match (int test vs str write,
apply_gbif_filter.py:136,139 — SURVEY.md §2-B), so duplicates re-query.

Spark shape: zone-filter the occurrence fact (predicates push into the
Parquet scan / partition-prune), ``select(taxon_key).distinct()`` —
a tiny set — and BROADCAST it against the taxa side. The 100 TB fact
never shuffles; the existence probe is a broadcast hash join
(SURVEY.md §4.3). The memo-dict bug disappears structurally.

Ternary tag semantics preserved exactly (§2-G):
``True`` = occurs in zone, ``False`` = valid taxon with no occurrence,
``None`` = row had no usable name/taxid or the name didn't resolve
(apply_gbif_filter.py:110,121-122,135,172).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gbif_filter_python_spark.operators.resolution import KEY_COL

TAG_COL = "gbif_filter_tag"


def occurrence_keys(occurrences_in_zone: DataFrame) -> DataFrame:
    """Distinct taxon keys present in the (already zone-filtered) fact.

    This is the broadcast build side of every existence probe — the
    aggregation is map-side-combined by Spark, so even a 100 TB fact
    reduces to ≤ |taxonomy| keys before any network movement.
    """
    return (
        occurrences_in_zone.select(F.col("taxon_key"))
        .filter(F.col("taxon_key").isNotNull())
        .distinct()
    )


def tag_existence(
    taxa: DataFrame,
    occurrences_in_zone: DataFrame,
    key_col: str = KEY_COL,
    tag_col: str = TAG_COL,
) -> DataFrame:
    """ops 14+18+24+25: append the ternary existence tag.

    A left join against the distinct zone keys (not a semi-join)
    because ``False`` and ``None`` rows must survive with their tag —
    the semi-join variant is :func:`filter_occurring`. The key side is
    broadcast: the keys that occur are backbone keys, so |taxonomy|
    bounds them, whether they come from the zone-filtered fact or
    from ``providers.tag_existence_online``'s probe.
    """
    # No rename below the broadcast: run_filter's expansion broadcasts
    # the identical occurrence_keys plan, and only identical subtrees
    # share one exchange (one fact scan) at runtime. The key is
    # addressed through ``occ_keys`` so a ``taxon_key`` column of the
    # taxa input passes through untouched.
    occ_keys = occurrence_keys(occurrences_in_zone)
    occ_key = occ_keys["taxon_key"]
    out = taxa.join(F.broadcast(occ_keys), taxa[key_col] == occ_key, "left")
    tag = F.when(taxa[key_col].isNull(), F.lit(None).cast("boolean")).otherwise(
        occ_key.isNotNull()
    )
    return out.withColumn(tag_col, tag).drop(occ_key)


def filter_occurring(
    taxa: DataFrame, occurrences_in_zone: DataFrame, key_col: str = KEY_COL
) -> DataFrame:
    """op 14 as a pure semi-join: keep taxa with ≥1 occurrence in zone."""
    occ_keys = occurrence_keys(occurrences_in_zone)
    return taxa.join(
        F.broadcast(occ_keys), taxa[key_col] == occ_keys["taxon_key"], "left_semi"
    )


def apply_filter_mode(tagged: DataFrame, tag_col: str = TAG_COL) -> DataFrame:
    """op 20: keep rows where the tag is exactly True.

    Null-safe equality mirrors the reference's ``x == True`` over a
    list containing None (apply_gbif_filter.py:189-190): None and False
    both drop. The tag column itself is removed — it is only inserted
    in the reference's tag branch (apply_gbif_filter.py:184-185), so
    filter-mode output carries the input columns plus, when
    ``resolve_to_rank`` is set, the resolved array columns the
    reference appends before either write (apply_gbif_filter.py:176-183);
    the engine's ``run_filter`` re-selects accordingly.
    """
    return tagged.filter(F.col(tag_col).eqNullSafe(F.lit(True))).drop(tag_col)


def apply_tag_mode(
    tagged: DataFrame,
    input_columns: list[str],
    resolved_columns: list[str] | None = None,
    tag_col: str = TAG_COL,
) -> DataFrame:
    """op 21: enforce the output column contract.

    Column ORDER is part of the reference's contract (tag inserted
    before the resolved array columns via ``df.insert``,
    apply_gbif_filter.py:175,184-185; visible in test/filtered.csv:1).
    """
    ordered = list(input_columns) + [tag_col] + list(resolved_columns or [])
    return tagged.select(*[quoted(c) for c in ordered])


def quoted(name: str):
    """Column reference that treats ``name`` LITERALLY: backtick-quoted
    (backticks doubled per Spark's escape rule) so passthrough columns
    containing dots — e.g. ``best_identity.Euka02.DB`` in the
    reference's own test/motu_table_sample.csv — don't get parsed as
    struct-field paths by the analyzer. Bare ``F.col("a.b")`` resolves
    field ``b`` of column ``a`` and fails on flat CSV schemas."""
    return F.col("`" + name.replace("`", "``") + "`")
