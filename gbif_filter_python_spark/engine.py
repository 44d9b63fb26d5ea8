"""OccurrenceEngine — the engine's public facade.

Same verbs as the reference's legacy facade
(``OccurrenceEngine.{has_occurrences, get_occurrences,
get_occurrences_in_zone, occurs_in}``,
/root/reference/util/__pycache__/occurrence_engine.cpython-37.pyc) but
set-oriented: every method takes/returns a DataFrame of taxa instead of
one scalar taxid (SURVEY.md §1.4).

``run_filter`` is the full CLI pipeline
(/root/reference/apply_gbif_filter.py:96-192) as one declarative plan:

    scan → resolve (distinct names + dim join) → zone-filter fact →
    existence tag (broadcast zone keys) → conditional expansion
    (left-join chain + semi-join + collect) → tag/filter mode → sink

The taxa rows stream through every join and never shuffle whole: the
distinct (name, rank) aggregation is their only exchange, plus the
distinct parents of an expansion. The resolution lookup and the
expansion arrays join back as broadcasts when the taxa (plus the
taxonomy, for the arrays) fit ``spark.sql.autoBroadcastJoinThreshold``
(``plans.inspect.fits_broadcast``); past it they stay unhinted and AQE
decides. The tag probe and the expansion's child semi-join broadcast
the same ``occurrence_keys`` plan, so at runtime AQE builds that
exchange once (the second use reads it as ``ReusedExchange``) and the
fact is scanned once per request; the expansion's hops likewise share
one taxonomy-level broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gbif_filter_python_spark.config import FilterConfig, Zone
from gbif_filter_python_spark.operators.expansion import expand_children
from gbif_filter_python_spark.operators.resolution import (
    KEY_COL,
    RANK_COL,
    resolve_names,
)
from gbif_filter_python_spark.operators.spatial import zone_filter
from gbif_filter_python_spark.operators.tagging import (
    TAG_COL,
    apply_filter_mode,
    apply_tag_mode,
    filter_occurring,
    occurrence_keys,
    quoted,
    tag_existence,
)
from gbif_filter_python_spark.plans.inspect import fits_broadcast


class OccurrenceEngine:
    """DataFrame-in / DataFrame-out occurrence analytics.

    ``taxonomy``: the backbone dimension (schemas.TAXONOMY_SCHEMA).
    ``occurrence``: the fact table (schemas.OCCURRENCE_SCHEMA) — the
    100 TB-scale side; it is only ever filtered, aggregated to distinct
    keys, and broadcast — never shuffled whole.
    """

    def __init__(self, taxonomy: DataFrame, occurrence: DataFrame) -> None:
        self.taxonomy = taxonomy
        self.occurrence = occurrence

    # -- facade verbs (legacy OccurrenceEngine parity) ------------------

    def occurrences_in_zone(self, zone: Zone | None) -> DataFrame:
        """Zone-restricted view of the fact (pushdown-friendly)."""
        return zone_filter(self.occurrence, zone)

    def has_occurrences(
        self, taxa: DataFrame, zone: Zone | None, key_col: str = KEY_COL
    ) -> DataFrame:
        """Ternary existence tag per taxa row (legacy has_occurrences)."""
        return tag_existence(taxa, self.occurrences_in_zone(zone), key_col=key_col)

    def occurs_in(
        self, taxa: DataFrame, zone: Zone | None, key_col: str = KEY_COL
    ) -> DataFrame:
        """Semi-join: taxa rows with ≥1 occurrence in zone (legacy occurs_in)."""
        return filter_occurring(taxa, self.occurrences_in_zone(zone), key_col=key_col)

    def get_lineage(
        self, taxa: DataFrame, key_col: str = KEY_COL
    ) -> DataFrame:
        """Ancestor chain per taxon (legacy TaxonomicSource.get_lineage,
        SURVEY.md §1.4): (key, ancestor_key/_name/_rank, depth 1 =
        immediate parent), set-at-a-time over the taxonomy dimension."""
        from gbif_filter_python_spark.operators.expansion import ascend_lineage

        keys = taxa.select(F.col(key_col).alias("key")).filter(
            F.col("key").isNotNull()
        )
        return ascend_lineage(self.taxonomy, keys)

    def get_occurrences(
        self, taxa: DataFrame, zone: Zone | None = None, key_col: str = KEY_COL
    ) -> DataFrame:
        """All occurrence rows of the given taxa (legacy get_occurrences /
        get_all_occurrences — Spark's partitioned scan replaces the
        offset-pagination loop, gbif_helper.py:71-83)."""
        keys = taxa.select(F.col(key_col).alias("_k")).filter(
            F.col("_k").isNotNull()
        ).distinct()
        occ = self.occurrences_in_zone(zone)
        # No broadcast hint: the distinct key set scales with the
        # caller's taxa input, so forcing a broadcast would cap the verb
        # at the 8 GB limit (and could OOM the driver). AQE broadcasts
        # it at runtime whenever it is actually small — the typical case.
        return occ.join(keys, occ["taxon_key"] == keys["_k"], "left_semi")

    # -- the full reference pipeline ------------------------------------

    def run_filter(
        self,
        taxa: DataFrame,
        cfg: FilterConfig,
        tag_mode: bool = True,
        observation=None,
    ) -> DataFrame:
        """The reference CLI end-to-end (apply_gbif_filter.py:96-192).

        tag_mode=True  → input columns + gbif_filter_tag (+ resolved
                         arrays when expansion is configured), all rows.
        tag_mode=False → filter mode: rows where tag is strictly True;
                         input columns + resolved arrays when expansion
                         is configured (the reference appends the
                         resolved columns to df_taxa BEFORE the
                         filter-mode write, apply_gbif_filter.py:176-192
                         — only the tag column is tag-mode-specific).
        observation    → optional ``pyspark.sql.Observation``; after an
                         action it carries rows / tagged_true /
                         tagged_false / tagged_null counts (the
                         result-size accounting of SURVEY.md §2 op 28,
                         computed inline with zero extra passes).
        """
        input_cols = list(taxa.columns)

        resolved = resolve_names(taxa, self.taxonomy, cfg)
        occ_zone = self.occurrences_in_zone(cfg.zone)
        tagged = tag_existence(resolved, occ_zone)
        if observation is not None:
            tagged = tagged.observe(
                observation,
                F.count(F.lit(1)).alias("rows"),
                F.count_if(F.col(TAG_COL).eqNullSafe(F.lit(True))).alias(
                    "tagged_true"
                ),
                F.count_if(F.col(TAG_COL).eqNullSafe(F.lit(False))).alias(
                    "tagged_false"
                ),
                F.count_if(F.col(TAG_COL).isNull()).alias("tagged_null"),
            )

        resolved_cols: list[str] = []
        if cfg.resolve_to_rank:
            target = cfg.resolve_to_rank
            names_col = f"gbif_filter_resolved_{target.lower()}_names"
            ids_col = f"gbif_filter_resolved_{target.lower()}_ids"
            resolved_cols = [names_col, ids_col]

            # Expansion trigger (§2-D): resolved rank ∈ {FAMILY, GENUS},
            # rank ≠ target, and the parent itself occurs in the zone.
            eligible = (
                F.col(RANK_COL).isin("FAMILY", "GENUS")
                & (F.col(RANK_COL) != target)
                & F.col(TAG_COL).eqNullSafe(F.lit(True))
            )
            parents = (
                tagged.filter(eligible)
                .select(F.col(KEY_COL).alias("parent"))
                .distinct()
            )
            arrays = expand_children(
                self.taxonomy,
                parents,
                target,
                # The plan tag_existence broadcasts: one fact scan.
                zone_occurrence_keys=occurrence_keys(occ_zone),
                habitat=cfg.habitat,
            )
            # arrays has one row per distinct parent (a taxa row) and
            # its children are taxonomy rows, so taxa plus taxonomy
            # bound it. Spark sizes it as a product of joins and would
            # shuffle the taxa for a sort-merge join that AQE then
            # demotes; hint it when the bound fits the broadcast
            # threshold. Family-level inputs over a full backbone do
            # not fit and stay unhinted; AQE decides at runtime.
            if fits_broadcast(taxa, self.taxonomy):
                arrays = F.broadcast(arrays)
            tagged = tagged.join(
                arrays,
                tagged[KEY_COL].eqNullSafe(arrays["parent"]) & eligible,
                "left",
            ).drop("parent")
            tagged = tagged.withColumnsRenamed(
                {"resolved_names": names_col, "resolved_ids": ids_col}
            )

        if tag_mode:
            return apply_tag_mode(tagged, input_cols, resolved_cols)
        return apply_filter_mode(tagged).select(
            *[quoted(c) for c in (*input_cols, *resolved_cols)]
        )
