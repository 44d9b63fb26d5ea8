"""End-to-end tests of the GBIF-filter pipeline semantics.

Covers the reference's documented behaviors (SURVEY.md §2 semantics
notes A, D, E, G) over hermetic fixtures.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from gbif_filter_python_spark import Country, FilterConfig, OccurrenceEngine, Polygon
from gbif_filter_python_spark.config import ConfigError, resolve_zone
from tests.conftest import (
    NORWAY_ISH_WKT,
    REFERENCE_TEST_DIR,
    requires_reference,
    session_conf,
)


def _taxa(spark, rows):
    return spark.createDataFrame(rows, "id int, name string, rank string")


@pytest.fixture()
def engine(taxonomy, occurrence):
    return OccurrenceEngine(taxonomy, occurrence)


def _tags(df):
    rows = df.orderBy("id").collect()
    return [r["gbif_filter_tag"] for r in rows]


class TestTernaryTag:
    """§2-G: True / False / None semantics, tag mode vs filter mode."""

    ROWS = [
        (1, "Lumbricus terrestris", "SPECIES"),  # occurs in NO → True
        (2, "Eisenia nullius", "SPECIES"),       # valid, no occurrence → False
        (3, "Nonexistent name", "SPECIES"),      # unresolvable → None
        (4, None, "SPECIES"),                    # no usable name → None
        (5, "Lumbricus aquaticus", "SPECIES"),   # occurs only in SE → False
    ]

    def test_tag_mode(self, spark, engine):
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"))
        out = engine.run_filter(_taxa(spark, self.ROWS), cfg, tag_mode=True)
        assert out.columns == ["id", "name", "rank", "gbif_filter_tag"]
        assert _tags(out) == [True, False, None, None, False]

    def test_filter_mode(self, spark, engine):
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"))
        out = engine.run_filter(_taxa(spark, self.ROWS), cfg, tag_mode=False)
        assert out.columns == ["id", "name", "rank"]  # input schema
        assert [r["id"] for r in out.orderBy("id").collect()] == [1]

    def test_tag_mode_row_count_invariant(self, spark, engine):
        cfg = FilterConfig(name_column="name", zone=Country("NO"),
                           taxa_kingdom="Animalia")
        df = _taxa(spark, self.ROWS)
        assert engine.run_filter(df, cfg, tag_mode=True).count() == df.count()


class TestResolution:
    """§2-A: exact-or-nothing, synonym redirect, ambiguity → null."""

    def test_synonym_redirects_to_accepted(self, spark, engine):
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"))
        rows = [(1, "Lumbricus oldname", "SPECIES")]  # synonym of 4000
        out = engine.run_filter(_taxa(spark, rows), cfg, tag_mode=True)
        # 4000 occurs in NO, so the redirect must produce True.
        assert _tags(out) == [True]

    def test_ambiguous_name_is_null_without_kingdom(self, spark, engine):
        # "Ambigua" exists in Animalia and Plantae: no kingdom scope →
        # ambiguous → null key → tag None (matchType != EXACT analog).
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           zone=Country("NO"))
        out = engine.run_filter(_taxa(spark, [(1, "Ambigua", "GENUS")]), cfg)
        assert _tags(out) == [None]

    def test_kingdom_scope_disambiguates(self, spark, engine):
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"))
        out = engine.run_filter(_taxa(spark, [(1, "Ambigua", "GENUS")]), cfg)
        assert _tags(out) == [True]

    def test_case_insensitive_name_match(self, spark, engine):
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"))
        out = engine.run_filter(
            _taxa(spark, [(1, "LUMBRICUS TERRESTRIS", "SPECIES")]), cfg)
        assert _tags(out) == [True]

    def test_trusted_taxid_short_circuit(self, spark, engine):
        cfg = FilterConfig(taxid_column="taxid", zone=Country("NO"))
        taxa = spark.createDataFrame(
            [(1, "4000"), (2, "GBIF:4100"), (3, "NCBI:77"), (4, "notanum")],
            "id int, taxid string")
        out = engine.run_filter(taxa, cfg, tag_mode=True)
        # 4000/4100 occur in NO; NCBI-prefixed and garbage → null → None.
        assert _tags(out) == [True, True, None, None]


class TestZones:
    """§2-E fixed precedence + polygon predicate (op 17)."""

    def test_polygon_excludes_out_of_ring_point(self, spark, engine):
        cfg = FilterConfig(name_column="name", taxa_kingdom="Animalia",
                           zone=Polygon(NORWAY_ISH_WKT))
        rows = [(1, "Lumbricus terrestris", None),  # inside ring → True
                (2, "Lumbricus rubellus", None)]    # NO but outside → False
        out = engine.run_filter(_taxa(spark, [(i, n, r) for i, n, r in rows]),
                                cfg, tag_mode=True)
        assert _tags(out) == [True, False]

    #: Outer Norway-ish ring with a hole covering (7.6-10, 59.6-61.5).
    HOLED_WKT = (
        "POLYGON((5 58, 12 58, 12 62, 5 62, 5 58), "
        "(7.6 59.6, 10 59.6, 10 61.5, 7.6 61.5, 7.6 59.6))"
    )

    def test_holed_polygon_excludes_interior_points(self, spark, engine):
        """Multi-ring even-odd semantics: both L. terrestris points
        ((8,60), (9,61)) fall inside the hole → excluded; E. fetida at
        (6,59) is inside the outer ring but outside the hole → True."""
        cfg = FilterConfig(name_column="name", taxa_kingdom="Animalia",
                           zone=Polygon(self.HOLED_WKT))
        rows = [(1, "Lumbricus terrestris", None),
                (2, "Eisenia fetida", None)]
        out = engine.run_filter(_taxa(spark, rows), cfg, tag_mode=True)
        assert _tags(out) == [False, True]

    def test_country_wins_over_geometry(self):
        zone = resolve_zone("no", NORWAY_ISH_WKT)
        assert isinstance(zone, Country) and zone.code == "NO"

    def test_country_only_config_works(self):
        # The reference crashes on country-only configs (§2-E).
        cfg = FilterConfig.from_dict(
            {"name_column": "n", "country": "NO"})
        assert isinstance(cfg.zone, Country)

    def test_no_zone_means_worldwide(self, spark, engine):
        cfg = FilterConfig(name_column="name", taxa_kingdom="Animalia")
        out = engine.run_filter(
            _taxa(spark, [(1, "Lumbricus aquaticus", None)]), cfg)
        assert _tags(out) == [True]  # occurs in SE; no zone → counts


class TestExpansion:
    """§2-D trigger matrix + sorted arrays joined to all rows (§2-C fix)."""

    def test_genus_to_species(self, spark, engine):
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"),
                           resolve_to_rank="SPECIES")
        out = engine.run_filter(_taxa(spark, [(1, "Lumbricus", "GENUS")]), cfg)
        row = out.collect()[0]
        # terrestris (NO) yes; rubellus (NO) yes; aquaticus (SE only) no;
        # oldname is SYNONYM → excluded; shadow is non-backbone → excluded.
        assert row["gbif_filter_resolved_species_names"] == [
            "Lumbricus rubellus", "Lumbricus terrestris"]
        assert row["gbif_filter_resolved_species_ids"] == [4001, 4000]
        assert out.columns == [
            "id", "name", "rank", "gbif_filter_tag",
            "gbif_filter_resolved_species_names",
            "gbif_filter_resolved_species_ids"]

    def test_family_to_genus_one_hop(self, spark, engine):
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"),
                           resolve_to_rank="GENUS")
        out = engine.run_filter(_taxa(spark, [(1, "Lumbricidae", "FAMILY")]), cfg)
        row = out.collect()[0]
        # Lumbricus has a genus-level occurrence in NO; Eisenia has none
        # at genus level (only its species do) → only Lumbricus remains.
        assert row["gbif_filter_resolved_genus_names"] == ["Lumbricus"]

    def test_family_to_species_two_hops(self, spark, engine):
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"),
                           resolve_to_rank="SPECIES")
        out = engine.run_filter(_taxa(spark, [(1, "Lumbricidae", "FAMILY")]), cfg)
        row = out.collect()[0]
        assert row["gbif_filter_resolved_species_names"] == [
            "Eisenia fetida", "Lumbricus rubellus", "Lumbricus terrestris"]

    def test_habitat_filter(self, spark, engine):
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia",  # worldwide
                           resolve_to_rank="SPECIES", habitat="FRESHWATER")
        out = engine.run_filter(_taxa(spark, [(1, "Lumbricus", "GENUS")]), cfg)
        row = out.collect()[0]
        assert row["gbif_filter_resolved_species_names"] == [
            "Lumbricus aquaticus"]

    def test_expansion_with_polygon_zone(self, spark, engine):
        """Expansion's child zone-filter composed with the polygon
        predicate: only children with an occurrence INSIDE the ring
        survive (rubellus is in NO but outside the ring)."""
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia",
                           zone=Polygon(NORWAY_ISH_WKT),
                           resolve_to_rank="SPECIES")
        out = engine.run_filter(_taxa(spark, [(1, "Lumbricus", "GENUS")]), cfg)
        row = out.collect()[0]
        assert row["gbif_filter_tag"] is True  # genus occ (7.5, 59.5) in ring
        assert row["gbif_filter_resolved_species_names"] == [
            "Lumbricus terrestris"]

    def test_no_expansion_when_rank_equals_target(self, spark, engine):
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"),
                           resolve_to_rank="SPECIES")
        out = engine.run_filter(
            _taxa(spark, [(1, "Lumbricus terrestris", "SPECIES")]), cfg)
        row = out.collect()[0]
        assert row["gbif_filter_tag"] is True
        assert row["gbif_filter_resolved_species_names"] is None

    def test_filter_mode_includes_resolved_arrays(self, spark, engine):
        """Reference parity: filter mode appends the resolved array
        columns (but not the tag) when resolve_to_rank is set — the
        reference adds them to df_taxa before EITHER write
        (apply_gbif_filter.py:176-192)."""
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"),
                           resolve_to_rank="SPECIES")
        out = engine.run_filter(
            _taxa(spark, [(1, "Lumbricus", "GENUS")]), cfg, tag_mode=False)
        assert out.columns == [
            "id", "name", "rank",
            "gbif_filter_resolved_species_names",
            "gbif_filter_resolved_species_ids"]
        row = out.collect()[0]
        assert row["gbif_filter_resolved_species_names"] == [
            "Lumbricus rubellus", "Lumbricus terrestris"]

    def test_duplicate_parents_all_get_arrays(self, spark, engine):
        # §2-C fix: the reference only fills arrays for the first row
        # per distinct taxid; we fill all duplicates.
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"),
                           resolve_to_rank="SPECIES")
        rows = [(1, "Lumbricus", "GENUS"), (2, "Lumbricus", "GENUS")]
        out = engine.run_filter(_taxa(spark, rows), cfg).orderBy("id").collect()
        assert all(r["gbif_filter_resolved_species_names"] is not None
                   for r in out)


class TestConfig:
    def test_legacy_config_migrates_with_deprecation(self):
        """VERDICT r5 item 8: previous-generation keys
        (taxa_column/taxa_field, /root/reference/test/config.yml:2-4)
        map onto the current role columns with a DeprecationWarning
        instead of a generic rejection."""
        with pytest.warns(DeprecationWarning, match="name_column"):
            cfg = FilterConfig.from_dict(
                {"taxa_column": "x", "taxa_field": "name"}
            )
        assert cfg.name_column == "x" and cfg.taxid_column is None
        with pytest.warns(DeprecationWarning, match="taxid_column"):
            cfg = FilterConfig.from_dict(
                {"taxa_column": "t", "taxa_field": "taxid"}
            )
        assert cfg.taxid_column == "t" and cfg.name_column is None
        with pytest.raises(ConfigError, match="both legacy"):
            FilterConfig.from_dict(
                {"taxa_column": "x", "taxa_field": "name",
                 "name_column": "y"}
            )
        with pytest.raises(ConfigError, match="'name' or 'taxid'"):
            FilterConfig.from_dict(
                {"taxa_column": "x", "taxa_field": "wat"}
            )

    @requires_reference
    def test_reference_legacy_config_file_loads(self):
        """The reference's own shipped config
        (/root/reference/test/config.yml) must parse end-to-end:
        legacy keys migrate, country NO wins over the geometry per the
        file's own comment, tab separator preserved."""
        from gbif_filter_python_spark.config import Country

        with pytest.warns(DeprecationWarning):
            cfg = FilterConfig.from_yaml(
                os.path.join(REFERENCE_TEST_DIR, "config.yml")
            )
        assert cfg.name_column == "genus_silva"
        assert cfg.sep == "\t"
        assert isinstance(cfg.zone, Country) and cfg.zone.code == "NO"

    def test_requires_a_role_column(self):
        with pytest.raises(ConfigError, match="name_column or taxid_column"):
            FilterConfig()

    def test_bad_enum_values(self):
        with pytest.raises(ConfigError):
            FilterConfig(name_column="n", habitat="SPACE")
        with pytest.raises(ConfigError):
            FilterConfig(name_column="n", resolve_to_rank="PHYLUM")

    def test_bad_wkt(self):
        with pytest.raises(ConfigError):
            Polygon("POLYGON((0 0, 1 1))")  # unclosed / too few points


class TestObservation:
    def test_run_filter_metrics(self, spark, engine):
        """op 28: inline result-size accounting via df.observe."""
        from pyspark.sql import Observation

        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"))
        obs = Observation("gbif_filter_metrics")
        out = engine.run_filter(
            _taxa(spark, TestTernaryTag.ROWS), cfg, observation=obs)
        out.collect()
        got = obs.get
        assert got == {"rows": 5, "tagged_true": 1, "tagged_false": 2,
                       "tagged_null": 2}

    def test_expansion_metrics_match_output_at_no_extra_job(
        self, spark, snapshot_engine, tmp_path
    ):
        """The CLI's path with resolve_to_rank: the observed tagged
        frame feeds both the output and the expansion's parents branch,
        yet the counts equal the output's tags and the write launches
        no more jobs than the same write without the observation."""
        from pyspark.sql import Observation

        from gbif_filter_python_spark.plans.inspect import jobs_run
        from gbif_filter_python_spark.sources.io import write_csv

        engine, taxa = snapshot_engine
        cfg = FilterConfig(name_column="name", rank_column="rank",
                           taxa_kingdom="Animalia", zone=Country("NO"),
                           resolve_to_rank="SPECIES")
        obs = Observation("gbif_filter_expansion")
        with session_conf(spark, 4, True):
            plain = jobs_run(spark, lambda: write_csv(
                engine.run_filter(taxa, cfg), str(tmp_path / "plain")))
            out = engine.run_filter(taxa, cfg, observation=obs)
            observed = jobs_run(spark, lambda: write_csv(
                out, str(tmp_path / "observed")))
            tags = _tags(out)
        assert observed <= plain
        assert tags == [True, True, True, True, False, None]
        assert obs.get == {"rows": 6, "tagged_true": 4, "tagged_false": 1,
                           "tagged_null": 1}


class TestLineage:
    def test_species_full_chain(self, spark, taxonomy, occurrence):
        from gbif_filter_python_spark.engine import OccurrenceEngine

        eng = OccurrenceEngine(taxonomy, occurrence)
        taxa = spark.createDataFrame([(4000,)], "gbif_key long")
        rows = eng.get_lineage(taxa).collect()
        chain = {r["depth"]: (r["ancestor_key"], r["ancestor_rank"]) for r in rows}
        assert chain[1] == (3000, "GENUS")
        assert chain[2] == (2000, "FAMILY")
        assert chain[3] == (1000, "ORDER")
        assert chain[4] == (100, "CLASS")
        assert chain[5] == (10, "PHYLUM")
        assert chain[6] == (1, "KINGDOM")
        assert len(rows) == 6
        names = {r["depth"]: r["ancestor_name"] for r in rows}
        assert names[2] == "Lumbricidae"

    def test_root_and_multiple_keys(self, spark, taxonomy, occurrence):
        from gbif_filter_python_spark.engine import OccurrenceEngine

        eng = OccurrenceEngine(taxonomy, occurrence)
        # Root (Animalia, parent null) has no ancestors; 3000 has 5.
        taxa = spark.createDataFrame([(1,), (3000,), (None,)], "gbif_key long")
        rows = eng.get_lineage(taxa).collect()
        per_key = {}
        for r in rows:
            per_key.setdefault(r["key"], []).append(r)
        assert 1 not in per_key
        assert len(per_key[3000]) == 5


class TestProximityPairs:
    """Grid-cell proximity join (operators/spatial.py::proximity_pairs)."""

    def test_matches_brute_force(self, spark):
        import math
        import random

        from gbif_filter_python_spark.operators.spatial import (
            proximity_pairs,
        )

        random.seed(11)
        pts = [
            (i, -8 + random.random() * 10, 42 + random.random() * 6)
            for i in range(400)
        ]
        df = spark.createDataFrame(pts, "id long, lon double, lat double")
        got = {
            (r.id_a, r.id_b)
            for r in proximity_pairs(df, 30.0, max_abs_lat=48.0).collect()
        }

        def hav(lon1, lat1, lon2, lat2):
            dlat = math.radians(lat2 - lat1) / 2
            dlon = math.radians(lon2 - lon1) / 2
            a = (
                math.sin(dlat) ** 2
                + math.cos(math.radians(lat1))
                * math.cos(math.radians(lat2))
                * math.sin(dlon) ** 2
            )
            return 2 * 6371.0088 * math.asin(math.sqrt(a))

        brute = {
            (pts[i][0], pts[j][0])
            for i in range(len(pts))
            for j in range(i + 1, len(pts))
            if round(hav(pts[i][1], pts[i][2], pts[j][1], pts[j][2]), 6)
            <= 30.0
        }
        assert got == brute and len(brute) > 0

    def test_boundary_pair_across_cells(self, spark):
        """Two points straddling a grid-cell boundary but within the
        radius must still pair (the 3x3 neighbor explode)."""
        from gbif_filter_python_spark.operators.spatial import (
            proximity_pairs,
        )

        # cell_deg for r=5, max_abs_lat=50 is ~0.0699 deg; put two
        # points ~0.02 deg apart so they can land in adjacent cells.
        df = spark.createDataFrame(
            [(1, 10.0699, 45.0), (2, 10.0701, 45.0), (3, 11.0, 45.0)],
            "id long, lon double, lat double",
        )
        rows = proximity_pairs(df, 5.0, max_abs_lat=50.0).collect()
        assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}
        assert rows[0].dist_km < 0.1

    def test_each_pair_once_same_cell(self, spark):
        from gbif_filter_python_spark.operators.spatial import (
            proximity_pairs,
        )

        df = spark.createDataFrame(
            [(1, 10.0, 45.0), (2, 10.0001, 45.0001)],
            "id long, lon double, lat double",
        )
        rows = proximity_pairs(df, 5.0, max_abs_lat=50.0).collect()
        assert len(rows) == 1

    def test_max_abs_lat_validation(self, spark):
        import pytest as _pytest

        from gbif_filter_python_spark.operators.spatial import (
            proximity_pairs,
        )

        df = spark.createDataFrame(
            [(1, 0.0, 0.0)], "id long, lon double, lat double"
        )
        with _pytest.raises(ValueError):
            proximity_pairs(df, 5.0, max_abs_lat=89.9)

    def test_density_cap_bounds_mega_dense_cell(self, spark):
        """VERDICT r4 item 4: a planted mega-dense cell (300 points at
        one coordinate) must truncate to the cap's deterministic
        lowest-id retained set — pair count C(k,2) instead of
        C(300,2) — while sparse cells elsewhere are untouched and
        retained-point pairs stay exact."""
        from gbif_filter_python_spark.operators.spatial import (
            proximity_pairs,
        )

        hot = [(i, 10.0 + (i % 7) * 1e-5, 45.0) for i in range(300)]
        sparse = [(1000, -5.0, 44.0), (1001, -5.001, 44.0),
                  (1002, 3.0, 47.0)]
        df = spark.createDataFrame(
            hot + sparse, "id long, lon double, lat double"
        )
        capped = proximity_pairs(
            df, 5.0, max_abs_lat=50.0, max_cell_points=20
        ).collect()
        got = {(r.id_a, r.id_b) for r in capped}
        # hot cell: exactly the 20 lowest ids survive -> C(20,2) pairs
        hot_pairs = {(a, b) for a, b in got if a < 300}
        assert hot_pairs == {(a, b) for a in range(20)
                             for b in range(a + 1, 20)}
        # sparse neighbors unaffected by the cap
        assert (1000, 1001) in got
        assert not any(1002 in p for p in got)
        # explicit uncapped opt-out blows up quadratically on the same
        # input (the default is now DEFAULT_MAX_CELL_POINTS — exact
        # semantics require saying max_cell_points=None out loud)
        n_uncapped = proximity_pairs(
            df, 5.0, max_abs_lat=50.0, max_cell_points=None
        ).count()
        assert n_uncapped == 300 * 299 // 2 + 1

    def test_density_cap_is_the_default(self, spark):
        """VERDICT r5 item 4: uncapped-by-accident impossible — the
        signature default must be a finite cap, and a degenerate cell
        denser than it must truncate without any caller opt-in."""
        import inspect

        from gbif_filter_python_spark.operators.spatial import (
            DEFAULT_MAX_CELL_POINTS,
            proximity_pairs,
        )

        sig = inspect.signature(proximity_pairs)
        assert (
            sig.parameters["max_cell_points"].default
            == DEFAULT_MAX_CELL_POINTS
        )
        assert DEFAULT_MAX_CELL_POINTS is not None
        n = DEFAULT_MAX_CELL_POINTS + 50
        df = spark.createDataFrame(
            [(i, 10.0 + (i % 7) * 1e-5, 45.0) for i in range(n)],
            "id long, lon double, lat double",
        )
        got = proximity_pairs(df, 5.0, max_abs_lat=50.0).count()
        k = DEFAULT_MAX_CELL_POINTS
        assert got == k * (k - 1) // 2

    def test_density_cap_noop_when_above_occupancy(self, spark):
        from gbif_filter_python_spark.operators.spatial import (
            proximity_pairs,
        )

        df = spark.createDataFrame(
            [(1, 10.0, 45.0), (2, 10.0001, 45.0001), (3, 11.0, 45.0)],
            "id long, lon double, lat double",
        )
        exact = {(r.id_a, r.id_b) for r in
                 proximity_pairs(df, 5.0, max_abs_lat=50.0).collect()}
        capped = {(r.id_a, r.id_b)
                  for r in proximity_pairs(
                      df, 5.0, max_abs_lat=50.0, max_cell_points=100
                  ).collect()}
        assert exact == capped == {(1, 2)}
