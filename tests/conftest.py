"""Shared Spark session + hermetic fixtures (FIXTURES.md §3-§4).

The fixture tables replace the live GBIF REST service the reference
queries, covering every SURVEY.md §2-A/§2-D path: exact match, synonym
redirect, ambiguous name, unresolvable name, FAMILY with multiple
GENUS children, GENUS with multiple SPECIES children mixing statuses
and habitats, taxa with occurrences inside/outside zone, and a valid
taxon with zero occurrences (tag False vs None).
"""

from __future__ import annotations

import datetime
import os
from contextlib import contextmanager

import pytest
from pyspark.sql import SparkSession

from gbif_filter_python_spark.schemas import (
    BACKBONE_DATASET_KEY as BB,
    OCCURRENCE_SCHEMA,
    TAXONOMY_SCHEMA,
)
from gbif_filter_python_spark.session import get_spark


#: The reference project's own test directory, from a checkout of the
#: reference next to this repository. The parity tests that read its
#: golden files skip when it is absent.
REFERENCE_TEST_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    os.pardir, "reference", "test",
)
requires_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_TEST_DIR),
    reason="needs the reference project checked out next to this "
    "repository (reference/test/ holds the golden files)",
)


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    import tempfile

    # Tiny fixtures: 1 shuffle partition and no AQE re-planning keeps
    # per-test driver overhead low (the suite is plan-heavy, not data-heavy).
    # Warehouse in a temp dir so saveAsTable (bucketed-table tests)
    # never writes into the repo.
    s = get_spark(app_name="gbif-filter-spark-tests", master="local[4]",
                  shuffle_partitions=1,
                  extra_conf={
                      "spark.sql.adaptive.enabled": "false",
                      "spark.sql.warehouse.dir": tempfile.mkdtemp(
                          prefix="spark-warehouse-"),
                  })
    yield s
    s.stop()


@contextmanager
def session_conf(spark: SparkSession, partitions: int | None = None,
                 adaptive: bool | None = None,
                 extra: dict[str, str] | None = None):
    """``partitions`` shuffle partitions and adaptive execution on or
    off (each left alone when None), plus any ``extra`` keys, for the
    block; every key gets its previous value back on exit. The one way
    a test changes session conf (``tests/test_packaging.py`` checks)."""
    conf = dict(extra or {})
    if partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(partitions)
    if adaptive is not None:
        conf["spark.sql.adaptive.enabled"] = str(adaptive).lower()
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# key, parent_key, canonical_name, rank, kingdom, status, is_synonym,
# accepted_key, habitat, dataset_key
TAXONOMY_ROWS = [
    # Animalia kingdom root
    (1, None, "Animalia", "KINGDOM", "Animalia", "ACCEPTED", False, None, None, BB),
    (10, 1, "Annelida", "PHYLUM", "Animalia", "ACCEPTED", False, None, None, BB),
    (100, 10, "Clitellata", "CLASS", "Animalia", "ACCEPTED", False, None, None, BB),
    (1000, 100, "Haplotaxida", "ORDER", "Animalia", "ACCEPTED", False, None, None, BB),
    # FAMILY with two genera
    (2000, 1000, "Lumbricidae", "FAMILY", "Animalia", "ACCEPTED", False, None, "TERRESTRIAL", BB),
    (3000, 2000, "Lumbricus", "GENUS", "Animalia", "ACCEPTED", False, None, "TERRESTRIAL", BB),
    (3001, 2000, "Eisenia", "GENUS", "Animalia", "ACCEPTED", False, None, "TERRESTRIAL", BB),
    # species under Lumbricus: two accepted (different habitats), one synonym
    (4000, 3000, "Lumbricus terrestris", "SPECIES", "Animalia", "ACCEPTED", False, None, "TERRESTRIAL", BB),
    (4001, 3000, "Lumbricus rubellus", "SPECIES", "Animalia", "ACCEPTED", False, None, "TERRESTRIAL", BB),
    (4002, 3000, "Lumbricus aquaticus", "SPECIES", "Animalia", "ACCEPTED", False, None, "FRESHWATER", BB),
    (4003, 3000, "Lumbricus oldname", "SPECIES", "Animalia", "SYNONYM", True, 4000, "TERRESTRIAL", BB),
    # species under Eisenia
    (4100, 3001, "Eisenia fetida", "SPECIES", "Animalia", "ACCEPTED", False, None, "TERRESTRIAL", BB),
    # a synonym GENUS that redirects to Lumbricus
    (3100, 2000, "Lumbricus-syn", "GENUS", "Animalia", "SYNONYM", True, 3000, "TERRESTRIAL", BB),
    # ambiguous name: same canonical name at same rank, two kingdoms
    (5000, 1, "Ambigua", "GENUS", "Animalia", "ACCEPTED", False, None, None, BB),
    (5001, None, "Ambigua", "GENUS", "Plantae", "ACCEPTED", False, None, None, BB),
    # valid taxon with zero occurrences anywhere
    (6000, 3001, "Eisenia nullius", "SPECIES", "Animalia", "ACCEPTED", False, None, "TERRESTRIAL", BB),
    # non-backbone dataset row (must be excluded by backbone_only)
    (7000, 3000, "Lumbricus shadow", "SPECIES", "Animalia", "ACCEPTED", False, None, "TERRESTRIAL", "other-dataset"),
]

_TS = datetime.datetime(2020, 6, 1, 12, 0, 0)

# occurrence_id, taxon_key, taxon_rank, country, lon, lat, event_ts
# Norway-ish polygon used in tests: POLYGON((5 58, 12 58, 12 62, 5 62, 5 58))
OCCURRENCE_ROWS = [
    # Lumbricus terrestris: in NO and inside polygon
    (1, 4000, "SPECIES", "NO", 8.0, 60.0, _TS),
    (2, 4000, "SPECIES", "NO", 9.0, 61.0, _TS),
    # Lumbricus rubellus: in NO but OUTSIDE polygon (precedence test §2-E)
    (3, 4001, "SPECIES", "NO", 20.0, 69.0, _TS),
    # Lumbricus aquaticus: only in SE
    (4, 4002, "SPECIES", "SE", 15.0, 60.0, _TS),
    # Eisenia fetida: in NO inside polygon
    (5, 4100, "SPECIES", "NO", 6.0, 59.0, _TS),
    # genus-level occurrence for Lumbricus itself
    (6, 3000, "GENUS", "NO", 7.5, 59.5, _TS),
    # family-level occurrence for Lumbricidae
    (7, 2000, "FAMILY", "NO", 7.0, 59.0, _TS),
    # Ambigua (Animalia) occurrence
    (8, 5000, "GENUS", "NO", 8.5, 60.5, _TS),
    # occurrence with null island coords in DE
    (9, 4000, "SPECIES", "DE", None, None, _TS),
]


@pytest.fixture(scope="session")
def taxonomy(spark):
    return spark.createDataFrame(TAXONOMY_ROWS, TAXONOMY_SCHEMA).cache()


@pytest.fixture(scope="session")
def occurrence(spark):
    return spark.createDataFrame(OCCURRENCE_ROWS, OCCURRENCE_SCHEMA).cache()


@pytest.fixture()
def snapshot_engine(spark, taxonomy, occurrence, tmp_path):
    """The CLI's inputs on disk: a taxonomy parquet file, a
    country-partitioned occurrence snapshot and a taxa CSV. File-backed
    plans carry real size statistics, which the broadcast guard reads.
    Returns ``(engine, taxa)``."""
    from gbif_filter_python_spark import OccurrenceEngine
    from gbif_filter_python_spark.sources.io import (
        read_taxa_csv,
        write_occurrence_snapshot,
    )
    from gbif_filter_python_spark.sources.providers import (
        ParquetSnapshotProvider,
    )

    taxonomy.write.parquet(str(tmp_path / "taxonomy"))
    write_occurrence_snapshot(occurrence, str(tmp_path / "occurrence"))
    (tmp_path / "taxa.csv").write_text(
        "id,name,rank\n1,Lumbricus,GENUS\n2,Lumbricidae,FAMILY\n"
        "3,Eisenia fetida,NA\n4,Lumbricus terrestris,SPECIES\n"
        "5,Eisenia nullius,SPECIES\n6,Nonexistent name,SPECIES\n"
    )
    provider = ParquetSnapshotProvider(
        spark, str(tmp_path / "taxonomy"), str(tmp_path / "occurrence"))
    engine = OccurrenceEngine(provider.taxonomy(), provider.occurrences())
    taxa = read_taxa_csv(spark, str(tmp_path / "taxa.csv"),
                         role_columns=["name", "rank"])
    return engine, taxa


#: WKT covering south Norway in the fixture grid.
NORWAY_ISH_WKT = "POLYGON((5 58, 12 58, 12 62, 5 62, 5 58))"


@pytest.fixture(scope="session")
def sf001_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir() -> str:
    return "/root/testdata/sf0.01"
