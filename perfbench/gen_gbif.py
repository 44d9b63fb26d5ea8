"""Seeded generator of the GBIF-shaped inputs of the ``gbif_filter`` workload.

* ``taxonomy``: a FAMILY → GENUS → SPECIES backbone. About 5% of the
  species are synonyms of a sibling, 0.5% carry a homonym name (so
  their name is ambiguous and must resolve to nothing), and every taxon
  has a habitat. Written as one parquet file, as a backbone export is.
* ``occurrence``: a fact with 30% of its rows on 100 hot species, 5% on
  genera (so GENUS parents can occur in a zone and be expanded) and the
  rest spread over 60% of the species. It is built on Spark from
  ``xxhash64(id, seed)`` and written by ``write_occurrence_snapshot``,
  partitioned by country: the package's own write path.
* two taxa CSVs: ``checklist``, a mostly distinct list of names, and
  ``repeated``, where every role tuple occurs about 20 times.

The same seed gives the same inputs, and sizes do not depend on it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gbif_filter_python_spark.schemas import BACKBONE_DATASET_KEY
from gbif_filter_python_spark.sources.io import write_occurrence_snapshot

FAMILY_BASE = 10_000_000
GENUS_BASE = 20_000_000
SPECIES_BASE = 30_000_000
COUNTRIES = ["NO", "SE", "DE", "FR", "ES", "GB", "DK", "FI", "PL", "NL"]
HABITATS = ["TERRESTRIAL", "FRESHWATER", "MARINE"]
#: Zones of the polygon requests: medium, and large with a hole.
POLYGONS = [
    "POLYGON((5 56, 15 55, 20 62, 12 66, 4 62, 5 56))",
    "POLYGON((-5 53, 25 53, 25 67, -5 67, -5 53), "
    "(5 58, 15 58, 15 62, 5 62, 5 58))",
]


# Input sizes. Request latency is bound by Spark's per-job cost, not by
# these sizes, so the fact is sized for set-up time.
FAMILIES = 500
GENERA_PER_FAMILY = 10
SPECIES_PER_GENUS = 9
GENERA = FAMILIES * GENERA_PER_FAMILY
SPECIES = GENERA * SPECIES_PER_GENUS
OCCURRENCES = 100_000
CHECKLIST_ROWS = 20_000
REPEATED_ROWS = 60_000
REPEAT_FACTOR = 20


def _names(prefix: str, ids: np.ndarray) -> np.ndarray:
    return np.char.add(prefix, ids.astype(str)).astype(object)


class GbifGenerator:
    """Builds the workload's inputs from one seed."""

    def __init__(self, spark: SparkSession, seed: int) -> None:
        self.spark = spark
        self.seed = seed

    def _rng(self, salt: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, salt])

    def taxonomy(self) -> pa.Table:
        fam = np.arange(FAMILIES)
        gen = np.arange(GENERA)
        spc = np.arange(SPECIES)
        rng = self._rng(1)
        synonym = rng.random(SPECIES) < 0.05
        homonym = rng.random(SPECIES) < 0.005
        first_sibling = spc % SPECIES_PER_GENUS == 0
        accepted = SPECIES_BASE + spc + np.where(first_sibling, 1, -1)
        n = FAMILIES + GENERA + SPECIES
        return pa.table({
            "key": np.concatenate(
                [FAMILY_BASE + fam, GENUS_BASE + gen, SPECIES_BASE + spc]
            ).astype(np.int64),
            "parent_key": np.concatenate([
                np.ones(FAMILIES, np.int64),
                FAMILY_BASE + gen // GENERA_PER_FAMILY,
                GENUS_BASE + spc // SPECIES_PER_GENUS,
            ]).astype(np.int64),
            "canonical_name": np.concatenate([
                _names("Familia", fam), _names("Genus", gen),
                _names("Species", np.where(homonym, (spc + 9) % SPECIES, spc)),
            ]),
            "rank": ["FAMILY"] * FAMILIES + ["GENUS"] * GENERA + ["SPECIES"] * SPECIES,
            "kingdom": ["Animalia"] * n,
            "taxonomic_status": np.concatenate([
                np.full(FAMILIES + GENERA, "ACCEPTED", object),
                np.where(synonym, "SYNONYM", "ACCEPTED").astype(object),
            ]),
            "is_synonym": np.concatenate([np.zeros(FAMILIES + GENERA, bool), synonym]),
            "accepted_key": pa.array(
                np.concatenate([np.zeros(FAMILIES + GENERA, np.int64), accepted]),
                mask=np.concatenate([np.ones(FAMILIES + GENERA, bool), ~synonym]),
            ),
            "habitat": np.array(HABITATS, object)[rng.integers(0, len(HABITATS), n)],
            "dataset_key": [BACKBONE_DATASET_KEY] * n,
        })

    def _h(self, col: Column | str, salt: int, mod: int) -> Column:
        c = F.col(col) if isinstance(col, str) else col
        return F.pmod(F.xxhash64(c, F.lit(self.seed), F.lit(salt)), F.lit(mod))

    def occurrence(self) -> DataFrame:
        bucket = self._h("id", 4, 100)
        hot = F.lit(SPECIES_BASE) + F.pmod(
            F.xxhash64(self._h("id", 5, 100), F.lit(self.seed), F.lit(6)),
            F.lit(SPECIES),
        )
        genus = F.lit(GENUS_BASE) + self._h("id", 7, GENERA)
        spread = F.lit(SPECIES_BASE) + F.pmod(
            F.xxhash64(
                self._h("id", 8, int(SPECIES * 0.6)), F.lit(self.seed), F.lit(9)
            ),
            F.lit(SPECIES),
        )
        return self.spark.range(OCCURRENCES).select(
            F.col("id").alias("occurrence_id"),
            F.when(bucket < 30, hot).when(bucket < 35, genus).otherwise(spread)
            .alias("taxon_key"),
            F.when((bucket >= 30) & (bucket < 35), F.lit("GENUS"))
            .otherwise(F.lit("SPECIES")).alias("taxon_rank"),
            F.element_at(
                F.array(*[F.lit(c) for c in COUNTRIES]),
                (self._h("id", 10, len(COUNTRIES)) + 1).cast("int"),
            ).alias("country"),
            (self._h("id", 11, 3600) / 100.0 - 8.0).alias("decimal_lon"),
            (self._h("id", 12, 1600) / 100.0 + 52.0).alias("decimal_lat"),
            F.timestamp_seconds(
                F.lit(1577836800) + self._h("id", 13, 86400 * 365)
            ).alias("event_ts"),
        )

    def _taxa(self, rows: int, distinct: int, salt: int) -> pd.DataFrame:
        """Taxa table of ``rows`` rows drawn from ``distinct`` role
        tuples: 85% species (one in ten without a rank), 8% genera, 2%
        families, 3% names absent from the backbone and 2% missing
        names."""
        rng = self._rng(salt)
        kind = rng.integers(0, 100, distinct)
        idx = rng.integers(0, SPECIES, distinct)
        name = np.select(
            [kind < 85, kind < 93, kind < 95, kind < 98],
            [
                _names("Species", idx), _names("Genus", idx % GENERA),
                _names("Familia", idx % FAMILIES), _names("Nonexistent taxon ", idx),
            ],
            None,
        )
        rank = np.select(
            [(kind < 85) & (idx % 10 != 0), kind < 85, kind < 93, kind < 95],
            ["SPECIES", None, "GENUS", "FAMILY"],
            "SPECIES",
        )
        pick = np.arange(rows) if rows == distinct else rng.integers(0, distinct, rows)
        return pd.DataFrame({
            "id": np.arange(rows),
            "name": name[pick],
            "rank": rank[pick],
            "reads": rng.integers(0, 1000, rows),
        })

    def checklist(self) -> pd.DataFrame:
        return self._taxa(CHECKLIST_ROWS, CHECKLIST_ROWS, 20)

    def repeated(self) -> pd.DataFrame:
        return self._taxa(REPEATED_ROWS, REPEATED_ROWS // REPEAT_FACTOR, 40)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def write_taxa_csv(df: pd.DataFrame, path: str) -> None:
    """One header CSV file in directory ``path``; nulls as ``NA``."""
    df.to_csv(os.path.join(_fresh_dir(path), "part-00000.csv"), index=False, na_rep="NA")


def write_inputs(gen: GbifGenerator, root: str, tracer) -> None:
    """Write the snapshot and both taxa CSVs under ``root``."""
    with tracer.span("io.taxonomy_write"):
        pq.write_table(
            gen.taxonomy(), os.path.join(_fresh_dir(f"{root}/taxonomy"), "part-00000.parquet")
        )
    with tracer.span("io.snapshot_write"):
        write_occurrence_snapshot(gen.occurrence(), f"{root}/occurrence")
    with tracer.span("io.taxa_csv_write"):
        write_taxa_csv(gen.checklist(), f"{root}/checklist")
        write_taxa_csv(gen.repeated(), f"{root}/repeated")
