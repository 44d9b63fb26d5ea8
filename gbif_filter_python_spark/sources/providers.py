"""Pluggable data-source providers (SURVEY.md §1.4, §2 ops 39-40).

The reference's deleted ``util`` package defined a provider protocol —
``DataSource`` with ``OccurrenceSource`` / ``TaxonomicSource``
subclasses and a ``GbifAPI`` REST implementation
(/root/reference/util/__pycache__/data_source.cpython-37.pyc,
gbif.cpython-37.pyc). This module is the set-oriented equivalent:
every provider yields *DataFrames* with the canonical schemas
(schemas.TAXONOMY_SCHEMA / OCCURRENCE_SCHEMA) instead of per-taxid
scalars.

* ``ParquetSnapshotProvider`` — the production path: a materialized
  GBIF snapshot (occurrence.org publishes monthly parquet dumps);
  predicates push into the scan, the 100 TB design case.
* ``InMemoryProvider`` — hermetic fixtures for tests.
* ``RestBatchProvider`` — the online path mirroring the reference's
  per-name ``species.name_backbone`` lookups
  (/root/reference/gbif_helper.py:17-19), re-expressed as a batched
  ``mapInPandas`` over the *distinct* names (one HTTP call per name
  per partition batch, not per input row). The HTTP fetch function is
  injected, so tests run with a fake and the container needs no
  network. This is deliberately the slow path — resolution against a
  snapshot dimension is the default.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Protocol

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gbif_filter_python_spark.config import Country, Polygon, Zone
from gbif_filter_python_spark.operators.tagging import tag_existence
from gbif_filter_python_spark.schemas import (
    INTERACTION_NAME_SCHEMA,
    INTERACTION_SCHEMA,
    OCCURRENCE_SCHEMA,
    TAXONOMY_SCHEMA,
)


class TaxonomicSource(Protocol):
    """Provider of the taxonomy dimension (legacy TaxonomicSource)."""

    def taxonomy(self) -> DataFrame: ...


class OccurrenceSource(Protocol):
    """Provider of the occurrence fact (legacy OccurrenceSource)."""

    def occurrences(self) -> DataFrame: ...


class InteractionSource(Protocol):
    """Provider of species-interaction data (legacy ``InteractionSource``
    with abstract ``get_interactions`` / ``resolve_interaction_name``,
    /root/reference/util/__pycache__/data_source.cpython-37.pyc,
    SURVEY.md §1.4 — the last §2 op-40 ABC without a counterpart until
    r4).

    Set-oriented re-expression: ``interactions()`` is the edge FACT
    (one row per source/target/type — what per-taxid
    ``get_interactions`` calls paged through), ``interaction_names()``
    the tiny name dimension (canonical + synonym rows — what
    ``resolve_interaction_name`` looked up per string). The legacy
    call shapes live on as :func:`get_interactions` /
    :func:`resolve_interaction_name` below, which take WHOLE
    DataFrames of keys/names and join — the same
    distinct-then-join memoization as taxon resolution.
    """

    def interactions(self) -> DataFrame: ...

    def interaction_names(self) -> DataFrame: ...


class SnapshotSchemaError(ValueError):
    """A parquet snapshot lacks a column of its canonical schema, or
    holds no data file to check."""


def _read_canonical_parquet(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """``path`` read with the canonical ``schema``, checked against one
    data file's footer.

    A given schema saves the schema-inference job a plain
    ``spark.read.parquet`` runs, but Spark would read a column the
    files lack as NULLs. So the first data file's parquet footer is
    read on the driver (no Spark job), and a canonical column that is
    neither in it nor the name of a ``name=value`` directory on that
    file's path (a partition column) raises
    :class:`SnapshotSchemaError`. Names compare the way the session's
    ``spark.sql.caseSensitive`` makes Spark match them.
    """
    df = spark.read.schema(schema).parquet(path)
    files = df._jdf.inputFiles()  # the reader's listing; no job
    if len(files) == 0:
        raise SnapshotSchemaError(f"{path}: no parquet data file")
    jvm = spark._jvm
    first = jvm.org.apache.hadoop.fs.Path(files[0])
    # One py4j round trip for the whole schema: its text form has one
    # "  <repetition> <type> <name>..." line per top-level column.
    message = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark._jsparkSession.sessionState().newHadoopConf(), first
    ).getFileMetaData().getSchema().toString()
    present = {
        line.split()[2].rstrip(";")
        for line in message.splitlines()
        if line.startswith("  ") and not line.startswith("   ")
    }
    dirs = first.toUri().getPath().split("/")[:-1]
    present |= {d.split("=", 1)[0] for d in dirs if "=" in d}
    sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    fold = str if sensitive else str.lower
    present = {fold(n) for n in present}
    missing = [f.name for f in schema if fold(f.name) not in present]
    if missing:
        raise SnapshotSchemaError(
            f"{path}: snapshot lacks canonical column(s) {missing} "
            f"(checked {files[0]})"
        )
    return df


class ParquetSnapshotProvider:
    """Both sources from parquet snapshots — the scale path.

    At cluster scale the occurrence snapshot should be partitioned by
    ``country`` and bucketed by ``taxon_key`` so zone predicates
    partition-prune and existence probes co-locate (SURVEY.md §4.3).

    ``taxonomy()`` and ``occurrences()`` read with the canonical
    schemas (schemas.TAXONOMY_SCHEMA / OCCURRENCE_SCHEMA) through
    :func:`_read_canonical_parquet`: no schema-inference job, and a
    snapshot missing a canonical column raises
    :class:`SnapshotSchemaError` when it is read instead of reading
    that column as NULLs. The interaction tables keep inference.
    """

    def __init__(
        self,
        spark: SparkSession,
        taxonomy_path: str | None = None,
        occurrence_path: str | None = None,
        interaction_path: str | None = None,
        interaction_name_path: str | None = None,
    ) -> None:
        self.spark = spark
        self.taxonomy_path = taxonomy_path
        self.occurrence_path = occurrence_path
        self.interaction_path = interaction_path
        self.interaction_name_path = interaction_name_path

    def taxonomy(self) -> DataFrame:
        if not self.taxonomy_path:
            raise ValueError("taxonomy_path not configured")
        return _read_canonical_parquet(
            self.spark, self.taxonomy_path, TAXONOMY_SCHEMA
        )

    def occurrences(self) -> DataFrame:
        if not self.occurrence_path:
            raise ValueError("occurrence_path not configured")
        return _read_canonical_parquet(
            self.spark, self.occurrence_path, OCCURRENCE_SCHEMA
        )

    def interactions(self) -> DataFrame:
        if not self.interaction_path:
            raise ValueError("interaction_path not configured")
        return self.spark.read.parquet(self.interaction_path)

    def interaction_names(self) -> DataFrame:
        if not self.interaction_name_path:
            raise ValueError("interaction_name_path not configured")
        return self.spark.read.parquet(self.interaction_name_path)


class InMemoryProvider:
    """Hermetic fixture provider for tests (implements all four legacy
    source protocols; interaction tables optional)."""

    def __init__(
        self,
        spark: SparkSession,
        taxonomy_rows,
        occurrence_rows,
        interaction_rows=None,
        interaction_name_rows=None,
    ) -> None:
        self._taxonomy = spark.createDataFrame(taxonomy_rows, TAXONOMY_SCHEMA)
        self._occurrence = spark.createDataFrame(occurrence_rows, OCCURRENCE_SCHEMA)
        self._interactions = (
            spark.createDataFrame(interaction_rows, INTERACTION_SCHEMA)
            if interaction_rows is not None
            else None
        )
        self._interaction_names = (
            spark.createDataFrame(
                interaction_name_rows, INTERACTION_NAME_SCHEMA
            )
            if interaction_name_rows is not None
            else None
        )

    def taxonomy(self) -> DataFrame:
        return self._taxonomy

    def occurrences(self) -> DataFrame:
        return self._occurrence

    def interactions(self) -> DataFrame:
        if self._interactions is None:
            raise ValueError("no interaction rows configured")
        return self._interactions

    def interaction_names(self) -> DataFrame:
        if self._interaction_names is None:
            raise ValueError("no interaction name rows configured")
        return self._interaction_names


def resolve_interaction_name(
    source: InteractionSource, names: DataFrame, name_col: str = "name"
) -> DataFrame:
    """Legacy ``InteractionSource.resolve_interaction_name``
    (data_source.cpython-37.pyc abstract method), set-at-a-time: every
    input name resolves to the canonical interaction type id via the
    broadcast name dimension — synonym rows redirect to the same id,
    unknown names yield null (the taxon-resolution EXACT-or-nothing
    shape, gbif_helper.py:20-29, applied to interaction vocabulary).

    Matching is case-insensitive on trimmed names; output columns:
    ``(name, interaction_type_id, canonical_name)``.
    """
    dim = source.interaction_names()
    canon = dim.filter(~F.col("is_synonym")).select(
        F.col("interaction_type_id").alias("_ctid"),
        F.col("interaction_name").alias("canonical_name"),
    )
    lookup = (
        dim.select(
            F.lower(F.trim(F.col("interaction_name"))).alias("_lname"),
            "interaction_type_id",
        )
        .join(
            canon, F.col("interaction_type_id") == F.col("_ctid")
        )
        .select("_lname", "interaction_type_id", "canonical_name")
    )
    return names.join(
        F.broadcast(lookup),
        F.lower(F.trim(F.col(name_col))) == F.col("_lname"),
        "left",
    ).select(
        F.col(name_col).alias("name"),
        "interaction_type_id",
        "canonical_name",
    )


def get_interactions(
    source: InteractionSource,
    taxon_keys: DataFrame,
    interaction_name: str | None = None,
    key_col: str = "taxon_key",
) -> DataFrame:
    """Legacy ``InteractionSource.get_interactions`` set-at-a-time:
    all interaction edges whose SOURCE taxon is in ``taxon_keys``
    (distinct keys broadcast against the edge fact — the fact never
    shuffles, the op-23/24 memoization shape), optionally restricted
    to one interaction type by name (resolved through
    :func:`resolve_interaction_name`, so synonyms like "eats" /
    "preysOn" select the same edges as the canonical name).

    Output: the INTERACTION_SCHEMA columns plus ``interaction_name``
    (canonical).
    """
    edges = source.interactions()
    keys = (
        taxon_keys.select(
            F.col(key_col).cast("long").alias("source_taxon_key")
        )
        .filter(F.col("source_taxon_key").isNotNull())
        .distinct()
    )
    out = edges.join(F.broadcast(keys), "source_taxon_key", "left_semi")
    canon = source.interaction_names().filter(~F.col("is_synonym")).select(
        "interaction_type_id",
        F.col("interaction_name").alias("interaction_name"),
    )
    out = out.join(F.broadcast(canon), "interaction_type_id", "left")
    if interaction_name is not None:
        spark = taxon_keys.sparkSession
        resolved = resolve_interaction_name(
            source, spark.createDataFrame([(interaction_name,)], "name string")
        ).collect()
        type_id = resolved[0]["interaction_type_id"] if resolved else None
        if type_id is None:
            raise ValueError(
                f"unknown interaction name {interaction_name!r}"
            )
        out = out.filter(F.col("interaction_type_id") == int(type_id))
    return out.select(
        "source_taxon_key",
        "target_taxon_key",
        "interaction_type_id",
        "interaction_name",
    )


#: fetch(name, rank, kingdom) -> dict with the name_backbone response
#: fields the reference reads (gbif_helper.py:20-25): usageKey,
#: acceptedUsageKey, matchType, synonym, rank. Injected for testability.
BackboneFetch = Callable[[str, str | None, str | None], dict]

#: fetch_children(parent_key, rank, habitat) -> list of name_lookup
#: result dicts with the fields the reference reads
#: (gbif_helper.py:44-49, apply_gbif_filter.py:167-168):
#: key, canonicalName, taxonomicStatus.
ChildrenFetch = Callable[[int, str | None, str | None], list]

#: fetch_occurrences(taxon_key, geometry, country) -> first page of
#: occurrence results, mirroring ``occurrences.search(taxonKey,
#: geometry, country, limit=1)`` (gbif_helper.py:86-88); existence is
#: ``len(results) > 0`` (gbif_helper.py:92). A limit-1 page suffices.
OccurrenceFetch = Callable[[int, str | None, str | None], list]

#: fetch_all_occurrences(taxon_key, geometry, country) -> ALL
#: occurrence result dicts for the taxon, paginated client-side — the
#: online twin of the reference's commented ``get_all_occurrences``
#: offset loop (gbif_helper.py:71-83). Each dict carries the fields
#: ``format_results`` reads (gbif_helper.py:100-105): taxonKey,
#: taxonRank.
AllOccurrencesFetch = Callable[[int, str | None, str | None], list]


class RestBatchProvider:
    """Online name resolution via batched mapInPandas (op 4 parity).

    ``resolve_names_online(distinct_names)`` takes a DataFrame of
    ``(name, rank, kingdom)`` and returns ``(name, key, rank)`` with
    the reference's EXACT/synonym semantics applied per response
    (gbif_helper.py:20-29). The caller is expected to pass DISTINCT
    names (the structural memoization of SURVEY.md §2 op 23) and join
    results back — never the raw input rows.
    """

    def __init__(
        self,
        fetch: BackboneFetch,
        fetch_children: ChildrenFetch | None = None,
        fetch_occurrences: OccurrenceFetch | None = None,
        fetch_all_occurrences: AllOccurrencesFetch | None = None,
    ) -> None:
        self.fetch = fetch
        self.fetch_children = fetch_children
        self.fetch_occurrences = fetch_occurrences
        self.fetch_all_occurrences = fetch_all_occurrences

    def resolve_names_online(self, names: DataFrame) -> DataFrame:
        fetch = self.fetch

        def _resolve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                keys: list[int | None] = []
                ranks: list[str | None] = []
                for name, rank, kingdom in zip(
                    pdf["name"], pdf.get("rank"), pdf.get("kingdom")
                ):
                    try:
                        m = fetch(name, rank, kingdom) or {}
                    except Exception:
                        m = {}
                    # EXACT-or-nothing + synonym redirect
                    # (gbif_helper.py:20-29)
                    if m.get("matchType") == "EXACT":
                        key = (
                            m.get("acceptedUsageKey")
                            if m.get("synonym")
                            else m.get("usageKey")
                        )
                        keys.append(key)
                        ranks.append(m.get("rank", rank))
                    else:
                        keys.append(None)
                        ranks.append(rank)
                yield pd.DataFrame(
                    {
                        "name": pdf["name"],
                        "key": pd.array(keys, dtype="Int64"),
                        "rank": ranks,
                    }
                )

        return names.mapInPandas(
            _resolve, schema="name string, key long, rank string"
        )

    def children_online(
        self,
        parents: DataFrame,
        children_rank: str | None = None,
        habitat: str | None = None,
    ) -> DataFrame:
        """Online child listing (op 5 parity: ``species.name_lookup``,
        gbif_helper.py:35-42), batched per partition over DISTINCT
        parent keys. Applies the client-side ``taxonomicStatus ==
        'ACCEPTED'`` filter the reference applies (gbif_helper.py:48-50)
        and returns ``(parent, child_key, child_name)`` rows — the same
        shape as the offline ``expansion.descend_to_rank``.
        """
        if self.fetch_children is None:
            raise ValueError("no fetch_children callable configured")
        fetch_children = self.fetch_children

        def _children(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_parent: list[int] = []
                out_key: list[int] = []
                out_name: list[str] = []
                for parent in pdf["parent"]:
                    try:
                        results = fetch_children(
                            int(parent), children_rank, habitat
                        ) or []
                    except Exception:
                        results = []
                    for child in results:
                        if child.get("taxonomicStatus") != "ACCEPTED":
                            continue
                        out_parent.append(int(parent))
                        out_key.append(child.get("key"))
                        out_name.append(child.get("canonicalName"))
                yield pd.DataFrame(
                    {
                        "parent": pd.array(out_parent, dtype="int64"),
                        "child_key": pd.array(out_key, dtype="Int64"),
                        "child_name": out_name,
                    }
                )

        return parents.mapInPandas(
            _children, schema="parent long, child_key long, child_name string"
        )

    def exists_online(
        self, keys: DataFrame, zone: Zone | None = None
    ) -> DataFrame:
        """Online occurrence-existence probe (op 6's online twin:
        ``occurrences.search(taxonKey, geometry, country, limit=1)`` →
        ``len(results) > 0``, gbif_helper.py:85-92), batched per
        partition over DISTINCT taxon keys — the caller passes distinct
        keys and joins results back, never raw input rows (the
        structural memoization of SURVEY.md §2 ops 23/24; the
        reference's mismatched-key-type occ_cache bug §2-B cannot
        occur). Returns ``(taxon_key, occurs: boolean)``.
        """
        if self.fetch_occurrences is None:
            raise ValueError("no fetch_occurrences callable configured")
        fetch_occ = self.fetch_occurrences
        geometry = country = None
        if isinstance(zone, Country):
            country = zone.code
        elif isinstance(zone, Polygon):
            geometry = zone.wkt

        def _exists(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                occurs: list[bool] = []
                for key in pdf["taxon_key"]:
                    try:
                        results = fetch_occ(int(key), geometry, country) or []
                    except Exception:
                        results = []
                    occurs.append(len(results) > 0)
                yield pd.DataFrame(
                    {
                        "taxon_key": pdf["taxon_key"].astype("int64"),
                        "occurs": occurs,
                    }
                )

        return keys.mapInPandas(_exists, schema="taxon_key long, occurs boolean")

    def occurrences_online(
        self, keys: DataFrame, zone: Zone | None = None,
        ranks: list[str] | None = None,
    ) -> DataFrame:
        """Online paginated full occurrence fetch — the batched twin of
        the reference's ``get_occurrences`` → ``get_all_occurrences`` →
        ``format_results`` path (gbif_helper.py:60-69, 71-83, 94-109):
        for each DISTINCT taxon key, every occurrence record is fetched
        (the injected callable paginates), optionally filtered to
        ``result["taxonRank"] in ranks`` exactly as ``format_results``
        does, and emitted as one row per occurrence. Returns
        ``(taxon_key, occ_taxon_key, occ_taxon_rank)`` — the
        reference's returned taxonKey list, keyed by the query taxon.

        Offline the partitioned parquet occurrence scan replaces this
        wholesale; the online path exists for entry-point parity and
        must be fed a SMALL distinct-keys frame (each key is a full
        paginated walk against the service).
        """
        if self.fetch_all_occurrences is None:
            raise ValueError("no fetch_all_occurrences callable configured")
        fetch_all = self.fetch_all_occurrences
        geometry = country = None
        if isinstance(zone, Country):
            country = zone.code
        elif isinstance(zone, Polygon):
            geometry = zone.wkt
        rank_set = set(ranks) if ranks is not None else None

        def _occ(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_key: list[int] = []
                out_tk: list[int | None] = []
                out_rank: list[str | None] = []
                for key in pdf["taxon_key"]:
                    try:
                        results = fetch_all(int(key), geometry, country) or []
                    except Exception:
                        results = []
                    for rec in results:
                        rank = rec.get("taxonRank")
                        # format_results (gbif_helper.py:102-105):
                        # ranks=None keeps everything, else membership
                        if rank_set is not None and rank not in rank_set:
                            continue
                        out_key.append(int(key))
                        out_tk.append(rec.get("taxonKey"))
                        out_rank.append(rank)
                yield pd.DataFrame(
                    {
                        "taxon_key": pd.array(out_key, dtype="int64"),
                        "occ_taxon_key": pd.array(out_tk, dtype="Int64"),
                        "occ_taxon_rank": out_rank,
                    }
                )

        return keys.mapInPandas(
            _occ,
            schema="taxon_key long, occ_taxon_key long, "
                   "occ_taxon_rank string",
        )


def tag_existence_online(
    taxa: DataFrame,
    provider: RestBatchProvider,
    zone: Zone | None = None,
    key_col: str = "gbif_key",
    tag_col: str = "gbif_filter_tag",
) -> DataFrame:
    """Online twin of ``tagging.tag_existence`` for users without a
    parquet occurrence snapshot: distinct non-null keys are probed once
    via the injected REST fetch, and the keys that occur stand in for
    the zone's occurrence keys of :func:`tagging.tag_existence`, which
    joins them back to all rows with the reference's ternary semantics
    (§2-G — None for null keys, False for probed-but-absent, True for
    occurs).
    """
    keys = (
        taxa.select(F.col(key_col).cast("long").alias("taxon_key"))
        .filter(F.col("taxon_key").isNotNull())
        .distinct()
    )
    occurring = provider.exists_online(keys, zone).filter(F.col("occurs"))
    return tag_existence(taxa, occurring, key_col, tag_col)
