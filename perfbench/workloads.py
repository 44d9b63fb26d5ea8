"""The benchmark's workloads: seeded inputs, requests, warm-up and output checks.

Each workload is a closed loop with one client and no think time. A
*pass* is the fixed, ordered list of requests the workload rotates
over; the timed region runs whole passes, so every run does the same
work and Spark jobs per pass repeat exactly.

Only public functions of the package are called, so every layer is
measured from outside.
"""

from __future__ import annotations

import os
import shutil
import sys
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gbif_filter_python_spark.config import Country, FilterConfig, Polygon
from gbif_filter_python_spark.engine import OccurrenceEngine
from gbif_filter_python_spark.operators.expansion import expand_children
from gbif_filter_python_spark.operators.resolution import (
    KEY_COL,
    RANK_COL,
    resolve_names,
)
from gbif_filter_python_spark.operators.spatial import zone_filter
from gbif_filter_python_spark.operators.tagging import (
    TAG_COL,
    occurrence_keys,
    tag_existence,
)
from gbif_filter_python_spark.sources.io import read_taxa_csv, write_csv
from gbif_filter_python_spark.sources.providers import ParquetSnapshotProvider

import gen_corpus
from gen_gbif import POLYGONS, GbifGenerator, write_inputs
from twin import GbifTwin, connect


@dataclass
class Request:
    """One request of a pass. ``key`` names what its output is checked
    against; ``kind`` is the request type latencies are grouped by."""

    kind: str
    key: str
    params: dict = field(default_factory=dict)


def noop(df: DataFrame) -> None:
    """Force a plan without materializing its output anywhere."""
    df.write.format("noop").mode("overwrite").save()


def count_where(df: DataFrame, **conds) -> dict[str, int]:
    """One aggregation job: ``rows`` plus one count per named condition."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    aggs += [F.count_if(c).alias(n) for n, c in conds.items()]
    return df.agg(*aggs).first().asDict()


# ---------------------------------------------------------------------------
# gbif_filter
# ---------------------------------------------------------------------------

ROLE_COLUMNS = ["name", "rank"]


def gbif_config(kind: str, polygon: int) -> tuple[FilterConfig, bool]:
    """(config, tag_mode) of each request kind."""
    base = dict(name_column="name", rank_column="rank", taxa_kingdom="Animalia")
    if kind == "country_tag":
        return FilterConfig(zone=Country("NO"), **base), True
    if kind == "polygon_tag":
        return FilterConfig(zone=Polygon(POLYGONS[polygon]), **base), True
    if kind == "expand":
        return FilterConfig(
            zone=Country("SE"), resolve_to_rank="SPECIES",
            habitat="TERRESTRIAL", **base,
        ), True
    if kind == "country_filter":
        return FilterConfig(zone=Country("DE"), **base), False
    raise ValueError(kind)


class GbifFilter:
    """The CLI path ``read_taxa_csv → OccurrenceEngine.run_filter →
    write_csv`` against a seeded GBIF snapshot."""

    name = "gbif_filter"
    first_pass_cold = False
    KINDS = ("country_tag", "polygon_tag", "expand", "country_filter")

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.inputs = f"{work}/inputs"
        self.out = f"{work}/out"
        self.twin: GbifTwin | None = None
        self.expected: dict[str, tuple] = {}
        self.written: list[tuple[Request, str]] = []

    def setup(self, tracer) -> None:
        write_inputs(GbifGenerator(self.spark, self.seed), self.inputs, tracer)

    def passes(self, i: int) -> list[Request]:
        """Pass ``i``: each kind once, the taxa input alternating from
        request to request and from pass to pass; the polygon tag takes
        the polygons in turn."""
        reqs = []
        for j, kind in enumerate(self.KINDS):
            taxa = ("checklist", "repeated")[(i + j) % 2]
            poly = i % len(POLYGONS) if kind == "polygon_tag" else 0
            reqs.append(Request(kind, f"{kind}/{taxa}/{poly}", {"taxa": taxa, "polygon": poly}))
        return reqs

    def warmup_requests(self) -> list[Request]:
        """The polygon tag and the expansion of pass 1. The first
        request of a run took 3-4x its warm latency on a 4-core host,
        and the first polygon tag and expansion about 2.5x; the
        expansion's country zone also warms the country kinds.
        """
        return self.passes(1)[1:3]

    def overhead_requests(self) -> list[Request]:
        """The traced run's paired requests, which also give the layers:
        the timed pass."""
        return self.passes(0)

    def probe_requests(self) -> list[Request]:
        """The requests the traced run probes: the polygon tag, on the
        repeated input (resolution and spatial counts), and the
        expansion; the country kinds reach no other layer."""
        return self.passes(0)[1:3]

    def _engine(self) -> OccurrenceEngine:
        provider = ParquetSnapshotProvider(
            self.spark, f"{self.inputs}/taxonomy", f"{self.inputs}/occurrence"
        )
        return OccurrenceEngine(provider.taxonomy(), provider.occurrences())

    def run(self, req: Request, idx: int, tracer) -> None:
        cfg, tag_mode = gbif_config(req.kind, req.params["polygon"])
        out_dir = f"{self.out}/{idx}"
        with tracer.span("io.csv_read"):
            taxa = read_taxa_csv(
                self.spark, f"{self.inputs}/{req.params['taxa']}",
                sep=cfg.sep, role_columns=ROLE_COLUMNS,
            )
        with tracer.span("engine.build"):
            out = self._engine().run_filter(taxa, cfg, tag_mode=tag_mode)
        with tracer.span("engine.exec"):
            write_csv(out, out_dir, sep=cfg.sep)
        self.written.append((req, out_dir))

    def probe(self, req: Request, tracer) -> dict[str, float]:
        """Traced run only: force each pipeline prefix of ``req`` on its
        own (Spark is lazy) and count what each layer did."""
        cfg, tag_mode = gbif_config(req.kind, req.params["polygon"])
        spark = self.spark
        engine = self._engine()
        taxa = read_taxa_csv(
            spark, f"{self.inputs}/{req.params['taxa']}",
            sep=cfg.sep, role_columns=ROLE_COLUMNS,
        ).localCheckpoint(eager=True)
        c: dict[str, float] = {}
        with tracer.span("resolution.exec"):
            noop(resolve_names(taxa, engine.taxonomy, cfg))
        resolved = resolve_names(taxa, engine.taxonomy, cfg).localCheckpoint(eager=True)
        with tracer.span("spatial.exec"):
            noop(zone_filter(engine.occurrence, cfg.zone))
        zone_occ = zone_filter(engine.occurrence, cfg.zone).localCheckpoint(eager=True)
        with tracer.span("tagging.exec"):
            noop(tag_existence(resolved, zone_occ))
        tagged = tag_existence(resolved, zone_occ).localCheckpoint(eager=True)
        if cfg.resolve_to_rank:
            eligible = (
                F.col(RANK_COL).isin("FAMILY", "GENUS")
                & (F.col(RANK_COL) != cfg.resolve_to_rank)
                & F.col(TAG_COL).eqNullSafe(F.lit(True))
            )
            parents = (
                tagged.filter(eligible).select(F.col(KEY_COL).alias("parent"))
                .distinct().localCheckpoint(eager=True)
            )
            keys = occurrence_keys(zone_occ).localCheckpoint(eager=True)
            arrays = expand_children(
                engine.taxonomy, parents, cfg.resolve_to_rank,
                zone_occurrence_keys=keys, habitat=cfg.habitat,
            )
            with tracer.span("expansion.exec"):
                noop(arrays)
            c["expansion.parents"] = parents.count()
            c["expansion.children"] = (
                arrays.select(F.sum(F.size("resolved_ids"))).first()[0] or 0
            )
        out = engine.run_filter(taxa, cfg, tag_mode=tag_mode).localCheckpoint(eager=True)
        with tracer.span("io.csv_write"):
            write_csv(out, f"{self.out}/probe")
        # Counts, outside every layer span.
        tax = engine.taxonomy.select(
            F.col("key").alias("_k"), F.lower("canonical_name").alias("_cn")
        )
        res = count_where(
            resolved.join(tax, resolved[KEY_COL] == tax["_k"], "left"),
            exact=F.col(KEY_COL).isNotNull() & (F.lower("name") == F.col("_cn")),
            synonym=F.col(KEY_COL).isNotNull() & (F.lower("name") != F.col("_cn")),
            unresolved=F.col(KEY_COL).isNull(),
        )
        c["resolution.exact"] = res["exact"]
        c["resolution.synonym"] = res["synonym"]
        c["resolution.unresolved"] = res["unresolved"]
        c["resolution.distinct_ratio"] = (
            taxa.select(*ROLE_COLUMNS).distinct().count() / res["rows"]
        )
        tag = count_where(tagged, true=F.col(TAG_COL).eqNullSafe(F.lit(True)))
        c["tagging.true_frac"] = tag["true"] / tag["rows"]
        c["tagging.zone_keys"] = occurrence_keys(zone_occ).count()
        if isinstance(cfg.zone, Polygon):
            min_lon, min_lat, max_lon, max_lat = cfg.zone.bbox()
            occ = engine.occurrence
            scanned = occ.count()
            bbox = occ.filter(
                F.col("decimal_lon").between(min_lon, max_lon)
                & F.col("decimal_lat").between(min_lat, max_lat)
            ).count()
            inside = zone_occ.count()
            c["spatial.rows_scanned"] = scanned
            c["spatial.python_rows"] = bbox
            c["spatial.bbox_pass_frac"] = bbox / scanned
            c["spatial.udf_pass_frac"] = inside / bbox if bbox else 0.0
        shutil.rmtree(f"{self.out}/probe", ignore_errors=True)
        return c

    def verify(self) -> int:
        """Check every written output against the DuckDB twin; returns
        the number of mismatching requests."""
        if self.twin is None:
            self.twin = GbifTwin(f"{self.inputs}/taxonomy", f"{self.inputs}/occurrence")
        bad = 0
        for req, out_dir in self.written:
            if req.key not in self.expected:
                cfg, tag_mode = gbif_config(req.kind, req.params["polygon"])
                self.expected[req.key] = self.twin.expected(
                    f"{self.inputs}/{req.params['taxa']}", cfg, tag_mode
                )
            got = self.twin.written(out_dir)
            if got != self.expected[req.key]:
                print(f"mismatch {req.key}: {got} != {self.expected[req.key]}",
                      file=sys.stderr)
                bad += 1
            shutil.rmtree(out_dir, ignore_errors=True)
        self.written.clear()
        return bad

    def close(self) -> None:
        if self.twin is not None:
            self.twin.close()


# ---------------------------------------------------------------------------
# registry workloads
# ---------------------------------------------------------------------------

#: The timed pass: one query per operator module, the module its
#: builder calls into. Similarity and dedup are measured through
#: single-pass queries: their iterative ones, ``kmeans_clusters`` and
#: ``minhash_pairs``, took 7-8 s each cold against about 1 s, and runs
#: are kept short.
QUERY_MODULE = {
    "pagerank": "graph", "bpe_learn": "bpe", "near_dup_exact": "similarity",
    "dedup_keep_best": "dedup", "percentiles": "profile",
    "tfidf_top_terms": "corpus", "fuzzy_name_match": "fuzzy",
}
REGISTRY_PASS = list(QUERY_MODULE)
#: Warm-up: a query outside the pass that reads a table, aggregates
#: and runs a ``mapInPandas`` over NumPy, so every timed query runs for
#: the first time in a JVM that has already run SQL and with Python
#: workers already started. After a plain-DataFrame warm-up alone,
#: ``near_dup_exact``, the pass's first ``mapInPandas`` query, took
#: 2.3-3.5 s from run to run against 0.9-1.2 s after this one, and it
#: set the pass's median.
REGISTRY_WARMUP = ["uniformity"]
#: Queries the traced run executes a second time, with and without spans.
OVERHEAD_QUERIES = ["near_dup_exact", "dedup_keep_best", "fuzzy_name_match"]


class Registry:
    """Queries of ``__spark_entry__.queries()`` over a seeded sf0.1
    corpus. A request builds the query and collects its rows; after the
    timed region every collected result is compared with the query's
    ``oracle_sql()`` in DuckDB (row count, columns and the
    order-insensitive value hash of tools/check_correctness.py)."""

    name = "registry"
    first_pass_cold = True

    def __init__(self, spark, work: str, seed: int) -> None:
        import __spark_entry__

        self.spark = spark
        self.seed = seed
        self.corpus = f"{work}/corpus"
        registry = __spark_entry__.queries()
        self.builders = {q: registry[q] for q in REGISTRY_PASS + REGISTRY_WARMUP}
        self.oracles = __spark_entry__.oracle_sql()
        self.results: list[tuple[str, object]] = []
        self.expected: dict[str, tuple] = {}

    def setup(self, tracer) -> None:
        with tracer.span("io.corpus_write"):
            gen_corpus.write_corpus(self.seed, self.corpus)

    def warmup_requests(self) -> list[Request]:
        return [Request(q, q) for q in REGISTRY_WARMUP]

    def passes(self, i: int) -> list[Request]:
        return [Request(q, q) for q in REGISTRY_PASS]

    def overhead_requests(self) -> list[Request]:
        """The traced run's paired requests: second executions of the
        three quickest queries."""
        return [Request(q, q) for q in OVERHEAD_QUERIES]

    def probe_requests(self) -> list[Request]:
        """Registry layers are split by their spans alone."""
        return []

    def run(self, req: Request, idx: int, tracer) -> None:
        with tracer.span(f"entry.build/{req.kind}"):
            df = self.builders[req.kind](self.spark, self.corpus)
        with tracer.span(f"entry.exec/{req.kind}"):
            rows = df.toPandas()
        self.results.append((req.kind, rows))

    def verify(self) -> int:
        from tools.check_correctness import TABLES, canon, value_hash

        con = connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus}/{t}.parquet'")
        bad = 0
        try:
            for q, got in self.results:
                if q not in self.expected:
                    want = con.execute(self.oracles[q]).fetchdf()
                    self.expected[q] = (
                        len(want), sorted(want.columns), value_hash(canon(want))
                    )
                have = (len(got), sorted(got.columns), value_hash(canon(got)))
                if have != self.expected[q]:
                    print(f"oracle mismatch: {q}", file=sys.stderr)
                    bad += 1
        finally:
            con.close()
        self.results.clear()
        return bad

    def close(self) -> None:
        pass


def make_workload(name: str, spark, work: str, seed: int):
    os.makedirs(work, exist_ok=True)
    if name == "gbif_filter":
        return GbifFilter(spark, work, seed)
    if name == "registry":
        return Registry(spark, work, seed)
    raise ValueError(f"unknown workload {name!r}")
