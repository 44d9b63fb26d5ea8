"""Command-line entry point — drop-in workflow parity with the
reference CLI (/root/reference/apply_gbif_filter.py:80-93):

    python -m gbif_filter_python_spark.cli [--tag] CONFIG INPUT OUTPUT

Same positional arguments and ``--tag`` flag; the one necessary
difference is that resolution/existence run against parquet snapshots
(configured via ``taxonomy_path`` / ``occurrence_path`` config keys)
instead of the live GBIF REST API — the engine is offline-first.
"""

from __future__ import annotations

import argparse
import logging
import sys

import yaml
from pyspark.sql import Observation, SparkSession

from gbif_filter_python_spark.config import ConfigError, FilterConfig
from gbif_filter_python_spark.engine import OccurrenceEngine
from gbif_filter_python_spark.session import get_spark
from gbif_filter_python_spark.sources.io import read_taxa_csv, write_csv
from gbif_filter_python_spark.sources.providers import ParquetSnapshotProvider

logger = logging.getLogger("gbif_filter_python_spark")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="gbif-filter-spark",
        description=(
            "Filter/tag a taxa table by GBIF occurrence existence in a "
            "spatial zone (Spark-native reimplementation)"
        ),
    )
    # Mirrors apply_gbif_filter.py:80-93: CONFIG, INPUT, OUTPUT, --tag.
    p.add_argument("config", help="YAML config file")
    p.add_argument("input", help="input CSV path")
    p.add_argument("output", help="output CSV path (directory)")
    p.add_argument(
        "--tag",
        action="store_true",
        help="tag mode: keep all rows, append gbif_filter_tag "
        "(default filters to tag==True rows)",
    )
    p.add_argument(
        "--log-config",
        default=None,
        help="optional logging dictConfig JSON file (reference parity: "
        "apply_gbif_filter.py setup_logging / logging.json; also read "
        "from $LOG_CFG); default is basicConfig at INFO",
    )
    p.add_argument(
        "--pandas-parity-output",
        action="store_true",
        help="write OUTPUT as one file rendered exactly like the "
        "reference's pandas to_csv (driver-side, row-order preserving, "
        "bounded; for golden diffs against pandas-produced artifacts — "
        "the scale path is the default distributed writer)",
    )
    p.add_argument(
        "--na-rep",
        default="NA",
        help="null fill for --pandas-parity-output (default NA, the "
        "reference's na_rep; its committed test/filtered.csv predates "
        "that and used pandas' default empty string)",
    )
    return p


def setup_logging(
    path: str | None = None, default_level: int = logging.INFO
) -> None:
    """Reference-parity logging setup
    (/root/reference/apply_gbif_filter.py:15-29, logging.json): load a
    ``logging.config.dictConfig`` JSON from ``path`` or the
    ``$LOG_CFG`` env var; fall back to ``basicConfig`` when neither
    names an existing file — byte-for-byte the reference's precedence
    (explicit arg < env override there; here the CLI flag wins because
    an explicit flag is the more deliberate signal)."""
    import json
    import logging.config
    import os

    candidate = path or os.getenv("LOG_CFG")
    if candidate and os.path.exists(candidate):
        with open(candidate) as f:
            logging.config.dictConfig(json.load(f))
    else:
        logging.basicConfig(level=default_level)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    setup_logging(args.log_config)
    with open(args.config) as f:
        raw = yaml.safe_load(f)
    try:
        cfg = FilterConfig.from_dict(raw)
    except ConfigError as e:
        logger.error("invalid config: %s", e)
        return 2
    # The snapshot paths are engine keys the dataclass does not model.
    if not raw.get("taxonomy_path") or not raw.get("occurrence_path"):
        logger.error(
            "config must set taxonomy_path and occurrence_path "
            "(parquet snapshots; the engine is offline-first)"
        )
        return 2

    # An in-process caller's session keeps its conf: getOrCreate()
    # would re-apply the engine defaults to it.
    spark = SparkSession.getActiveSession() or get_spark("gbif-filter-cli")
    provider = ParquetSnapshotProvider(
        spark, raw["taxonomy_path"], raw["occurrence_path"]
    )
    # Tag counts ride on the output's own job: no extra pass.
    outcome = Observation("gbif_filter_outcome")

    role_cols = [
        c for c in (cfg.name_column, cfg.taxid_column, cfg.rank_column) if c
    ]
    try:
        engine = OccurrenceEngine(provider.taxonomy(), provider.occurrences())
        if args.pandas_parity_output:
            # Golden-diff mode: (a) pandas is case-sensitive about
            # duplicate headers (the reference input carries both `X`
            # and `x`; Spark's case-insensitive reader would rename
            # them), so analysis runs case-sensitive for this job
            # only; (b) pandas preserves input row order, so pin it
            # through the engine's joins with a file-position id
            # (partitions of one CSV file are offset-ordered, so the
            # id is monotone in file order), restore, and render via
            # the driver-side pandas writer.
            from pyspark.sql import functions as F

            from gbif_filter_python_spark.sources.io import (
                write_csv_pandas_parity,
            )

            prev_cs = spark.conf.get("spark.sql.caseSensitive")
            spark.conf.set("spark.sql.caseSensitive", "true")
            try:
                taxa = read_taxa_csv(
                    spark, args.input, sep=cfg.sep, role_columns=role_cols
                )
                taxa = taxa.withColumn(
                    "__row_order", F.monotonically_increasing_id()
                )
                out = engine.run_filter(
                    taxa, cfg, tag_mode=args.tag, observation=outcome
                )
                out = out.orderBy("__row_order").drop("__row_order")
                write_csv_pandas_parity(
                    out, args.output, sep=cfg.sep, na_rep=args.na_rep
                )
            finally:
                spark.conf.set("spark.sql.caseSensitive", prev_cs)
        else:
            taxa = read_taxa_csv(
                spark, args.input, sep=cfg.sep, role_columns=role_cols
            )
            out = engine.run_filter(
                taxa, cfg, tag_mode=args.tag, observation=outcome
            )
            write_csv(out, args.output, sep=cfg.sep)
    except Exception as e:  # surface a one-line error, not a Spark trace
        logger.error("pipeline failed: %s", str(e).splitlines()[0])
        return 1
    counts = outcome.get
    logger.info(
        "wrote %s: %d input rows, tag true %d, false %d, null %d",
        args.output, counts["rows"], counts["tagged_true"],
        counts["tagged_false"], counts["tagged_null"],
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
