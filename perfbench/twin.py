"""DuckDB twin of ``OccurrenceEngine.run_filter`` + ``write_csv``.

Given the same snapshot files and taxa CSV, :meth:`GbifTwin.expected`
computes, in SQL, every row the engine's CSV sink must write, rendered
as the sink renders it (``NA`` nulls, ``true``/``false`` tags, JSON
arrays). :meth:`GbifTwin.written` reduces an output directory to the same
order-insensitive (row count, hash sum) digest, so outputs are
checked without sorting either side.

Semantics replayed: exact-match-or-nothing name resolution scoped by
kingdom and rank, synonym redirect, ternary tag, country or polygon
zone (bbox prefilter + even-odd ray casting with the engine's
floating-point operation order), GENUS/FAMILY → target-rank expansion
of parents that occur in the zone, filter mode.
"""

from __future__ import annotations

import csv
import glob
import os
import tempfile

import duckdb

from gbif_filter_python_spark.config import Country, FilterConfig, Polygon
from gbif_filter_python_spark.schemas import BACKBONE_DATASET_KEY


def _pip_sql(polygon: Polygon) -> str:
    """Even-odd point-in-polygon over all rings, as one SQL predicate.
    Each edge term mirrors operators/spatial.py's ``_point_in_ring``:
    ``(x2 - x1) * (lat - y1) / (y2 - y1) + x1``."""
    terms = []
    for ring in polygon.rings():
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            if y1 == y2:
                continue
            terms.append(
                f"(CASE WHEN ({y1!r} > decimal_lat) != ({y2!r} > decimal_lat) "
                f"AND decimal_lon < ({(x2 - x1)!r} * (decimal_lat - {y1!r})) "
                f"/ {(y2 - y1)!r} + {x1!r} THEN 1 ELSE 0 END)"
            )
    min_lon, min_lat, max_lon, max_lat = polygon.bbox()
    return (
        f"decimal_lon BETWEEN {min_lon!r} AND {max_lon!r} "
        f"AND decimal_lat BETWEEN {min_lat!r} AND {max_lat!r} "
        f"AND ({' + '.join(terms)}) % 2 = 1"
    )


def connect() -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB on every core (Spark is idle while outputs are
    checked), spilling under ``TMPDIR``."""
    return duckdb.connect(config={
        "threads": len(os.sched_getaffinity(0)),
        "temp_directory": tempfile.gettempdir(),
    })


def zone_sql(zone) -> str:
    if zone is None:
        return "TRUE"
    if isinstance(zone, Country):
        return f"country = '{zone.code}'"
    return _pip_sql(zone)


class GbifTwin:
    """SQL twin over one snapshot (taxonomy parquet + partitioned
    occurrence parquet)."""

    def __init__(self, taxonomy_path: str, occurrence_path: str) -> None:
        self.con = connect()
        self.con.execute(
            f"CREATE VIEW taxonomy AS SELECT * FROM read_parquet('{taxonomy_path}/*.parquet')"
        )
        self.con.execute(
            "CREATE VIEW occurrence AS SELECT * FROM read_parquet("
            f"'{occurrence_path}/*/*.parquet', hive_partitioning = true)"
        )

    def close(self) -> None:
        self.con.close()

    def _taxa(self, csv_dir: str) -> str:
        return (
            f"read_csv('{csv_dir}/*.csv', header = true, delim = ',', all_varchar = true, "
            "nullstr = 'NA', quote = '\"', escape = '\"')"
        )

    def expected_sql(self, csv_dir: str, cfg: FilterConfig, tag_mode: bool) -> str:
        """SQL for the rows ``write_csv(run_filter(...))`` writes, every
        column a VARCHAR as the sink renders it."""
        cols = [
            r[0] for r in self.con.execute(
                f"DESCRIBE SELECT * FROM {self._taxa(csv_dir)}"
            ).fetchall()
        ]
        name = f'"{cfg.name_column}"'
        fallback = f"'{cfg.taxa_rank}'" if cfg.taxa_rank else "NULL"
        rank_col = f'"{cfg.rank_column}"' if cfg.rank_column else "NULL"
        rank = f"upper(coalesce({rank_col}, {fallback}))"
        kingdom = (
            f"WHERE upper(kingdom) = '{cfg.taxa_kingdom.upper()}'" if cfg.taxa_kingdom else ""
        )
        na = lambda c: f"coalesce({c}, 'NA')"  # noqa: E731
        out_cols = [na(f'"{c}"') + f' AS "{c}"' for c in cols]
        if tag_mode:
            out_cols.append(na("CAST(tag AS VARCHAR)") + " AS gbif_filter_tag")
        expand = ""
        if cfg.resolve_to_rank:
            target = cfg.resolve_to_rank
            low = target.lower()
            habitat = f"AND upper(c.habitat) = '{cfg.habitat}'" if cfg.habitat else ""
            expand = f""",
            parents AS (
                SELECT DISTINCT gkey AS parent FROM tagged
                WHERE grank IN ('FAMILY', 'GENUS') AND grank != '{target}' AND tag
            ),
            descend(root, key, rank, name, status, habitat, dataset_key) AS (
                SELECT p.parent, c.key, upper(c.rank), c.canonical_name,
                       c.taxonomic_status, c.habitat, c.dataset_key
                FROM parents p JOIN taxonomy c ON c.parent_key = p.parent
                UNION ALL
                SELECT d.root, c.key, upper(c.rank), c.canonical_name,
                       c.taxonomic_status, c.habitat, c.dataset_key
                FROM descend d JOIN taxonomy c ON c.parent_key = d.key
                WHERE d.rank != '{target}'
            ),
            children AS (
                SELECT root, key, name FROM descend c
                WHERE c.rank = '{target}' AND c.status = 'ACCEPTED'
                  AND c.dataset_key = '{BACKBONE_DATASET_KEY}' {habitat}
                  AND key IN (SELECT taxon_key FROM zone_keys)
            ),
            arrays AS (
                SELECT root,
                    '[' || string_agg('"' || name || '"', ',' ORDER BY name, key) || ']' AS names,
                    '[' || string_agg(CAST(key AS VARCHAR), ',' ORDER BY name, key) || ']' AS ids
                FROM children GROUP BY root
            ),
            final AS (
                SELECT tagged.*, arrays.names, arrays.ids FROM tagged
                LEFT JOIN arrays ON tagged.gkey = arrays.root
                  AND tagged.grank IN ('FAMILY', 'GENUS') AND tagged.grank != '{target}'
                  AND tagged.tag
            )"""
            out_cols.append(na("names") + f" AS gbif_filter_resolved_{low}_names")
            out_cols.append(na("ids") + f" AS gbif_filter_resolved_{low}_ids")
        else:
            expand = ", final AS (SELECT * FROM tagged)"
        where = "" if tag_mode else "WHERE tag IS NOT DISTINCT FROM true"
        return f"""
            WITH RECURSIVE taxa AS (
                SELECT *, {name} AS _name, {rank} AS _rank FROM {self._taxa(csv_dir)}
            ),
            dim AS (
                SELECT lower(canonical_name) AS dn, upper(rank) AS dr,
                       CASE WHEN is_synonym THEN accepted_key ELSE key END AS dkey
                FROM taxonomy {kingdom}
            ),
            tuples AS (SELECT DISTINCT _name, _rank FROM taxa WHERE _name IS NOT NULL),
            candidates AS (
                SELECT t._name, t._rank, dkey, dr FROM tuples t JOIN dim
                  ON lower(t._name) = dn
                WHERE t._rank IS NULL OR t._rank = dr
            ),
            matched AS (
                SELECT _name, _rank, count(dkey) AS n,
                       max(dkey) AS k, max(dr) FILTER (WHERE dkey IS NOT NULL) AS r
                FROM candidates GROUP BY _name, _rank
            ),
            resolved AS (
                SELECT taxa.*,
                    CASE WHEN n = 1 THEN k END AS gkey,
                    CASE WHEN n = 1 THEN r ELSE taxa._rank END AS grank
                FROM taxa LEFT JOIN matched
                  ON taxa._name IS NOT DISTINCT FROM matched._name
                 AND taxa._rank IS NOT DISTINCT FROM matched._rank
            ),
            zone_keys AS (
                SELECT DISTINCT taxon_key FROM occurrence
                WHERE taxon_key IS NOT NULL AND {zone_sql(cfg.zone)}
            ),
            tagged AS (
                SELECT resolved.*,
                    CASE WHEN gkey IS NULL THEN NULL
                         ELSE gkey IN (SELECT taxon_key FROM zone_keys) END AS tag
                FROM resolved
            ){expand}
            SELECT {', '.join(out_cols)} FROM final {where}
        """

    def digest_sql(self, rows_sql: str) -> str:
        return f"SELECT count(*), coalesce(sum(hash(t)), 0) FROM ({rows_sql}) t"

    def expected(self, csv_dir: str, cfg: FilterConfig, tag_mode: bool) -> tuple:
        return self.con.execute(
            self.digest_sql(self.expected_sql(csv_dir, cfg, tag_mode))
        ).fetchone()

    def written(self, out_dir: str) -> tuple:
        """Digest of a ``write_csv`` output directory (nulls kept as the
        literal ``NA`` the sink wrote; Spark's CSV writer escapes quotes
        with a backslash). The header is read here, so DuckDB parses
        every column as text without sniffing."""
        files = sorted(glob.glob(f"{out_dir}/*.csv"))
        with open(files[0], newline="") as f:
            header = next(csv.reader(f))
        columns = ", ".join(f"'{c}': 'VARCHAR'" for c in header)
        return self.con.execute(self.digest_sql(
            f"SELECT * FROM read_csv('{out_dir}/*.csv', header = true, "
            f"auto_detect = false, columns = {{{columns}}}, delim = ',', "
            "quote = '\"', escape = '\\', nullstr = '\x01')"
        )).fetchone()
