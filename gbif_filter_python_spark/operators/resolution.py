"""Name→key resolution against the taxonomy dimension.

SURVEY.md §2 ops 10 (resolution join), 11 (trusted-ID short-circuit),
19 (rank normalization), 23 (distinct-key memoization).

The reference resolves one name per HTTPS GET
(``species.name_backbone(name, rank, kingdom, strict=True)``,
/root/reference/gbif_helper.py:17-19) behind a per-run memo dict
(apply_gbif_filter.py:108,127-133). Here the memo is *structural*:
``distinct()`` on the (name, rank) pairs that need a lookup, resolve
each pair once via a join against the materialized taxonomy dimension,
then join back to all input rows. Catalyst broadcasts the (small)
resolved pair set.

Semantics preserved from the reference (SURVEY.md §2-A):

* exact-match-or-nothing — ``strict=True`` + ``matchType == "EXACT"``
  means only an unambiguous exact canonical-name match resolves; an
  ambiguous name (multiple backbone rows after rank/kingdom scoping)
  yields a null key, as does an unmatched one (gbif_helper.py:20,30-32);
* synonym redirect — synonym rows resolve to ``accepted_key``
  (gbif_helper.py:21-24);
* the resolved rank REPLACES the input rank (gbif_helper.py:25);
* trusted IDs skip resolution entirely (gbif_helper.py:12-13), with
  optional validation the reference left as a TODO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gbif_filter_python_spark.config import FilterConfig
from gbif_filter_python_spark.functions.taxid import is_valid_taxid, parse_taxid
from gbif_filter_python_spark.plans.inspect import fits_broadcast

#: Names of the derived columns this operator appends.
KEY_COL = "gbif_key"
RANK_COL = "gbif_rank"


def _role_columns(taxa: DataFrame, cfg: FilterConfig) -> DataFrame:
    """Normalize role columns to a fixed shape ``(_name, _taxid, _rank)``.

    Rank normalization (op 19): row rank, else scalar config fallback,
    upper-cased (apply_gbif_filter.py:124-125).
    """
    name = (
        F.col(cfg.name_column).cast("string")
        if cfg.name_column
        else F.lit(None).cast("string")
    )
    taxid = (
        F.col(cfg.taxid_column).cast("string")
        if cfg.taxid_column
        else F.lit(None).cast("string")
    )
    rank_src = (
        F.col(cfg.rank_column).cast("string")
        if cfg.rank_column
        else F.lit(None).cast("string")
    )
    rank = F.upper(F.coalesce(rank_src, F.lit(cfg.taxa_rank)))
    return taxa.withColumns({"_name": name, "_taxid": taxid, "_rank": rank})


def _parse_taxid(col):
    """Trusted-ID parse: plain integer string or legacy ``GBIF:<id>``.

    A value with a colon must pass ``functions.taxid.is_valid_taxid``
    (exactly ``DBPREFIX:ID``, prefix ``GBIF``, numeric id), and its key
    is the id that ``parse_taxid`` splits off. Non-numeric,
    wrong-prefix and malformed values (``GBIF:12:34``) yield null (op
    31/32 validation).
    """
    stripped = F.when(
        col.contains(":"), F.when(is_valid_taxid(col), parse_taxid(col)["value"])
    ).otherwise(col)
    # try_cast: ANSI mode (Spark 4 default) would throw on malformed ids;
    # the reference's contract is null-key → tag None (op 18).
    return stripped.try_cast("long")


def resolve_names(
    taxa: DataFrame,
    taxonomy: DataFrame,
    cfg: FilterConfig,
    validate_taxids: bool = False,
) -> DataFrame:
    """Append ``gbif_key`` (nullable long) and ``gbif_rank`` to ``taxa``.

    Plan shape: distinct (name, rank) pairs of the rows that need a
    lookup → left join taxonomy → ambiguity collapse (grouped on the
    distinct's own partitioning, so no second shuffle) → join back on
    the pair, broadcast when the taxa input fits the broadcast
    threshold, so the distinct is the only exchange over the taxa.
    Trusted-taxid and null-role rows never reach the lookup: their key
    and rank are per-row expressions.
    """
    taxa_r = _role_columns(taxa, cfg)

    # op 23: structural memoization — resolve each distinct pair once.
    by_name = (
        taxa_r.filter(F.col("_name").isNotNull() & F.col("_taxid").isNull())
        .select("_name", "_rank")
        .distinct()
    )

    # op 10: exact-match resolution join, kingdom- and rank-scoped.
    dim = taxonomy.select(
        F.lower(F.col("canonical_name")).alias("_dim_name"),
        F.upper(F.col("rank")).alias("_dim_rank"),
        F.upper(F.col("kingdom")).alias("_dim_kingdom"),
        F.when(F.col("is_synonym"), F.col("accepted_key"))
        .otherwise(F.col("key"))
        .alias("_dim_key"),
    )
    if cfg.taxa_kingdom:
        dim = dim.filter(F.col("_dim_kingdom") == cfg.taxa_kingdom.upper())

    cond = F.lower(by_name["_name"]) == dim["_dim_name"]
    # Rank scoping only applies when the input row carries a rank.
    cond = cond & (
        by_name["_rank"].isNull() | (by_name["_rank"] == dim["_dim_rank"])
    )
    # No broadcast hint: the kingdom-scoped dimension slice is usually
    # broadcastable and AQE will pick that at runtime; forcing it would
    # break on a full 7M-row backbone over the 8 GB broadcast limit.
    matched = by_name.join(dim, on=cond, how="left")

    # Exact-match-or-nothing: >1 candidate rows per pair → null key
    # (mirrors matchType != "EXACT" → (None, rank), gbif_helper.py:30-32).
    # _n counts NON-NULL keys, so the picked (key, rank) must also come
    # from a non-null-key row — first() without ignorenulls could
    # nondeterministically return a synonym row whose accepted_key is
    # null even when _n == 1. Key and rank are pulled from the SAME row
    # via a struct so they can't mix across candidate rows. The lookup
    # columns are renamed to break lineage ambiguity with taxa_r (the
    # lookup derives from it).
    kr = F.when(
        F.col("_dim_key").isNotNull(), F.struct("_dim_key", "_dim_rank")
    )
    lookup = (
        matched.groupBy("_name", "_rank")
        .agg(
            F.count("_dim_key").alias("_n"),
            F.first(kr, ignorenulls=True).alias("_kr"),
        )
        .select(
            F.col("_name").alias("_k_name"),
            F.col("_rank").alias("_k_rank"),
            F.when(F.col("_n") == 1, F.col("_kr")["_dim_key"]).alias(
                "_resolved_key"
            ),
            F.when(F.col("_n") == 1, F.col("_kr")["_dim_rank"]).alias(
                "_resolved_rank"
            ),
        )
    )

    # Join resolution back to every by-name row (null-safe on rank).
    # The lookup has at most one row per input row, so the taxa input
    # bounds it. Spark sizes it as the product of the join under it and
    # plans a sort-merge join that shuffles every taxa row before AQE
    # turns it into a broadcast, so hint it whenever that bound fits
    # the broadcast threshold. Past the threshold (names scale with the
    # input) the join stays unhinted and AQE decides at runtime.
    if fits_broadcast(taxa):
        lookup = F.broadcast(lookup)
    out = taxa_r.join(
        lookup,
        on=[
            F.col("_taxid").isNull(),
            F.col("_name") == F.col("_k_name"),
            F.col("_rank").eqNullSafe(F.col("_k_rank")),
        ],
        how="left",
    )

    # op 11: trusted-ID short-circuit for rows that carry a taxid.
    taxid_key = _parse_taxid(F.col("_taxid"))
    if validate_taxids:
        # The TODO at gbif_helper.py:13: check the ID exists in the
        # backbone. Left join against keys; unknown IDs → null.
        keys = taxonomy.select(F.col("key").alias("_valid_key")).distinct()
        out = out.join(F.broadcast(keys), taxid_key == keys["_valid_key"], "left")
        taxid_key = F.col("_valid_key")
    from gbif_filter_python_spark.operators.tagging import quoted

    # passthrough columns quoted literally: the reference's own input
    # (test/motu_table_sample.csv) has dotted names like
    # best_identity.Euka02.DB that bare F.col would parse as struct
    # field paths
    return out.select(
        *[quoted(c) for c in taxa.columns],
        F.when(F.col("_taxid").isNotNull(), taxid_key)
        .otherwise(F.col("_resolved_key"))
        .alias(KEY_COL),
        # Resolved rank replaces input rank (gbif_helper.py:25); rows
        # without a unique match (taxid, null-role, ambiguous,
        # unmatched) keep the input rank.
        F.coalesce(F.col("_resolved_rank"), F.col("_rank")).alias(RANK_COL),
    )


def longest_prefix_match(
    facts: DataFrame,
    rules: DataFrame,
    key_col: str,
    prefix_col: str = "prefix",
    rule_cols: list[str] | None = None,
    method: str = "map",
    max_map_rules: int = 100_000,
) -> DataFrame:
    """Longest-prefix rule lookup: attach to every fact row the rule
    whose ``prefix`` is the LONGEST prefix of ``key_col`` (URL/path
    policy tables, domain allowlists, IP-prefix-style routing — the
    lookup where an exact-match join is wrong because rules nest:
    '/data/raw/' and '/data/' both match '/data/raw/x' and only the
    longest may win). Non-matching rows keep NULL rule columns.
    Prefixes must be unique in ``rules`` (nested is fine, duplicate
    is a config error → ValueError).

    Two scale shapes, chosen by ``method``:

    * ``"map"`` (default): rules are a CONFIG-scale table, so embed
      them as a literal map and resolve with ONE pure-Column
      ``coalesce(map[substr(key, 1, L)] for L in lengths desc)`` —
      zero shuffle, zero explode, whole-stage codegen, the fact is
      scanned once and never moves. The distinct prefix LENGTHS
      (driver-side, bounded by max prefix length) set the probe
      count. Guarded by ``max_map_rules`` — a rule table past that
      belongs in the join path.
    * ``"join"``: per-row candidate prefixes (one per distinct
      length) explode, equi-join the BROADCAST rules, and a
      max-length ``row_number`` keeps the winner; the regroup
      shuffles only (row key, rule, length) triples. For rule tables
      too big to literal-encode but still broadcastable.

    Reference parity note: the reference's lookup is exact-match
    name resolution (gbif_helper.py:17-24 name_backbone EXACT); this
    is the ordered generalization of that lookup for hierarchical
    keys, absent in the reference.
    """
    if method not in ("map", "join"):
        raise ValueError(f"method must be map|join, got {method!r}")
    rule_cols = rule_cols or [
        c for c in rules.columns if c != prefix_col
    ]
    rrows = None
    if method == "map":
        rrows = rules.select(prefix_col, *rule_cols).collect()
        if len(rrows) > max_map_rules:
            raise ValueError(
                f"{len(rrows)} rules exceed max_map_rules="
                f"{max_map_rules}; use method='join'"
            )
        prefixes = [r[prefix_col] for r in rrows]
    else:
        # The dup check must run BEFORE distinct() collapses repeats —
        # a set-vs-list length compare over distinct prefixes can never
        # fire (ADVICE r4). One grouped count over the (broadcastable)
        # rule table finds duplicates distributedly.
        pref_counts = (
            rules.groupBy(prefix_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        dups = sorted(r[prefix_col] for r in pref_counts if r["_n"] > 1)
        if dups:
            raise ValueError(
                f"duplicate prefixes in rule table: {dups[:5]}"
            )
        prefixes = [r[prefix_col] for r in pref_counts]
    if len(set(prefixes)) != len(prefixes):
        raise ValueError("duplicate prefixes in rule table")
    lengths = sorted({len(p) for p in prefixes}, reverse=True)
    if method == "map":
        out = facts
        for rc in rule_cols:
            m = F.create_map(
                *[
                    x
                    for r in rrows
                    for x in (F.lit(r[prefix_col]), F.lit(r[rc]))
                ]
            )
            out = out.withColumn(
                rc,
                F.coalesce(
                    *[
                        m[F.substring(F.col(key_col), 1, L)]
                        for L in lengths
                    ]
                )
                if lengths
                else F.lit(None),
            )
        return out
    from pyspark.sql import Window

    fact_cols = facts.columns
    with_id = facts.withColumn(
        "_rowid", F.monotonically_increasing_id()
    )
    cand = with_id.select(
        "_rowid",
        F.explode(
            F.array(
                *[F.substring(F.col(key_col), 1, L) for L in lengths]
            )
        ).alias("_cand"),
    )
    matched = cand.join(
        F.broadcast(
            rules.select(
                F.col(prefix_col).alias("_cand"),
                F.length(prefix_col).alias("_plen"),
                *rule_cols,
            )
        ),
        "_cand",
    )
    w = Window.partitionBy("_rowid").orderBy(F.desc("_plen"))
    best = (
        matched.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("_rowid", *rule_cols)
    )
    return with_id.join(best, "_rowid", "left").select(
        *fact_cols, *rule_cols
    )
