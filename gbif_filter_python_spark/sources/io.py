"""CSV/Parquet sources and the CSV sink.

Reference contracts:
* scan — configurable separator, role columns forced to string
  (``pd.read_csv(path, sep=cfg.sep, dtype={col: "object"})``,
  /root/reference/apply_gbif_filter.py:102-104). Only *typing* was
  pruned there; pandas still read every column. Spark prunes I/O for
  real via Catalyst column pruning once a ``select`` narrows the plan.
* sink — same separator as input, nulls written as ``"NA"``, no index
  (``df.to_csv(out, sep=cfg.sep, na_rep="NA", index=False)``,
  apply_gbif_filter.py:187,192). Array columns serialize as JSON-style
  strings — a documented difference from pandas' ``str(list)`` repr
  (SURVEY.md §2-H); Parquet output keeps native arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORPUS_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_taxa_csv(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    role_columns: list[str] | None = None,
) -> DataFrame:
    """op 1+2: header CSV scan; role columns cast to string explicitly
    (the reference deliberately disables inference for them)."""
    df = (
        spark.read.option("sep", sep)
        .option("header", True)
        .option("inferSchema", True)
        .option("quote", '"')
        .option("escape", '"')
        # pandas' default na_values treats "NA" as null
        # (apply_gbif_filter.py relies on pd.isna for role guards);
        # match it so sink/scan round-trip.
        .option("nullValue", "NA")
        .csv(path)
    )
    for c in role_columns or []:
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast("string"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-corpus table, normalizing physical quirks.

    ``events.ts`` has shipped in two physical flavors across corpus
    generations: parquet TIMESTAMP(NANOS) — which Spark 4 rejects
    ([PARQUET_TYPE_ILLEGAL]), so we read nanos as long
    (``spark.sql.legacy.parquet.nanosAsLong``) and convert exactly with
    integer division (``ts DIV 1000`` then timestamp_micros; a
    double-typed division would lose precision above 2^53 ns) — and
    tz-naive TIMESTAMP(MICROS), which Spark 4 infers as TIMESTAMP_NTZ.
    Both normalize to TIMESTAMP (ltz): watermarks/windows on streams
    require it, and with the session pinned to UTC the wall-clock
    values are unchanged (identical to DuckDB's naive reading).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_corpus(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver corpus tables (TESTDATA.md) as DataFrames."""
    return {t: read_table(spark, sf_dir, t) for t in CORPUS_TABLES}


def write_csv(
    df: DataFrame,
    path: str,
    sep: str = ",",
    single_file: bool = True,
) -> None:
    """op 3: CSV sink with NA fill and delimiter parity.

    ``single_file`` coalesces to one partition for small edge outputs
    (parity with the reference's one-file contract); large outputs
    should keep it False and write partitioned.

    List cells are written as JSON arrays (``'["Euglypha rotunda"]'``,
    parseable by every downstream engine). The reference's pandas
    ``to_csv`` writes them as Python ``repr`` instead (SURVEY.md
    §2-H); :func:`write_csv_pandas_parity` reproduces that for golden
    diffs.
    """
    out = df
    # CSV cannot hold arrays — serialize them (SURVEY.md §2-H).
    for field in df.schema.fields:
        if field.dataType.typeName() == "array":
            out = out.withColumn(field.name, F.to_json(F.col(field.name)))
    if single_file:
        out = out.coalesce(1)
    (
        out.write.mode("overwrite")
        .option("sep", sep)
        .option("header", True)
        .option("nullValue", "NA")
        .option("emptyValue", "")
        .csv(path)
    )


def write_csv_pandas_parity(
    df: DataFrame,
    path: str,
    sep: str = ",",
    na_rep: str = "NA",
    max_rows: int = 1_000_000,
) -> None:
    """Byte-parity CSV sink: render EXACTLY what the reference's
    ``df.to_csv(out, sep=..., na_rep=..., index=False)``
    (apply_gbif_filter.py:187,192) would write, by letting pandas do
    the final rendering on the driver.

    This exists for golden-diff compatibility with pandas-produced
    artifacts (e.g. /root/reference/test/filtered.csv): pandas
    re-renders every inferred numeric on the round-trip (``'5989'`` in
    a float column becomes ``'5989.0'``, ``'0.949494949495'`` becomes
    the float64 shortest repr ``'0.9494949494949999'``), which a
    distributed JVM-side writer can't reproduce cell-for-cell.
    ``toPandas`` mirrors the same promotions (nullable ints → float64,
    nullable bools → object), so writing the collected frame with
    ``to_csv`` IS the reference pipeline's serialization.

    DRIVER-SIDE BY DESIGN — guarded by ``max_rows`` (checked with one
    distributed count, cheap next to the collect it prevents). The
    scale path is :func:`write_csv`; this is the single-file
    edge-export/golden-test shim. Writes one FILE at ``path`` (pandas
    semantics), not a Spark output directory. List cells serialize as
    Python ``repr`` of a list of strings — what pandas does to list
    objects (SURVEY.md §2-H)."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"write_csv_pandas_parity is a driver-side golden-diff "
            f"shim; got {n} rows > max_rows={max_rows} — use write_csv "
            "for distributed output"
        )
    pdf = df.toPandas()
    for field in df.schema.fields:
        if field.dataType.typeName() == "array":
            pdf[field.name] = pdf[field.name].map(
                lambda v: v
                if v is None
                else repr([x if x is None else str(x) for x in v])
            )
    pdf.to_csv(path, sep=sep, na_rep=na_rep, index=False)


def write_jsonl(df: DataFrame, path: str, single_file: bool = False) -> None:
    """JSON-lines sink — the interchange format of most LLM-corpus
    tooling. Arrays and structs serialize natively (no CSV-style
    to_json flattening); timestamps are ISO-8601; nulls are omitted
    per JSON convention. Partitioned by default — a 100 TB corpus
    writes one file per task; ``single_file`` exists only for small
    edge exports."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("ignoreNullFields", False).json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source with an explicit schema (recommended: schema
    inference on JSON costs a full extra pass over the data, which at
    100 TB is a second scan). Without ``schema``, inference is
    accepted for small inputs."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink — the columnar interchange format of the Hive/Trino
    world (a reference user exporting to a Hive warehouse needs it).
    Same pushdown/pruning properties as parquet under Spark's native
    vectorized ORC reader; snappy-compressed by default. Partitioned
    directories when ``partition_by`` is given — the same
    partition-pruning layout write_occurrence_snapshot uses for
    parquet."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC source; explicit schema skips footer-sampling on wide
    directories (cheap for ORC, but still one listing+read round)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_occurrence_snapshot(
    df: DataFrame,
    path: str,
    partition_col: str = "country",
    sort_col: str = "taxon_key",
) -> None:
    """Write the occurrence fact in its 100 TB layout (SURVEY.md §4.3).

    Hive-partitioned by ``country`` so the zone predicate (SURVEY op
    16) prunes whole directories, and sorted WITHIN files by
    ``taxon_key`` so parquet row-group min/max statistics prune the
    existence-probe key lookups. (Spark's ``bucketBy`` requires a
    table catalog; partition + in-file sort delivers the same pruning
    for path-based parquet, and a Delta/Iceberg table would add true
    bucketing on top.)
    """
    (
        df.repartition(F.col(partition_col))
        .sortWithinPartitions(partition_col, sort_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


def read_occurrence_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned occurrence snapshot (partition discovery on)."""
    return spark.read.parquet(path)


def write_spatial_snapshot(
    df: DataFrame,
    path: str,
    partition_col: str = "country",
    lon_col: str = "decimal_lon",
    lat_col: str = "decimal_lat",
) -> None:
    """Occurrence layout optimized for SPATIAL (bbox/polygon) queries:
    partitioned by country, Z-order-sorted within files.

    :func:`write_occurrence_snapshot` sorts by ``taxon_key`` (tuned for
    the existence probe); this variant sorts by the Morton code of
    (lon, lat) so both coordinate columns cluster simultaneously and
    parquet row-group min/max statistics prune bbox scans — the
    polygon prefilter's scan cost then scales with the query area, not
    the table (tests/test_plans.py quantifies the row-group pruning
    difference vs an unclustered layout).
    """
    from gbif_filter_python_spark.operators.spatial import morton_code

    (
        df.withColumn("_z", morton_code(F.col(lon_col), F.col(lat_col)))
        .repartition(F.col(partition_col))
        .sortWithinPartitions(partition_col, "_z")
        .drop("_z")
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    order_col: str = "doc_id",
) -> None:
    """Write a corpus as ``n_shards`` globally-ordered parquet shards.

    Tokenizer/packing runs want shards whose KEY RANGES are disjoint
    and whose rows are sorted, so shard k can be processed (and
    resumed) independently while the global order stays deterministic:
    ``repartitionByRange`` range-partitions on ``order_col`` (one
    sampling pass + one range-exchange — Spark's sort machinery, no
    driver involvement), then an in-shard sort. Downstream readers get
    per-file min/max parquet stats on the order column for free, so
    key-range scans prune whole shards.
    """
    (
        df.repartitionByRange(n_shards, F.col(order_col))
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Catalog-managed bucketed parquet table for CO-LOCATED joins.

    Two tables bucketed on their join key with the same bucket count
    hash-partition identically at WRITE time, so a join between them
    needs NO shuffle at read time — at 100 TB the single biggest join
    cost simply disappears for every downstream query against the same
    key (the classic fact/fact pre-bucketing play; an asserted plan
    test proves the Exchange-free SortMergeJoin). ``sort_cols`` adds
    in-bucket ordering so the merge side skips its sort too.

    Spark's native bucketing needs the session catalog (``saveAsTable``),
    not a bare path — path-based snapshots get the partition+sort layout
    of :func:`write_occurrence_snapshot` instead.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, bucket_col)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_mb: int = 256,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ~``target_file_mb`` files, returning the output file count.

    The petabyte-lake maintenance op the reference's CSV world never
    needs: streaming sinks and fine-grained partition writes leave
    thousands of KB-sized files, and at scan time every file costs a task
    plus a NameNode/listing round-trip — a 100 TB table fragmented
    into 1 MB files is unreadable in practice. Sizing comes from the
    Hadoop FileSystem API (content summary of the input), not a
    driver-side listing loop; the rewrite is one ``repartition(n)``
    (round-robin — even output sizes) plus an optional
    ``sortWithinPartitions`` so downstream min/max row-group pruning
    survives compaction.

    ``out_path`` must be disjoint from ``in_path``: Spark's scan is
    lazy, so ``mode("overwrite")`` onto the source location would
    delete the input files mid-read and silently lose data. The
    natural in-place call is therefore rejected up front — compact to
    a sibling directory and rename.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(in_path)
    fs = hpath.getFileSystem(conf)
    # Qualify both paths against the filesystem so "data", "./data/"
    # and "file:/cwd/data" all compare equal before the overlap check.
    q_in = str(fs.makeQualified(hpath))
    q_out = str(fs.makeQualified(jvm.org.apache.hadoop.fs.Path(out_path)))
    if (
        q_in == q_out
        or q_out.startswith(q_in.rstrip("/") + "/")
        or q_in.startswith(q_out.rstrip("/") + "/")
    ):
        raise ValueError(
            f"compact_parquet: out_path {q_out!r} overlaps in_path "
            f"{q_in!r}; overwrite of a lazily-read source deletes it "
            "mid-scan. Write to a disjoint directory, then rename."
        )
    total_bytes = fs.getContentSummary(hpath).getLength()
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(in_path).repartition(int(n_files))
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    df.write.mode("overwrite").parquet(out_path)
    out = fs.listStatus(jvm.org.apache.hadoop.fs.Path(out_path))
    return sum(
        1
        for st in out
        if st.getPath().getName().endswith(".parquet")
    )
