"""End-to-end CLI test (reference workflow parity: config + CSV in,
CSV out — /root/reference/apply_gbif_filter.py:80-93,184-192) plus
provider-layer tests."""

from __future__ import annotations

import csv
import glob
import os

import pytest
from pyspark.sql import functions as F

from gbif_filter_python_spark.cli import main as cli_main
from gbif_filter_python_spark.sources.io import (
    read_taxa_csv,
    write_csv,
    write_csv_pandas_parity,
)
from gbif_filter_python_spark.sources.providers import RestBatchProvider
from tests.conftest import (
    NORWAY_ISH_WKT,
    REFERENCE_TEST_DIR,
    requires_reference,
    session_conf,
)


def _read_csv_rows(out_dir: str, sep: str = ";") -> list[dict]:
    files = glob.glob(f"{out_dir}/part-*.csv")
    assert len(files) == 1
    with open(files[0]) as f:
        return list(csv.DictReader(f, delimiter=sep))


@pytest.fixture()
def snapshots(spark, taxonomy, occurrence, tmp_path):
    tax = str(tmp_path / "taxonomy.parquet")
    occ = str(tmp_path / "occurrence.parquet")
    taxonomy.write.mode("overwrite").parquet(tax)
    occurrence.write.mode("overwrite").parquet(occ)
    return tax, occ


def _write_config(tmp_path, tax, occ, **extra) -> str:
    import yaml

    cfg = {
        "name_column": "name",
        "rank_column": "rank",
        "taxa_kingdom": "Animalia",
        "country": "NO",
        "sep": ";",
        "taxonomy_path": tax,
        "occurrence_path": occ,
        **extra,
    }
    path = tmp_path / "config.yml"
    path.write_text(yaml.safe_dump(cfg))
    return str(path)


@pytest.fixture()
def input_csv(tmp_path) -> str:
    path = tmp_path / "input.csv"
    path.write_text(
        "id;name;rank;payload\n"
        "1;Lumbricus terrestris;SPECIES;a\n"
        "2;Eisenia nullius;SPECIES;b\n"
        "3;Unknown thing;SPECIES;c\n"
        "4;;SPECIES;d\n"
    )
    return str(path)


class TestCli:
    def test_tag_mode_end_to_end(self, snapshots, tmp_path, input_csv,
                                 caplog):
        tax, occ = snapshots
        cfg = _write_config(tmp_path, tax, occ)
        out = str(tmp_path / "out_tag")
        with caplog.at_level("INFO", logger="gbif_filter_python_spark"):
            assert cli_main(["--tag", cfg, input_csv, out]) == 0
        # the run's outcome, observed on the write's own job
        assert "4 input rows, tag true 1, false 1, null 2" in caplog.text
        rows = _read_csv_rows(out)
        assert len(rows) == 4
        by_id = {r["id"]: r for r in rows}
        # ternary tag serialized with NA for null (§2-G/H)
        assert by_id["1"]["gbif_filter_tag"] == "true"
        assert by_id["2"]["gbif_filter_tag"] == "false"
        assert by_id["3"]["gbif_filter_tag"] == "NA"
        assert by_id["4"]["gbif_filter_tag"] == "NA"
        # column order contract: input columns then tag
        assert list(rows[0].keys()) == ["id", "name", "rank", "payload",
                                        "gbif_filter_tag"]

    def test_in_process_run_keeps_the_session_conf(
        self, spark, snapshots, tmp_path, input_csv
    ):
        """cli.main reuses the caller's session and leaves its conf
        alone: the engine defaults (adaptive on, one partition per
        core) must not leak into the tests that run after it."""
        tax, occ = snapshots
        cfg = _write_config(tmp_path, tax, occ)
        keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
        with session_conf(spark, 1, False):
            before = {k: spark.conf.get(k) for k in keys}
            assert cli_main([cfg, input_csv, str(tmp_path / "out")]) == 0
            assert {k: spark.conf.get(k) for k in keys} == before

    def test_filter_mode_end_to_end(self, snapshots, tmp_path, input_csv):
        tax, occ = snapshots
        cfg = _write_config(tmp_path, tax, occ)
        out = str(tmp_path / "out_filter")
        assert cli_main([cfg, input_csv, out]) == 0
        rows = _read_csv_rows(out)
        assert [r["id"] for r in rows] == ["1"]
        assert list(rows[0].keys()) == ["id", "name", "rank", "payload"]

    def test_resolve_mode_arrays_serialized(self, snapshots, tmp_path):
        tax, occ = snapshots
        cfg = _write_config(tmp_path, tax, occ, resolve_to_rank="SPECIES")
        inp = tmp_path / "genus.csv"
        inp.write_text("id;name;rank\n1;Lumbricus;GENUS\n")
        out = str(tmp_path / "out_resolve")
        assert cli_main(["--tag", cfg, str(inp), out]) == 0
        rows = _read_csv_rows(out)
        assert rows[0]["gbif_filter_tag"] == "true"
        # arrays serialize as JSON in CSV (documented difference, §2-H)
        assert "Lumbricus terrestris" in rows[0][
            "gbif_filter_resolved_species_names"
        ]

    def test_log_config_dictconfig_applied(self, snapshots, tmp_path,
                                           input_csv):
        """Reference parity (apply_gbif_filter.py:15-29 setup_logging +
        logging.json): --log-config loads a dictConfig JSON; here a
        file handler proves the config took effect end-to-end."""
        import json
        import logging as _logging

        tax, occ = snapshots
        cfg = _write_config(tmp_path, tax, occ)
        log_file = tmp_path / "cli.log"
        log_cfg = tmp_path / "logging.json"
        log_cfg.write_text(json.dumps({
            "version": 1,
            "disable_existing_loggers": False,
            "formatters": {"simple": {
                "format": "%(name)s - %(levelname)s - %(message)s"}},
            "handlers": {"f": {
                "class": "logging.FileHandler",
                "level": "INFO", "formatter": "simple",
                "filename": str(log_file)}},
            "root": {"level": "INFO", "handlers": ["f"]},
        }))
        out = str(tmp_path / "out_logcfg")
        assert cli_main(["--tag", cfg, input_csv, out,
                         "--log-config", str(log_cfg)]) == 0
        text = log_file.read_text()
        assert "gbif_filter_python_spark - INFO - wrote" in text
        # detach the file handler so later tests don't keep writing
        for h in list(_logging.getLogger().handlers):
            _logging.getLogger().removeHandler(h)
            h.close()

    def test_setup_logging_env_var_and_fallback(self, tmp_path,
                                                monkeypatch):
        """$LOG_CFG is honored (reference env_key='LOG_CFG'); a missing
        path falls back to basicConfig without raising."""
        import json

        from gbif_filter_python_spark.cli import setup_logging

        log_cfg = tmp_path / "logging.json"
        captured = tmp_path / "env.log"
        log_cfg.write_text(json.dumps({
            "version": 1, "disable_existing_loggers": False,
            "handlers": {"f": {"class": "logging.FileHandler",
                               "filename": str(captured)}},
            "root": {"level": "INFO", "handlers": ["f"]},
        }))
        monkeypatch.setenv("LOG_CFG", str(log_cfg))
        setup_logging(None)
        import logging as _logging

        _logging.getLogger("x").info("via-env")
        assert "via-env" in captured.read_text()
        for h in list(_logging.getLogger().handlers):
            _logging.getLogger().removeHandler(h)
            h.close()
        monkeypatch.setenv("LOG_CFG", str(tmp_path / "absent.json"))
        setup_logging(None)  # falls back to basicConfig, no raise

    @requires_reference
    def test_reference_golden_file_byte_parity(self, spark, tmp_path):
        """VERDICT r6 item 6 — drive the CLI over the reference's OWN
        103-column test input (/root/reference/test/motu_table_sample.
        csv) with a synthetic snapshot reproducing the live GBIF
        answers its committed golden encodes, and byte-diff our output
        against /root/reference/test/filtered.csv.

        Golden tag facts (filtered.csv): Euglypha/Colpoda/Aspidisca
        True (occurrences in NO), Pseudomonilicaryon/Paraurostyla/
        Hedriocystis/Epicarchesium False (resolvable, no occurrence),
        JBNA46 + the NA/blank genus rows None. na_rep="": the
        committed artifact predates the reference's current
        ``na_rep="NA"`` (its NA input cells round-trip to empty
        strings), so the diff targets pandas' default fill — the
        --na-rep flag exists for exactly this vintage split."""
        import datetime

        from gbif_filter_python_spark.schemas import (
            BACKBONE_DATASET_KEY as BB,
            OCCURRENCE_SCHEMA,
            TAXONOMY_SCHEMA,
        )

        genera = {
            "Euglypha": (8101, True),
            "Colpoda": (8102, True),
            "Aspidisca": (8103, True),
            "Pseudomonilicaryon": (8104, False),
            "Paraurostyla": (8105, False),
            "Hedriocystis": (8106, False),
            "Epicarchesium": (8107, False),
        }
        tax_rows = [
            (key, None, name, "GENUS", "Protozoa", "ACCEPTED", False,
             None, None, BB)
            for name, (key, _have) in genera.items()
        ]
        ts = datetime.datetime(2020, 6, 1, 12, 0, 0)
        occ_rows = [
            (i + 1, key, "GENUS", "NO", 8.0, 60.0, ts)
            for i, (key, have) in enumerate(genera.values())
            if have
        ]
        tax = str(tmp_path / "ref_taxonomy.parquet")
        occ = str(tmp_path / "ref_occurrence.parquet")
        spark.createDataFrame(tax_rows, TAXONOMY_SCHEMA).write.parquet(tax)
        spark.createDataFrame(occ_rows, OCCURRENCE_SCHEMA).write.parquet(occ)

        # the reference's own config shape (test/config.yml: legacy
        # taxa_column/taxa_field keys, tab sep, country NO + polygon —
        # country wins, §2-E), plus our snapshot paths
        import yaml

        cfg_path = tmp_path / "ref_config.yml"
        cfg_path.write_text(yaml.safe_dump({
            "sep": "\t",
            "taxa_column": "genus_silva",
            "taxa_field": "name",
            "country": "NO",
            "geometry": "POLYGON((5 58, 12 58, 12 62, 5 62, 5 58))",
            "taxonomy_path": tax,
            "occurrence_path": occ,
        }))
        out = str(tmp_path / "filtered.csv")
        assert cli_main([
            "--tag", str(cfg_path),
            os.path.join(REFERENCE_TEST_DIR, "motu_table_sample.csv"), out,
            "--pandas-parity-output", "--na-rep", "",
        ]) == 0
        import csv as _csv
        import math
        import struct

        golden = os.path.join(REFERENCE_TEST_DIR, "filtered.csv")
        with open(out) as got_f, open(golden) as want_f:
            got_rows = list(_csv.reader(got_f, delimiter="\t"))
            want_rows = list(_csv.reader(want_f, delimiter="\t"))
        assert len(got_rows) == len(want_rows) == 11

        def ulps_apart(a: float, b: float) -> int:
            pack = lambda v: struct.unpack("<q", struct.pack("<d", v))[0]
            return abs(pack(a) - pack(b))

        legacy_float_cells = 0
        legacy_rows = set()
        for ri, (grow, wrow) in enumerate(zip(got_rows, want_rows)):
            assert len(grow) == len(wrow) == 104
            for ci, (g, w) in enumerate(zip(grow, wrow)):
                if g == w:
                    continue
                # The ONLY tolerated difference: the committed golden
                # was rendered by a pandas whose then-default CSV float
                # parser was the lossy xstrtod ('legacy'
                # float_precision: '0.949494949495' parses to the
                # 1-ulp-off 0.9494949494949999); Spark/modern pandas
                # parse correctly rounded. Assert the mismatch IS that
                # artifact — both floats, ≤ 1 ulp apart — and count it.
                gf, wf = float(g), float(w)
                assert math.isfinite(gf) and ulps_apart(gf, wf) <= 1, (
                    ri, want_rows[0][ci], g, w
                )
                legacy_float_cells += 1
                legacy_rows.add(ri)
        # pinned exactly: 2 cells in the 10×104 grid (both in
        # best_identity.Euka02.DB), everything else byte-identical
        assert legacy_float_cells == 2
        # raw-bytes check (csv.reader would mask quoting/line-ending
        # drift): every line identical except the two artifact rows
        with open(out, "rb") as gf_raw, open(golden, "rb") as wf_raw:
            got_raw = gf_raw.read().split(b"\n")
            want_raw = wf_raw.read().split(b"\n")
        assert len(got_raw) == len(want_raw)
        raw_mismatch = {
            i for i, (g, w) in enumerate(zip(got_raw, want_raw)) if g != w
        }
        assert raw_mismatch == legacy_rows, (raw_mismatch, legacy_rows)

    def test_invalid_config_exit_code(self, tmp_path, input_csv):
        bad = tmp_path / "bad.yml"
        bad.write_text("definitely_not_a_key: x\n")
        assert cli_main(["--tag", str(bad), input_csv, "/tmp/never"]) == 2

    def test_missing_snapshots_exit_code(self, tmp_path, input_csv):
        import yaml

        cfgp = tmp_path / "nosnap.yml"
        cfgp.write_text(yaml.safe_dump({"name_column": "name", "country": "NO"}))
        assert cli_main(["--tag", str(cfgp), input_csv, "/tmp/never"]) == 2


class TestCsvIo:
    def test_roundtrip_na_and_sep(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "a", None), (2, None, 3.5)], "id int, s string, v double"
        )
        out = str(tmp_path / "csv_out")
        write_csv(df, out, sep="\t")
        back = read_taxa_csv(spark, out, sep="\t")
        rows = {r["id"]: r for r in back.collect()}
        assert rows[1]["v"] is None and rows[2]["s"] is None

    def test_legacy_array_format_python_repr_golden(self, spark, tmp_path):
        """§2-H byte parity (VERDICT r5 item 9): the pandas-parity
        writer serializes array cells exactly as the reference's
        pandas to_csv writes list objects — ``"['Euglypha rotunda']"``
        (the reference's test/filtered.csv species_list) — vs
        write_csv's default JSON arrays."""
        df = spark.createDataFrame(
            [(1, ["Euglypha rotunda"]),
             (2, ["Dileptus sp.", "Dileptus mucronatus"]),
             (3, []),
             (4, None)],
            "id int, species_list array<string>",
        )
        out_legacy = str(tmp_path / "legacy.csv")
        write_csv_pandas_parity(df, out_legacy, sep="\t")
        with open(out_legacy) as f:
            rows = {r["id"]: r["species_list"]
                    for r in csv.DictReader(f, delimiter="\t")}
        assert rows["1"] == "['Euglypha rotunda']"
        assert rows["2"] == "['Dileptus sp.', 'Dileptus mucronatus']"
        assert rows["3"] == "[]"
        assert rows["4"] == "NA"
        # default stays JSON (the documented decision)
        out_json = str(tmp_path / "jsonfmt")
        write_csv(df, out_json, sep="\t")
        rows_j = {r["id"]: r["species_list"]
                  for r in _read_csv_rows(out_json, sep="\t")}
        # JSON uses double quotes (exact bytes depend on the CSV
        # writer's quote-escaping, so assert the shape, not the bytes)
        assert rows_j["1"].startswith("[") and '\\' in rows_j["1"] or (
            rows_j["1"] == '["Euglypha rotunda"]'
        )
        assert "Euglypha rotunda" in rows_j["1"] and "'" not in rows_j["1"]

    def test_wide_passthrough_preserves_columns(self, spark, tmp_path):
        # 103-column-wide fidelity (reference test/motu_table_sample.csv)
        cols = ", ".join(f"c{i} int" for i in range(100))
        df = spark.createDataFrame(
            [tuple([1, "Abc", "GENUS"] + list(range(100)))],
            f"id int, name string, rank string, {cols}",
        )
        out = str(tmp_path / "wide")
        write_csv(df, out)
        back = read_taxa_csv(spark, out, role_columns=["name", "rank"])
        assert back.columns == df.columns
        assert back.count() == 1


class TestJsonlIo:
    def test_roundtrip_arrays_nulls_timestamps(self, spark, tmp_path):
        from gbif_filter_python_spark.sources.io import read_jsonl, write_jsonl

        df = spark.createDataFrame(
            [
                (1, ["a", "b"], None, "2024-03-01 10:30:00"),
                (2, [], 1.5, None),
            ],
            "id long, tags array<string>, v double, ts_s string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
        out = str(tmp_path / "jsonl")
        write_jsonl(df, out)
        back = read_jsonl(spark, out, schema=df.schema)
        rows = {r["id"]: r for r in back.collect()}
        # Arrays survive natively (CSV would have JSON-stringified them).
        assert rows[1]["tags"] == ["a", "b"] and rows[2]["tags"] == []
        assert rows[1]["v"] is None and rows[2]["v"] == 1.5
        assert rows[2]["ts"] is None
        assert rows[1]["ts"].isoformat().startswith("2024-03-01T10:30")
        assert back.schema == df.schema


class TestCompactParquet:
    def test_compacts_fragmented_dataset_losslessly(self, spark, tmp_path):
        from gbif_filter_python_spark.sources.io import compact_parquet

        src = str(tmp_path / "fragmented")
        # 64 tiny files
        spark.range(10_000).repartition(64).write.parquet(src)
        import glob

        assert len(glob.glob(f"{src}/*.parquet")) == 64
        out = str(tmp_path / "compacted")
        # dataset is well under 1 target file
        n = compact_parquet(spark, src, out, target_file_mb=256)
        assert n == 1
        assert len(glob.glob(f"{out}/*.parquet")) == 1
        a = spark.read.parquet(src)
        b = spark.read.parquet(out)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_sort_within_partitions_restores_pruning_order(
        self, spark, tmp_path
    ):
        from gbif_filter_python_spark.sources.io import compact_parquet

        src = str(tmp_path / "frag2")
        spark.range(1000).repartition(16).write.parquet(src)
        out = str(tmp_path / "comp2")
        compact_parquet(spark, src, out, target_file_mb=256, sort_cols=["id"])
        vals = [r.id for r in spark.read.parquet(out).collect()]
        # single output file sorted within → fully ordered on read? Not
        # guaranteed by reader ordering; assert via per-file row-group
        # min/max instead: the file's values are the full sorted range.
        assert sorted(vals) == list(range(1000))
        import pyarrow.parquet as pq
        import glob

        f = glob.glob(f"{out}/*.parquet")[0]
        md = pq.ParquetFile(f).metadata
        col = md.row_group(0).column(0)
        assert col.statistics.min == 0

    def test_refuses_overlapping_in_and_out_paths(self, spark, tmp_path):
        """In-place compaction (out == in, or nested either way) would
        overwrite a lazily-read source mid-scan and lose data — the
        guard must reject it before any write starts, across path
        spellings that qualify to the same location."""
        import pytest

        from gbif_filter_python_spark.sources.io import compact_parquet

        src = str(tmp_path / "inplace")
        spark.range(100).write.parquet(src)
        for bad_out in (src, src + "/", src + "/sub", str(tmp_path)):
            with pytest.raises(ValueError, match="overlaps"):
                compact_parquet(spark, src, bad_out)
        # source untouched after the refusals
        assert spark.read.parquet(src).count() == 100


class TestRestBatchProvider:
    def test_online_resolution_semantics(self, spark):
        def fake_fetch(name, rank, kingdom):
            return {
                "Lumbricus terrestris": {
                    "matchType": "EXACT", "synonym": False, "usageKey": 4000,
                    "rank": "SPECIES",
                },
                "Old name": {
                    "matchType": "EXACT", "synonym": True, "usageKey": 9,
                    "acceptedUsageKey": 4000, "rank": "SPECIES",
                },
                "Fuzzy thing": {"matchType": "FUZZY", "usageKey": 123},
            }.get(name, {"matchType": "NONE"})

        provider = RestBatchProvider(fake_fetch)
        names = spark.createDataFrame(
            [("Lumbricus terrestris", "SPECIES", "Animalia"),
             ("Old name", "SPECIES", "Animalia"),
             ("Fuzzy thing", None, None),
             ("Missing", None, None)],
            "name string, rank string, kingdom string",
        )
        got = {r["name"]: r["key"] for r in
               provider.resolve_names_online(names).collect()}
        assert got == {
            "Lumbricus terrestris": 4000,
            "Old name": 4000,     # synonym redirect
            "Fuzzy thing": None,  # non-EXACT → null
            "Missing": None,
        }

    def test_online_children_semantics(self, spark):
        def fake_children(parent, rank, habitat):
            assert rank == "SPECIES" and habitat == "TERRESTRIAL"
            return {
                3000: [
                    {"key": 4000, "canonicalName": "L terrestris",
                     "taxonomicStatus": "ACCEPTED"},
                    {"key": 4003, "canonicalName": "L oldname",
                     "taxonomicStatus": "SYNONYM"},  # filtered out
                ],
            }.get(parent, [])

        provider = RestBatchProvider(lambda *a: {}, fake_children)
        parents = spark.createDataFrame([(3000,), (9999,)], "parent long")
        rows = provider.children_online(
            parents, "SPECIES", "TERRESTRIAL"
        ).collect()
        assert [(r.parent, r.child_key, r.child_name) for r in rows] == [
            (3000, 4000, "L terrestris")
        ]

    def test_online_children_requires_callable(self, spark):
        provider = RestBatchProvider(lambda *a: {})
        with pytest.raises(ValueError):
            provider.children_online(
                spark.createDataFrame([(1,)], "parent long"))

    def test_online_full_occurrences_format_results_parity(self, spark):
        """get_occurrences → get_all_occurrences → format_results
        parity (gbif_helper.py:60-69, 94-109): one row per fetched
        occurrence record, ranks=None keeps all, a ranks list filters
        on taxonRank membership exactly as format_results does."""

        def fake_all(key, geometry, country):
            assert geometry is None and country is None
            return {
                3000: [
                    {"taxonKey": 4000, "taxonRank": "SPECIES"},
                    {"taxonKey": 3000, "taxonRank": "GENUS"},
                    {"taxonKey": 4001, "taxonRank": "SPECIES"},
                ],
            }.get(key, [])

        provider = RestBatchProvider(
            lambda *a: {}, fetch_all_occurrences=fake_all
        )
        keys = spark.createDataFrame([(3000,), (9999,)], "taxon_key long")
        # ranks=None → every record comes back
        all_rows = provider.occurrences_online(keys).collect()
        assert sorted((r.taxon_key, r.occ_taxon_key) for r in all_rows) == [
            (3000, 3000), (3000, 4000), (3000, 4001)
        ]
        # ranks filter → format_results membership semantics
        sp_rows = provider.occurrences_online(
            keys, ranks=["SPECIES"]
        ).collect()
        assert sorted(r.occ_taxon_key for r in sp_rows) == [4000, 4001]

    def test_online_full_occurrences_requires_callable(self, spark):
        provider = RestBatchProvider(lambda *a: {})
        with pytest.raises(ValueError):
            provider.occurrences_online(
                spark.createDataFrame([(1,)], "taxon_key long"))

    def test_online_existence_parity_with_offline(
        self, spark, taxonomy, occurrence
    ):
        """op 6's online twin (occurrences.search limit=1 →
        len(results) > 0, gbif_helper.py:85-92): the ternary tag from
        the REST path must equal the offline snapshot path on the same
        fixture (VERDICT r1 #5)."""
        from gbif_filter_python_spark.config import Country
        from gbif_filter_python_spark.operators.spatial import zone_filter
        from gbif_filter_python_spark.operators.tagging import tag_existence
        from gbif_filter_python_spark.sources.providers import (
            tag_existence_online,
        )
        from tests.conftest import OCCURRENCE_ROWS

        def fake_occ(taxon_key, geometry, country):
            # the limit=1 page the reference requests
            assert geometry is None and country == "NO"
            return [
                {"key": occ_id}
                for (occ_id, tk, _r, c, _lon, _lat, _ts) in OCCURRENCE_ROWS
                if tk == taxon_key and c == country
            ][:1]

        provider = RestBatchProvider(lambda *a: {}, fetch_occurrences=fake_occ)
        # 4000 occurs in NO; 6000 nowhere; null key; 4002 only in SE
        taxa = spark.createDataFrame(
            [(1, 4000), (2, 6000), (3, None), (4, 4002)],
            "id int, gbif_key long",
        )
        zone = Country("NO")
        online = {
            r["id"]: r["gbif_filter_tag"]
            for r in tag_existence_online(taxa, provider, zone).collect()
        }
        offline = {
            r["id"]: r["gbif_filter_tag"]
            for r in tag_existence(taxa, zone_filter(occurrence, zone)).collect()
        }
        assert online == offline == {1: True, 2: False, 3: None, 4: False}

    def test_online_existence_requires_callable(self, spark):
        provider = RestBatchProvider(lambda *a: {})
        with pytest.raises(ValueError):
            provider.exists_online(
                spark.createDataFrame([(1,)], "taxon_key long"))


class TestInteractionSource:
    """Op 40 closure (VERDICT r3 item 5): the legacy InteractionSource
    ABC (get_interactions / resolve_interaction_name,
    util/__pycache__/data_source.cpython-37.pyc) re-expressed
    set-at-a-time over an in-memory provider."""

    # type 1 'pollinates' (synonym 'visitsFlowersOf'), type 2 'eats'
    # (synonym 'preysOn')
    NAME_ROWS = [
        (1, "pollinates", False),
        (1, "visitsFlowersOf", True),
        (2, "eats", False),
        (2, "preysOn", True),
    ]
    EDGE_ROWS = [
        (4000, 7001, 1),  # L. terrestris pollinates 7001
        (4000, 7002, 2),  # L. terrestris eats 7002
        (4001, 7001, 1),
        (5000, 7003, 2),
    ]

    @pytest.fixture(scope="class")
    def provider(self, spark):
        from gbif_filter_python_spark.sources.providers import InMemoryProvider

        return InMemoryProvider(
            spark, [], [],
            interaction_rows=self.EDGE_ROWS,
            interaction_name_rows=self.NAME_ROWS,
        )

    def test_resolve_interaction_name_canonical_synonym_unknown(
        self, spark, provider
    ):
        from gbif_filter_python_spark.sources.providers import (
            resolve_interaction_name,
        )

        names = spark.createDataFrame(
            [("pollinates",), ("PREYSON",), ("  eats ",), ("bogus",)],
            "name string",
        )
        got = {
            r["name"]: (r["interaction_type_id"], r["canonical_name"])
            for r in resolve_interaction_name(provider, names).collect()
        }
        assert got["pollinates"] == (1, "pollinates")
        # synonym redirects to the canonical id/name, case-insensitive
        assert got["PREYSON"] == (2, "eats")
        # trimmed
        assert got["  eats "] == (2, "eats")
        # unknown name -> nulls, row preserved (left join)
        assert got["bogus"] == (None, None)

    def test_get_interactions_semi_join_and_type_filter(
        self, spark, provider
    ):
        from gbif_filter_python_spark.sources.providers import (
            get_interactions,
        )

        keys = spark.createDataFrame(
            [(4000,), (4001,), (None,), (4000,)], "taxon_key long"
        )
        all_edges = {
            (r.source_taxon_key, r.target_taxon_key, r.interaction_name)
            for r in get_interactions(provider, keys).collect()
        }
        assert all_edges == {
            (4000, 7001, "pollinates"),
            (4000, 7002, "eats"),
            (4001, 7001, "pollinates"),
        }
        # filter by SYNONYM name selects the canonical type's edges
        prey = {
            (r.source_taxon_key, r.target_taxon_key)
            for r in get_interactions(
                provider, keys, interaction_name="preysOn"
            ).collect()
        }
        assert prey == {(4000, 7002)}
        with pytest.raises(ValueError, match="unknown interaction"):
            get_interactions(provider, keys, interaction_name="nope")

    def test_parquet_provider_roundtrip_and_unconfigured(
        self, spark, tmp_path
    ):
        from gbif_filter_python_spark.schemas import (
            INTERACTION_NAME_SCHEMA,
            INTERACTION_SCHEMA,
        )
        from gbif_filter_python_spark.sources.providers import (
            ParquetSnapshotProvider,
            get_interactions,
        )

        ip = str(tmp_path / "interactions")
        np_ = str(tmp_path / "interaction_names")
        spark.createDataFrame(self.EDGE_ROWS, INTERACTION_SCHEMA).write.parquet(ip)
        spark.createDataFrame(self.NAME_ROWS, INTERACTION_NAME_SCHEMA).write.parquet(np_)
        prov = ParquetSnapshotProvider(
            spark, interaction_path=ip, interaction_name_path=np_
        )
        keys = spark.createDataFrame([(5000,)], "taxon_key long")
        got = {
            (r.source_taxon_key, r.target_taxon_key, r.interaction_name)
            for r in get_interactions(prov, keys).collect()
        }
        assert got == {(5000, 7003, "eats")}
        with pytest.raises(ValueError, match="interaction_path"):
            ParquetSnapshotProvider(spark).interactions()
        with pytest.raises(ValueError, match="interaction_name_path"):
            ParquetSnapshotProvider(spark).interaction_names()


class TestParquetSnapshotProvider:
    """taxonomy() and occurrences() read with the canonical schemas:
    no schema-inference job, and a snapshot missing a canonical column
    raises a named error instead of reading it as NULLs."""

    @staticmethod
    def _types(schema):
        return {f.name: f.dataType for f in schema}

    def test_reads_run_no_job_and_keep_the_canonical_schema(
        self, spark, taxonomy, occurrence, tmp_path
    ):
        from gbif_filter_python_spark.plans.inspect import jobs_run
        from gbif_filter_python_spark.schemas import (
            OCCURRENCE_SCHEMA,
            TAXONOMY_SCHEMA,
        )
        from gbif_filter_python_spark.sources.io import (
            write_occurrence_snapshot,
        )
        from gbif_filter_python_spark.sources.providers import (
            ParquetSnapshotProvider,
        )

        taxonomy.write.parquet(str(tmp_path / "taxonomy"))
        occurrence.write.parquet(str(tmp_path / "flat"))
        write_occurrence_snapshot(occurrence, str(tmp_path / "by_country"))
        prov = ParquetSnapshotProvider(
            spark, str(tmp_path / "taxonomy"), str(tmp_path / "by_country"))
        flat = ParquetSnapshotProvider(
            spark, occurrence_path=str(tmp_path / "flat"))
        assert jobs_run(spark, prov.taxonomy) == 0
        assert jobs_run(spark, prov.occurrences) == 0
        assert jobs_run(spark, flat.occurrences) == 0
        tax = prov.taxonomy()
        assert tax.columns == taxonomy.columns
        assert self._types(tax.schema) == self._types(TAXONOMY_SCHEMA)
        assert sorted(tax.collect()) == sorted(taxonomy.collect())
        # The partition column comes last, as partition discovery put it.
        for occ in (prov.occurrences(), flat.occurrences()):
            assert self._types(occ.schema) == self._types(OCCURRENCE_SCHEMA)
            cols = occurrence.columns
            assert sorted(occ.select(*cols).collect()) == sorted(
                occurrence.collect())

    def test_missing_canonical_column_raises_named_error(
        self, spark, taxonomy, tmp_path
    ):
        """Without the footer check, the given schema would read the
        missing habitat as NULL and an expansion with a habitat filter
        would silently find no child (inference failed the run with
        UNRESOLVED_COLUMN instead)."""
        from gbif_filter_python_spark.sources.providers import (
            ParquetSnapshotProvider,
            SnapshotSchemaError,
        )

        path = str(tmp_path / "taxonomy")
        taxonomy.drop("habitat").write.parquet(path)
        with pytest.raises(SnapshotSchemaError, match="habitat"):
            ParquetSnapshotProvider(spark, path).taxonomy()
        empty = tmp_path / "empty"
        empty.mkdir()
        with pytest.raises(SnapshotSchemaError, match="no parquet data file"):
            ParquetSnapshotProvider(spark, str(empty)).taxonomy()


class TestOrcIo:
    def test_roundtrip_with_arrays_and_timestamps(self, spark, tmp_path):
        import datetime

        from gbif_filter_python_spark.sources.io import read_orc, write_orc

        df = spark.createDataFrame(
            [
                (1, "a", [1.0, 2.0], datetime.datetime(2024, 1, 2, 3, 4, 5)),
                (2, None, [], None),
            ],
            "k long, s string, v array<double>, ts timestamp",
        )
        path = str(tmp_path / "orc_roundtrip")
        write_orc(df, path)
        back = read_orc(spark, path)
        assert back.schema == df.schema
        a = sorted(df.collect(), key=lambda r: r.k)
        b = sorted(back.collect(), key=lambda r: r.k)
        assert a == b

    def test_partitioned_layout_prunes(self, spark, tmp_path):
        from gbif_filter_python_spark.plans.inspect import explain_str
        from gbif_filter_python_spark.sources.io import read_orc, write_orc

        df = spark.range(100).selectExpr(
            "id AS k", "CAST(id % 4 AS STRING) AS part"
        )
        path = str(tmp_path / "orc_part")
        write_orc(df, path, partition_by=["part"])
        back = read_orc(spark, path).filter(F.col("part") == "2")
        assert back.count() == 25
        plan = explain_str(back, "formatted")
        assert "PartitionFilters" in plan and "part" in plan


class _FakeResponse:
    def __init__(self, status_code=200, body=None, headers=None):
        self.status_code = status_code
        self._body = body or {}
        self.headers = headers or {}

    def json(self):
        return self._body

    def raise_for_status(self):
        if self.status_code >= 400:
            raise RuntimeError(f"http {self.status_code}")


class _FakeSession:
    """Scripted transport standing in for requests.Session — the
    online-client tests run with no network."""

    def __init__(self, responses):
        self.responses = list(responses)
        self.calls = []
        self.headers = {}

    def get(self, url, params=None, timeout=None):
        self.calls.append((url, dict(params or {})))
        r = self.responses.pop(0)
        if isinstance(r, Exception):
            raise r
        return r


class TestGbifRestClient:
    """Default HTTP fetch for RestBatchProvider (VERDICT r4 item 5):
    endpoint/param parity with the reference's three pygbif calls,
    retry/backoff behavior, throttling, and executor picklability —
    all against a scripted fake transport."""

    def _client(self, responses, **kw):
        from gbif_filter_python_spark.sources.gbif_rest import (
            GbifRestClient,
        )

        kw.setdefault("min_interval_s", 0.0)
        kw.setdefault("backoff_s", 0.0)
        c = GbifRestClient(**kw)
        c._session = _FakeSession(responses)
        return c

    def test_name_backbone_params_match_reference(self):
        body = {"matchType": "EXACT", "usageKey": 5, "synonym": False}
        c = self._client([_FakeResponse(body=body)])
        got = c.name_backbone("Lumbricus", "GENUS", "Animalia")
        assert got == body
        url, params = c._session.calls[0]
        assert url.endswith("/v1/species/match")
        # gbif_helper.py:17-19: strict=True, verbose=False
        assert params == {"name": "Lumbricus", "rank": "GENUS",
                          "kingdom": "Animalia", "strict": "true",
                          "verbose": "false"}

    def test_children_params_and_results_page(self):
        from gbif_filter_python_spark.sources.gbif_rest import (
            BACKBONE_DATASET_KEY,
        )

        body = {"results": [{"key": 7, "canonicalName": "X",
                             "taxonomicStatus": "ACCEPTED"}]}
        c = self._client([_FakeResponse(body=body)])
        got = c.name_lookup_children(42, "species", "FRESHWATER")
        assert got == body["results"]
        url, params = c._session.calls[0]
        assert url.endswith("/v1/species/search")
        # gbif_helper.py:35-42: backbone-only, rank upper-cased,
        # limit=1000, type=occurrence
        assert params == {"higherTaxonKey": 42, "type": "occurrence",
                          "datasetKey": BACKBONE_DATASET_KEY,
                          "rank": "SPECIES", "habitat": "FRESHWATER",
                          "limit": 1000}

    def test_occurrence_search_limit_one_and_none_params_dropped(self):
        c = self._client([_FakeResponse(body={"results": [{"k": 1}]})])
        got = c.occurrence_search(9, None, "NO")
        assert got == [{"k": 1}]
        url, params = c._session.calls[0]
        assert url.endswith("/v1/occurrence/search")
        assert params == {"taxonKey": 9, "country": "NO", "limit": 1}

    def test_retries_429_with_retry_after_then_succeeds(self):
        import time as _time

        c = self._client([
            _FakeResponse(status_code=429, headers={"Retry-After": "0.05"}),
            _FakeResponse(body={"matchType": "NONE"}),
        ])
        t0 = _time.monotonic()
        got = c.name_backbone("x", None, None)
        assert got == {"matchType": "NONE"}
        assert _time.monotonic() - t0 >= 0.05
        assert len(c._session.calls) == 2

    def test_retries_5xx_and_connection_errors_then_raises(self):
        import pytest as _p

        c = self._client(
            [_FakeResponse(status_code=503),
             ConnectionError("boom"),
             _FakeResponse(status_code=500)],
            max_retries=2,
        )
        with _p.raises(RuntimeError, match="failed after 3 attempts"):
            c.name_backbone("x", None, None)

    def test_4xx_raises_immediately_no_retry(self):
        import pytest as _p

        c = self._client([_FakeResponse(status_code=404)])
        with _p.raises(RuntimeError, match="http 404"):
            c.name_backbone("x", None, None)
        assert len(c._session.calls) == 1

    def test_min_interval_throttles_consecutive_requests(self):
        import time as _time

        c = self._client(
            [_FakeResponse(body={}), _FakeResponse(body={})],
            min_interval_s=0.08,
        )
        t0 = _time.monotonic()
        c.name_backbone("a", None, None)
        c.name_backbone("b", None, None)
        assert _time.monotonic() - t0 >= 0.08

    def test_picklable_without_session(self):
        import pickle

        c = self._client([_FakeResponse(body={})])
        c.name_backbone("a", None, None)
        c2 = pickle.loads(pickle.dumps(c))
        assert c2._session is None and c2._last_request == 0.0
        assert c2.base_url == c.base_url

    def test_provider_wires_all_three_endpoints(self):
        """provider() is the one-constructor-call online path the
        verdict asked for: all three RestBatchProvider slots must be
        the client's bound endpoint methods (a scripted-session check;
        the Spark mapInPandas path is covered by TestRestBatchProvider
        with injected fakes — a fake session cannot survive the
        executor pickle, which is exactly what __getstate__ is for)."""
        match = {"matchType": "EXACT", "usageKey": 11, "synonym": False}
        c = self._client([
            _FakeResponse(body=match),
            _FakeResponse(body={"results": []}),
            _FakeResponse(body={"results": [{"k": 1}]}),
        ])
        prov = c.provider()
        assert prov.fetch("x", None, None) == match
        assert prov.fetch_children(1, None, None) == []
        assert prov.fetch_occurrences(1, None, "NO") == [{"k": 1}]
        assert prov.fetch_all_occurrences is not None

    def test_occurrence_search_all_paginates_by_offset(self):
        """gbif_helper.py:71-83 parity: page, then offset by records
        received until count is reached; offsets and page size must be
        what the commented reference loop would send."""
        pages = [
            {"count": 7, "results": [{"i": i} for i in range(3)]},
            {"count": 7, "results": [{"i": i} for i in range(3, 6)]},
            {"count": 7, "results": [{"i": 6}]},
        ]
        c = self._client([_FakeResponse(body=p) for p in pages])
        got = c.occurrence_search_all(42, page_size=3)
        assert [r["i"] for r in got] == list(range(7))
        offsets = [p["offset"] for _u, p in c._session.calls]
        assert offsets == [0, 3, 6]
        assert all(p["limit"] == 3 for _u, p in c._session.calls)

    def test_occurrence_search_all_stops_on_end_of_records(self):
        pages = [
            {"count": 10, "results": [{"i": 0}], "endOfRecords": False},
            {"count": 10, "results": [{"i": 1}], "endOfRecords": True},
        ]
        c = self._client([_FakeResponse(body=p) for p in pages])
        got = c.occurrence_search_all(42, page_size=1)
        assert len(got) == 2 and len(c._session.calls) == 2

    def test_occurrence_search_all_max_records_warns_and_truncates(
        self, caplog
    ):
        import logging as _logging

        pages = [
            {"count": 100, "results": [{"i": 0}, {"i": 1}]},
            {"count": 100, "results": [{"i": 2}, {"i": 3}]},
        ]
        c = self._client([_FakeResponse(body=p) for p in pages])
        with caplog.at_level(
            _logging.WARNING,
            logger="gbif_filter_python_spark.sources.gbif_rest",
        ):
            got = c.occurrence_search_all(42, page_size=2, max_records=4)
        assert len(got) == 4 and len(c._session.calls) == 2
        assert any("truncated" in r.message for r in caplog.records)

    def test_occurrence_search_all_cap_equal_to_total_no_warning(
        self, caplog
    ):
        """A cap that exactly equals the full result set is a complete
        fetch: no trim, no truncation warning (ADVICE r6 follow-up to
        the over-cap trim fix)."""
        import logging as _logging

        pages = [
            {"count": 4, "results": [{"i": 0}, {"i": 1}]},
            {"count": 4, "results": [{"i": 2}, {"i": 3}]},
        ]
        c = self._client([_FakeResponse(body=p) for p in pages])
        with caplog.at_level(
            _logging.WARNING,
            logger="gbif_filter_python_spark.sources.gbif_rest",
        ):
            got = c.occurrence_search_all(42, page_size=2, max_records=4)
        assert [r["i"] for r in got] == [0, 1, 2, 3]
        assert not any("truncated" in r.message for r in caplog.records)

    def test_occurrence_search_all_trims_to_cap(self):
        """The returned list must never exceed max_records, even when
        the last page overshoots the cap (ADVICE r6: extend-then-check
        returned up to page_size-1 extra records)."""
        pages = [
            {"count": 100, "results": [{"i": i} for i in range(3)]},
            {"count": 100, "results": [{"i": i} for i in range(3, 6)]},
        ]
        c = self._client([_FakeResponse(body=p) for p in pages])
        got = c.occurrence_search_all(42, page_size=3, max_records=4)
        assert [r["i"] for r in got] == [0, 1, 2, 3]

    def test_children_full_page_warns_incomplete(self, caplog):
        """gbif_helper.py:45-48 parity: a full 1000-record page logs
        that results may be incomplete."""
        import logging as _logging

        body = {"results": [
            {"key": i, "taxonomicStatus": "ACCEPTED"} for i in range(1000)
        ]}
        c = self._client([_FakeResponse(body=body)])
        with caplog.at_level(
            _logging.WARNING,
            logger="gbif_filter_python_spark.sources.gbif_rest",
        ):
            got = c.name_lookup_children(42, None, None)
        assert len(got) == 1000
        assert any("incomplete" in r.message for r in caplog.records)


class TestResponseCache:
    """Cross-run HTTP response cache (VERDICT r6 item 3) — the engine
    counterpart of the reference's requests-cache sqlite memoization
    (/root/reference/gbif_helper.py:9): with a cache injected, a
    repeated request is answered WITHOUT touching the transport; off
    by default, online semantics unchanged."""

    def _client(self, responses, **kw):
        from gbif_filter_python_spark.sources.gbif_rest import (
            GbifRestClient,
        )

        kw.setdefault("min_interval_s", 0.0)
        kw.setdefault("backoff_s", 0.0)
        c = GbifRestClient(**kw)
        c._session = _FakeSession(responses)
        return c

    def test_off_by_default_every_request_hits_transport(self):
        body = {"matchType": "EXACT", "usageKey": 5}
        c = self._client([_FakeResponse(body=body),
                          _FakeResponse(body=body)])
        assert c.cache is None
        c.name_backbone("Lumbricus", None, None)
        c.name_backbone("Lumbricus", None, None)
        assert len(c._session.calls) == 2

    def test_dict_cache_memoizes_within_run(self):
        body = {"matchType": "EXACT", "usageKey": 5}
        c = self._client([_FakeResponse(body=body)], cache={})
        assert c.name_backbone("Lumbricus", "GENUS", None) == body
        # second identical call: transport is EMPTY — any GET would
        # pop from an empty script and raise
        assert c.name_backbone("Lumbricus", "GENUS", None) == body
        assert len(c._session.calls) == 1
        # a DIFFERENT request must go to the transport (and fail here:
        # the empty script raises per attempt until retries exhaust)
        import pytest as _p

        with _p.raises(RuntimeError, match="failed after"):
            c.name_backbone("Apis", "GENUS", None)

    def test_sqlite_cache_survives_across_client_runs(self, tmp_path):
        """The reference's headline behavior: run twice, second run
        issues ZERO HTTP requests (hermetic: the second client's
        scripted transport is empty, so any GET would blow up)."""
        from gbif_filter_python_spark.sources.gbif_rest import (
            SqliteResponseCache,
        )

        db = str(tmp_path / "gbif_cache.sqlite")
        match = {"matchType": "EXACT", "usageKey": 11, "synonym": False}
        kids = {"results": [{"key": 7, "taxonomicStatus": "ACCEPTED"}]}
        occ = {"results": [{"k": 1}], "count": 1, "endOfRecords": True}
        c1 = self._client(
            [_FakeResponse(body=match), _FakeResponse(body=kids),
             _FakeResponse(body=occ), _FakeResponse(body=occ)],
            cache=SqliteResponseCache(db),
        )
        assert c1.name_backbone("Lumbricus", "GENUS", "Animalia") == match
        assert c1.name_lookup_children(11, "species", None) == kids["results"]
        assert c1.occurrence_search(11, None, "NO") == occ["results"]
        assert c1.occurrence_search_all(11, country="NO") == occ["results"]
        # fresh client, fresh (empty) transport, same sqlite file
        c2 = self._client([], cache=SqliteResponseCache(db))
        assert c2.name_backbone("Lumbricus", "GENUS", "Animalia") == match
        assert c2.name_lookup_children(11, "species", None) == kids["results"]
        assert c2.occurrence_search(11, None, "NO") == occ["results"]
        assert c2.occurrence_search_all(11, country="NO") == occ["results"]
        assert c2._session.calls == []

    def test_cache_key_normalizes_none_params_and_order(self):
        from gbif_filter_python_spark.sources.gbif_rest import (
            request_cache_key,
        )

        k1 = request_cache_key("species/match", {"name": "X", "rank": None})
        k2 = request_cache_key("/species/match", {"rank": None, "name": "X"})
        assert k1 == k2 == "species/match?name=X"

    def test_failed_requests_are_not_cached(self):
        import pytest as _p

        c = self._client(
            [_FakeResponse(status_code=404),
             _FakeResponse(body={"matchType": "NONE"})],
            cache={},
        )
        with _p.raises(RuntimeError, match="http 404"):
            c.name_backbone("x", None, None)
        assert c.cache == {}  # 4xx never lands in the cache
        assert c.name_backbone("x", None, None) == {"matchType": "NONE"}
        assert len(c._session.calls) == 2

    def test_sqlite_cache_mapping_protocol_and_pickle(self, tmp_path):
        import pickle

        from gbif_filter_python_spark.sources.gbif_rest import (
            SqliteResponseCache,
        )

        cache = SqliteResponseCache(str(tmp_path / "c.sqlite"))
        assert cache.get("k") is None and "k" not in cache
        cache["k"] = {"a": [1, 2]}
        assert cache["k"] == {"a": [1, 2]} and "k" in cache
        assert len(cache) == 1
        cache["k"] = {"a": [3]}  # upsert, not duplicate
        assert cache["k"] == {"a": [3]} and len(cache) == 1
        import pytest as _p

        with _p.raises(KeyError):
            cache["absent"]
        # connection is a per-process lazy: pickling drops it, the
        # clone reopens the same file
        clone = pickle.loads(pickle.dumps(cache))
        assert clone._conn is None
        assert clone["k"] == {"a": [3]}
        cache.clear()
        assert len(cache) == 0
