"""Pushdown-capable gbif_occurrences DataSource (sources/
occurrence_source.py) — closes SURVEY §7.3's deferred DataSourceV2
item. Hermetic throughout: the scripted fetch records every call to a
file (worker processes can't mutate test globals), so pushdown is
asserted by the PARAMETERS that reached the transport, not inferred
from results."""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gbif_filter_python_spark.sources.occurrence_source import (
    bbox_wkt,
    GbifOccurrencesDataSource,
    ScriptedOccurrenceFetch,
)
from tests.conftest import session_conf

DATA = {
    "100|FR|": [
        {
            "taxon_key": 100,
            "occurrence_key": 1,
            "scientific_name": "Aus aus",
            "country": "FR",
            "decimal_latitude": 1.0,
            "decimal_longitude": 2.0,
        },
        {
            "taxon_key": 100,
            "occurrence_key": 3,
            "scientific_name": "Aus aus",
            "country": "FR",
            "decimal_latitude": 48.0,
            "decimal_longitude": 2.3,
        },
    ],
    "200|FR|": [
        {
            "taxon_key": 200,
            "occurrence_key": 2,
            "scientific_name": "Bus bus",
            "country": "FR",
            "decimal_latitude": 3.0,
            "decimal_longitude": 4.0,
        }
    ],
    "100||": [
        {
            "taxon_key": 100,
            "occurrence_key": 9,
            "scientific_name": "Aus aus",
            "country": "DE",
            "decimal_latitude": 0.0,
            "decimal_longitude": 0.0,
        }
    ],
}


@pytest.fixture()
def pushdown(spark):
    spark.dataSource.register(GbifOccurrencesDataSource)
    with session_conf(spark, extra={
            "spark.sql.python.filterPushdown.enabled": "true"}):
        yield spark


def _reader(spark, tmp_path, **extra):
    log = str(tmp_path / "calls.jsonl")
    r = (
        spark.read.format("gbif_occurrences")
        .option(
            "fetch_factory",
            "gbif_filter_python_spark.sources."
            "occurrence_source:scripted_occurrence_fetch",
        )
        .option("fetch_args", json.dumps({"data": DATA, "call_log": log}))
    )
    for k, v in extra.items():
        r = r.option(k, v)
    return r, log


def _calls(log):
    if not os.path.exists(log):
        return []
    return [json.loads(line) for line in open(log)]


class TestPushdown:
    def test_in_and_equality_become_rest_params(self, pushdown, tmp_path):
        r, log = _reader(pushdown, tmp_path)
        df = (
            r.load()
            .filter(F.col("taxon_key").isin(100, 200))
            .filter(F.col("country") == "FR")
        )
        rows = sorted(
            (x["taxon_key"], x["occurrence_key"]) for x in df.collect()
        )
        assert rows == [(100, 1), (100, 3), (200, 2)]
        # one partition per pushed taxon key
        assert df.rdd.getNumPartitions() == 2
        # the transport saw country=FR per taxon — pushdown REACHED the
        # source; without it the source would have raised (no keys)
        assert sorted(
            (c["taxon_key"], c["country"]) for c in _calls(log)
        ) == [(100, "FR"), (200, "FR")]

    def test_residual_filters_stay_spark_side(self, pushdown, tmp_path):
        # occurrence_key has no REST twin: a range filter on it must
        # stay entirely Spark-side (geometry untouched, full fetch)
        r, log = _reader(pushdown, tmp_path)
        df = (
            r.load()
            .filter(F.col("taxon_key") == 100)
            .filter(F.col("country") == "FR")
            .filter(F.col("occurrence_key") > 1)
        )
        rows = df.collect()
        assert [x["occurrence_key"] for x in rows] == [3]
        calls = _calls(log)
        assert calls and all(c["geometry"] is None for c in calls)
        assert all(c["taxon_key"] == 100 for c in calls)

    def test_unbounded_scan_raises_loudly(self, pushdown, tmp_path):
        r, _ = _reader(pushdown, tmp_path)
        with pytest.raises(Exception, match="unbounded|taxon_key"):
            r.load().collect()

    def test_option_keys_work_without_filters(self, pushdown, tmp_path):
        # no DataFrame filters at all: keys and country arrive as
        # reader options (the explicit-config path)
        r, log = _reader(
            pushdown, tmp_path, taxon_keys="100,200", country="FR"
        )
        df = r.load()
        assert df.count() == 3
        assert df.rdd.getNumPartitions() == 2

    def test_disabled_conf_is_a_loud_error(self, spark, tmp_path):
        # Spark refuses a pushFilters-implementing reader outright
        # when the conf is off — which is why get_spark() sets it as
        # a session default; pin the failure mode so a conf
        # regression can't silently change semantics
        spark.dataSource.register(GbifOccurrencesDataSource)
        with session_conf(spark, extra={
                "spark.sql.python.filterPushdown.enabled": "false"}):
            r, _ = _reader(spark, tmp_path, taxon_keys="100")
            with pytest.raises(Exception, match="PUSHDOWN_DISABLED"):
                r.load().collect()

    def test_limit_per_taxon_truncates(self, pushdown, tmp_path):
        r, log = _reader(pushdown, tmp_path, limit_per_taxon="1")
        df = (
            r.load()
            .filter(F.col("taxon_key") == 100)
            .filter(F.col("country") == "FR")
        )
        assert [x["occurrence_key"] for x in df.collect()] == [1]
        assert _calls(log)[0]["limit"] == 1

    def test_bbox_closed_bounds_leave_residual_become_geometry(
        self, pushdown, tmp_path
    ):
        """VERDICT r7 item 2 + ADVICE r8: lat/lon >=/<= bounds fold
        into a REST geometry envelope but STAY residual — the envelope
        is a transfer-reducing prefilter, never a correctness
        dependency (the real GBIF geometry API has its own boundary/
        winding semantics, so trusting it would make divergence a
        silent wrong answer). Proven behaviorally both ways: the
        envelope reaches the transport (call log), AND a record the
        transport returns OUTSIDE the bbox (lat 9.9 < 10) is dropped
        Spark-side by the residual re-check."""
        env = "POLYGON((0 10,5 10,5 50,0 50,0 10))"
        data = {
            f"100|FR|{env}": [
                dict(DATA["100|FR|"][1]),  # lat 48, lon 2.3 — inside
                {
                    "taxon_key": 100,
                    "occurrence_key": 7,
                    "scientific_name": "Aus aus",
                    "country": "FR",
                    "decimal_latitude": 9.9,  # REST boundary slack
                    "decimal_longitude": 2.0,
                },
            ]
        }
        log = str(tmp_path / "bbox.jsonl")
        df = (
            pushdown.read.format("gbif_occurrences")
            .option(
                "fetch_factory",
                "gbif_filter_python_spark.sources."
                "occurrence_source:scripted_occurrence_fetch",
            )
            .option(
                "fetch_args", json.dumps({"data": data, "call_log": log})
            )
            .load()
            .filter(F.col("taxon_key") == 100)
            .filter(F.col("country") == "FR")
            .filter(F.col("decimal_latitude") >= 10.0)
            .filter(F.col("decimal_latitude") <= 50.0)
            .filter(F.col("decimal_longitude") >= 0.0)
            .filter(F.col("decimal_longitude") <= 5.0)
        )
        keys = sorted(x["occurrence_key"] for x in df.collect())
        # 7 is dropped: the >= bound was folded AND re-checked
        assert keys == [3]
        calls = _calls(log)
        assert [c["geometry"] for c in calls] == [env]

    def test_bbox_strict_bounds_fold_but_stay_residual(
        self, pushdown, tmp_path
    ):
        """Strict bounds stay residual: a boundary record (lat exactly
        10) returned by the transport is dropped Spark-side. The
        strict bound still folds into the (split-ring — the defaulted
        lon span is 360 degrees) envelope as a closed edge, which is
        sound precisely BECAUSE the bound is re-checked: the ring may
        over-return the boundary row, never under-return."""
        data = {
            f"100|FR|{self._RING_E}": [
                dict(DATA["100|FR|"][1]),  # lat 48 — strictly inside
                {
                    "taxon_key": 100,
                    "occurrence_key": 8,
                    "scientific_name": "Aus aus",
                    "country": "FR",
                    "decimal_latitude": 10.0,  # ON the strict bound
                    "decimal_longitude": 2.0,
                },
            ]
        }
        log = str(tmp_path / "strict.jsonl")
        df = (
            pushdown.read.format("gbif_occurrences")
            .option(
                "fetch_factory",
                "gbif_filter_python_spark.sources."
                "occurrence_source:scripted_occurrence_fetch",
            )
            .option(
                "fetch_args", json.dumps({"data": data, "call_log": log})
            )
            .load()
            .filter(F.col("taxon_key") == 100)
            .filter(F.col("country") == "FR")
            .filter(F.col("decimal_latitude") > 10.0)
        )
        assert [x["occurrence_key"] for x in df.collect()] == [3]
        assert sorted(c["geometry"] for c in _calls(log)) == sorted(
            [self._RING_W, self._RING_E]
        )

    # the two split rings for a lat >= 10 pushdown (lon defaults to
    # the full 360-degree domain, split at meridian 0)
    _RING_W = "POLYGON((-180 10,0 10,0 90,-180 90,-180 10))"
    _RING_E = "POLYGON((0 10,180 10,180 90,0 90,0 10))"

    def test_bbox_lat_only_bounds_split_rings_at_transport(
        self, pushdown, tmp_path
    ):
        """Closed lat-only bounds push a SPLIT-RING envelope (ADVICE
        r9): the defaulted 360-degree lon span is winding-ambiguous
        as one WKT ring, so the transport receives TWO <=180-degree
        rings carrying the lat band — the lat pushdown keeps its
        transfer reduction. Bounds stay residual: a ring-returned
        record below the band (lat 9.9) is dropped Spark-side."""
        data = {
            f"100|FR|{self._RING_W}": [
                {
                    "taxon_key": 100,
                    "occurrence_key": 7,
                    "scientific_name": "Aus aus",
                    "country": "FR",
                    "decimal_latitude": 9.9,  # REST boundary slack
                    "decimal_longitude": -2.0,
                }
            ],
            f"100|FR|{self._RING_E}": [dict(DATA["100|FR|"][1])],
        }
        log = str(tmp_path / "latonly.jsonl")
        df = (
            pushdown.read.format("gbif_occurrences")
            .option(
                "fetch_factory",
                "gbif_filter_python_spark.sources."
                "occurrence_source:scripted_occurrence_fetch",
            )
            .option(
                "fetch_args", json.dumps({"data": data, "call_log": log})
            )
            .load()
            .filter(F.col("taxon_key") == 100)
            .filter(F.col("country") == "FR")
            .filter(F.col("decimal_latitude") >= 10.0)
        )
        assert [x["occurrence_key"] for x in df.collect()] == [3]
        assert sorted(c["geometry"] for c in _calls(log)) == sorted(
            [self._RING_W, self._RING_E]
        )

    def test_split_ring_shared_meridian_record_not_duplicated(
        self, pushdown, tmp_path
    ):
        """A record exactly on the split meridian (lon 0) that BOTH
        rings return must appear once in the scan output — the
        split-ring read dedupes on the full row."""
        on_meridian = {
            "taxon_key": 100,
            "occurrence_key": 11,
            "scientific_name": "Aus aus",
            "country": "FR",
            "decimal_latitude": 48.0,
            "decimal_longitude": 0.0,
        }
        data = {
            f"100|FR|{self._RING_W}": [dict(on_meridian)],
            f"100|FR|{self._RING_E}": [dict(on_meridian)],
        }
        log = str(tmp_path / "dedupe.jsonl")
        df = (
            pushdown.read.format("gbif_occurrences")
            .option(
                "fetch_factory",
                "gbif_filter_python_spark.sources."
                "occurrence_source:scripted_occurrence_fetch",
            )
            .option(
                "fetch_args", json.dumps({"data": data, "call_log": log})
            )
            .load()
            .filter(F.col("taxon_key") == 100)
            .filter(F.col("country") == "FR")
            .filter(F.col("decimal_latitude") >= 10.0)
        )
        assert [x["occurrence_key"] for x in df.collect()] == [11]
        assert len(_calls(log)) == 2  # both rings were fetched

    def test_nan_bound_reaches_transport_unpushed(
        self, pushdown, tmp_path
    ):
        """VERDICT r9 item 6: the NaN-bound non-pushable path proven
        at the TRANSPORT — a NaN comparison literal must not fold
        into any geometry param (it defeats the emptiness test and
        would render as 'nan' in WKT); the scan still runs, with
        geometry None."""
        r, log = _reader(pushdown, tmp_path)
        df = (
            r.load()
            .filter(F.col("taxon_key") == 100)
            .filter(F.col("country") == "FR")
            .filter(F.col("decimal_latitude") >= float("nan"))
        )
        # NaN >= comparison matches nothing in Spark semantics except
        # NaN itself; DATA has no NaN latitudes
        assert df.count() == 0
        assert [c["geometry"] for c in _calls(log)] == [None]

    def test_bbox_wide_longitude_span_splits_into_two_rings(self):
        """A pushed lon range wider than 180 degrees is winding-
        ambiguous as a single WKT ring — the reader splits it at the
        longitude midpoint into TWO <=180-degree rings (ADVICE r9:
        the previous withhold-entirely behavior cost a lat-only
        pushdown all its REST-side transfer reduction). Bounds stay
        residual either way."""
        from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

        from gbif_filter_python_spark.sources.occurrence_source import (
            GbifOccurrencesReader,
        )

        r = GbifOccurrencesReader({"taxon_keys": "100"})
        residual = list(
            r.pushFilters(
                [
                    GreaterThanOrEqual(("decimal_longitude",), -170.0),
                    LessThanOrEqual(("decimal_longitude",), 170.0),
                ]
            )
        )
        assert len(residual) == 2  # both stay residual
        # 340 degrees: two 170-degree rings split at the midpoint
        assert r._effective_geometries() == [
            "POLYGON((-170 -90,0 -90,0 90,-170 90,-170 -90))",
            "POLYGON((0 -90,170 -90,170 90,0 90,0 -90))",
        ]
        # narrow the span and a single envelope appears
        r2 = GbifOccurrencesReader({"taxon_keys": "100"})
        list(
            r2.pushFilters(
                [
                    GreaterThanOrEqual(("decimal_longitude",), 0.0),
                    LessThanOrEqual(("decimal_longitude",), 170.0),
                ]
            )
        )
        assert r2._effective_geometries() == [
            "POLYGON((0 -90,170 -90,170 90,0 90,0 -90))"
        ]

    def test_bbox_out_of_domain_and_nan_bounds(self):
        """ADVICE r8 low: lat >= 100 proves the scan empty locally
        (instead of shipping an invalid polygon GBIF 400s on);
        lat >= -100 clamps to -90 in the rendered WKT; NaN bounds are
        never folded (and never defeat the emptiness test)."""
        import math

        from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

        from gbif_filter_python_spark.sources.occurrence_source import (
            GbifOccurrencesReader,
        )

        r = GbifOccurrencesReader({"taxon_keys": "100"})
        list(r.pushFilters([GreaterThanOrEqual(("decimal_latitude",), 100.0)]))
        assert r._bbox_empty()
        assert len(r.partitions()) == 1  # the empty-scan sentinel
        assert list(r.read(r.partitions()[0])) == []

        r2 = GbifOccurrencesReader({"taxon_keys": "100"})
        list(
            r2.pushFilters(
                [
                    GreaterThanOrEqual(("decimal_latitude",), -100.0),
                    LessThanOrEqual(("decimal_latitude",), 10.0),
                    GreaterThanOrEqual(("decimal_longitude",), 0.0),
                    LessThanOrEqual(("decimal_longitude",), 5.0),
                ]
            )
        )
        assert not r2._bbox_empty()
        assert r2._effective_geometries() == [
            "POLYGON((0 -90,5 -90,5 10,0 10,0 -90))"
        ]

        r3 = GbifOccurrencesReader({"taxon_keys": "100"})
        residual = list(
            r3.pushFilters(
                [
                    GreaterThanOrEqual(
                        ("decimal_latitude",), float("nan")
                    ),
                    LessThanOrEqual(("decimal_latitude",), math.nan),
                ]
            )
        )
        assert len(residual) == 2  # NaN: residual, not folded
        assert not r3._bbox_pushed
        assert not r3._bbox_empty()
        assert r3._effective_geometries() == [None]

    def test_bbox_empty_envelope_is_empty_scan(self, pushdown, tmp_path):
        r, log = _reader(pushdown, tmp_path)
        df = (
            r.load()
            .filter(F.col("taxon_key") == 100)
            .filter(F.col("decimal_latitude") >= 50.0)
            .filter(F.col("decimal_latitude") <= 10.0)
        )
        assert df.count() == 0
        assert _calls(log) == []  # degenerate bbox: no fetch at all

    def test_explicit_geometry_option_wins_over_bbox(
        self, pushdown, tmp_path
    ):
        """A user-supplied WKT option is forwarded verbatim; range
        filters then stay entirely Spark-side (no polygon∩bbox
        intersection is attempted source-side)."""
        wkt = "POLYGON((0 0,9 0,9 9,0 9,0 0))"
        data = {
            f"100|FR|{wkt}": [dict(DATA["100|FR|"][0])]  # lat 1, lon 2
        }
        log = str(tmp_path / "wkt.jsonl")
        df = (
            pushdown.read.format("gbif_occurrences")
            .option(
                "fetch_factory",
                "gbif_filter_python_spark.sources."
                "occurrence_source:scripted_occurrence_fetch",
            )
            .option(
                "fetch_args", json.dumps({"data": data, "call_log": log})
            )
            .option("geometry", wkt)
            .load()
            .filter(F.col("taxon_key") == 100)
            .filter(F.col("country") == "FR")
            .filter(F.col("decimal_latitude") >= 0.5)
        )
        assert [x["occurrence_key"] for x in df.collect()] == [1]
        assert [c["geometry"] for c in _calls(log)] == [wkt]

    def test_bbox_wkt_formatting(self):
        from gbif_filter_python_spark.sources.occurrence_source import (
            bbox_wkt,
        )

        assert bbox_wkt(10, 50, 0, 5) == "POLYGON((0 10,5 10,5 50,0 50,0 10))"
        assert (
            bbox_wkt(10.5, None, None, None)
            == "POLYGON((-180 10.5,180 10.5,180 90,-180 90,-180 10.5))"
        )
        assert " 0.000001" in bbox_wkt(1e-6, 1, 0, 1)
        assert " -0," not in bbox_wkt(-0.0, 1, 0, 1)

    def test_conflicting_key_filters_intersect(self, pushdown, tmp_path):
        r, log = _reader(pushdown, tmp_path)
        df = (
            r.load()
            .filter(F.col("taxon_key").isin(100, 200))
            .filter(F.col("taxon_key") == 200)
            .filter(F.col("country") == "FR")
        )
        assert [x["occurrence_key"] for x in df.collect()] == [2]
        assert [c["taxon_key"] for c in _calls(log)] == [200]


class TestScriptedFetch:
    def test_keying_and_limit(self, tmp_path):
        f = ScriptedOccurrenceFetch(DATA)
        assert len(f(100, "FR", None, 10)) == 2
        assert len(f(100, "FR", None, 1)) == 1
        assert f(100, None, None, 10)[0]["country"] == "DE"
        assert f(999, "FR", None, 10) == []

    def test_empty_pushdown_intersection_is_empty_scan(self, pushdown, tmp_path):
        # option keys {100,200} intersected with filter key 300 -> []
        # is a CONSTRAINED-but-empty scan: 0 rows, not an error
        r, _ = _reader(pushdown, tmp_path, taxon_keys="100,200")
        df = r.load().filter(F.col("taxon_key") == 300)
        assert df.count() == 0


lat = st.floats(min_value=-90, max_value=90, allow_nan=False)


lon = st.floats(min_value=-180, max_value=180, allow_nan=False)
