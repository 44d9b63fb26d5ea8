"""Mechanical bench-accounting contracts (VERDICT r9 items 2 & 3).

These tests make two previously-informal rules enforceable:

1. The headline set definition in ``bench.py`` must match its own
   documentation: the documented non-headline lines (escape hatches,
   O(n²) verification baselines) are disjoint from the curated
   BENCH_QUERIES list, exist in the registry (so they ARE still
   timed), and every curated name resolves to a registry query.

2. "Every op added in round N must appear in round N's sf10 ladder
   artifact" — r9 laddered the r8 ops but none of its own six, which
   is exactly how the quadratic twonn/hubness shapes shipped without
   a scale witness. The additions of the current round are computed
   mechanically (registry keys minus the previous round's committed
   full-registry correctness key set) and must each appear in some
   ``BENCH_sf10*_r{N}.json``. Run the sf10 ladder BEFORE the
   end-of-round pytest gate — this test is the forcing function.
"""

from __future__ import annotations

import glob
import json
import os
import re

import bench
import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_non_headline_disjoint_from_curated():
    overlap = set(bench.NON_HEADLINE) & set(bench.BENCH_QUERIES)
    assert not overlap, (
        f"{overlap} are documented as non-headline but appear in the "
        "curated BENCH_QUERIES list — the headline definition no "
        "longer matches its documentation"
    )


def test_non_headline_still_timed_and_curated_resolvable():
    reg = set(entrymod.queries())
    assert set(bench.NON_HEADLINE) <= reg
    assert set(bench.BENCH_QUERIES) <= reg
    # the sweep covers the WHOLE registry (non-headline included)
    assert set(bench.bench_query_names()) == reg


def test_every_new_op_this_round_has_an_sf10_ladder_row():
    n = entrymod.CURRENT_ROUND
    prev = os.path.join(REPO, f"CORRECTNESS_LOCAL_r{n - 1:02d}.json")
    if not os.path.exists(prev):
        return  # round 1 shape: nothing to diff against
    with open(prev) as fh:
        prev_keys = set(json.load(fh))
    additions = sorted(set(entrymod.queries()) - prev_keys)
    if not additions:
        return
    laddered: set[str] = set()
    for path in glob.glob(os.path.join(REPO, f"BENCH_sf10*_r{n:02d}.json")):
        with open(path) as fh:
            art = json.load(fh)
        laddered.update(art.get("queries", {}))
        for rung_map in art.get("timings", {}).values():
            laddered.update(rung_map)
    missing = [q for q in additions if q not in laddered]
    assert not missing, (
        f"round {n} added {missing} to the registry without an sf10 "
        f"ladder row (BENCH_sf10*_r{n:02d}.json) — run "
        "tools/bench_scale.py on them before the end-of-round pytest "
        "gate (VERDICT r9 item 2: unladdered new ops are how the "
        "quadratic twonn/hubness shapes shipped)"
    )


def test_batch_chain_is_a_refinement_chain():
    """VERDICT r10 item 5's fix rests on one algebraic fact: every
    element of bench._BATCH_CHAIN divides the next, so md5 % new_n
    exactly REFINES md5 % old_n and a query's co-residents only ever
    shrink as the registry grows. Lock it mechanically."""
    chain = bench._BATCH_CHAIN
    assert chain[0] == 6  # the r8-r10 historical base — never change
    for a, b in zip(chain, chain[1:]):
        assert b % a == 0, (a, b)


def test_n_batches_bounds_every_batch_and_is_chain_member():
    n = bench.n_batches()
    assert n in bench._BATCH_CHAIN
    names = bench.bench_query_names()
    from collections import Counter

    counts = Counter(bench.batch_of(q, n) for q in names)
    assert max(counts.values()) <= bench.MAX_BATCH_QUERIES


def test_refinement_preserves_old_coresidency():
    """Any two queries sharing a batch at n_batches() also shared one
    at EVERY smaller chain element — the cross-round comparability
    guarantee stated in the module docstring."""
    n = bench.n_batches()
    names = bench.bench_query_names()[:40]
    smaller = [c for c in bench._BATCH_CHAIN if c < n]
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            if bench.batch_of(a, n) == bench.batch_of(b, n):
                for c in smaller:
                    assert bench.batch_of(a, c) == bench.batch_of(b, c)


def test_superlinear_ladder_lines_carry_named_cause_notes():
    """VERDICT r11 item 2: the sf10 ladder contract is ANNOTATED
    ladders — any line whose sf10/sf0.1 ratio exceeds 3x (a 100x data
    step, so 3x is generously sub-linear) must carry a non-empty
    ``notes[query]`` string naming the cause, or super-linear shapes
    ship with a timing nobody has to explain (r9/r10 annotated every
    such line; r11's artifacts initially regressed to bare numbers).
    Applies from round 11 on so historical artifacts stay untouched."""
    for path in glob.glob(os.path.join(REPO, "BENCH_sf10*_r*.json")):
        base = os.path.basename(path)
        round_no = int(re.search(r"_r(\d+)", base).group(1))
        if round_no < 11:
            continue
        with open(path) as fh:
            art = json.load(fh)
        t = art.get("timings", {})
        if "sf0.1" not in t or "sf10" not in t:
            continue
        notes = art.get("notes", {})
        missing = []
        for q, v01 in t["sf0.1"].items():
            v10 = t["sf10"].get(q)
            if v10 is None or not v01 or v01 <= 0:
                continue
            if v10 / v01 > 3 and not str(notes.get(q, "")).strip():
                missing.append((q, round(v10 / v01, 1)))
        assert not missing, (
            f"{base}: ladder lines {missing} scale >3x from sf0.1 to "
            "sf10 but have no named-cause entry in the artifact's "
            "'notes' dict — annotate (sub-linear-vs-data? known "
            "shape? regression?) before committing the artifact"
        )


# --- round-15 stdout-contract fixes (VERDICT r14 items 1 & 5) ------------


def _fat_payload():
    """A payload shaped like r14's failure: 322 queries plus a
    48-mover adjudication block (~4.5 KB on its own)."""
    queries = {f"query_{i:03d}": round(0.5 + i * 0.037, 3) for i in range(322)}
    movers = {
        "prev_artifact": "BENCH_FULL_LATEST_c32.json",
        "threshold": 1.5,
        "min_sec": 1.0,
        "n_compared": 200,
        "n_flagged": 48,
        "flagged": {
            f"query_{i:03d}": {
                "prev_sec": 2.0,
                "cur_sec": round(2.0 * (1.6 + (i % 7) * 0.5), 3),
                "calibrated_ratio": round(1.6 + (i % 7) * 0.5, 3),
            }
            for i in range(48)
        },
        "isolated": {
            f"query_{i:03d}": {
                "isolated_times": [1.0, 1.1],
                "isolated_ratio_vs_prev": 0.9,
                "verdict": "environment: isolated re-time back inside the prior band",
            }
            for i in range(3)
        },
    }
    payload = {
        "metric": "headline_queries_total",
        "value": 180.0,
        "calibrated_value": 181.0,
        "calibration": {"scale": 1.0, "cpu_sec": 0.7},
        "unit": "sec",
        "n_queries": len(queries),
        "queries": dict(queries),
        "sf": 0.1,
        "cpus": 32,
        "gbif_pipeline": {"total_sec": 9.9},
        "batching": {"mode": "fresh-jvm", "n_batches": 14},
        "movers": bench._movers_digest(movers),
    }
    return payload, queries, movers


def test_fit_stdout_always_honors_budget_and_contract():
    """r14 regression: the one-line stdout blew the driver's 2000-byte
    capture and PERF lost every per-query timing. The fitted line must
    ALWAYS be within budget, parse as JSON, keep the driver-contract
    fields, and keep a useful number of the SLOWEST per-query
    timings."""
    payload, queries, _ = _fat_payload()
    line = bench._fit_stdout(payload, queries)
    assert len(line) <= bench.STDOUT_BUDGET
    parsed = json.loads(line)
    for field in ("metric", "value", "unit", "queries", "sf"):
        assert field in parsed, f"contract field {field} dropped"
    kept = parsed["queries"]
    assert len(kept) >= 30, f"only {len(kept)} per-query timings survived"
    # the kept set is the slowest ones
    slowest = sorted(queries, key=queries.get, reverse=True)[: len(kept)]
    assert set(kept) == set(slowest)
    # accounting: folded queries are summarized, not silently dropped
    assert parsed["fast_omitted"]["n"] == len(queries) - len(kept)


def test_movers_digest_is_byte_bounded():
    _, _, movers = _fat_payload()
    digest = bench._movers_digest(movers)
    blob = json.dumps(digest, separators=(",", ":"))
    assert len(blob) <= 600, f"movers digest too fat: {len(blob)}B"
    assert digest["n_flagged"] == 48
    assert len(digest["top"]) == 3
    # top by |log ratio| — the 4.6x movers outrank the 1.6x ones
    assert all(v > 4 for v in digest["top"].values())


def test_movers_to_isolate_covers_every_big_ratio():
    """VERDICT r14 item 5: every flagged mover beyond 2x (either
    direction) must get an isolation verdict, not just the top-3."""
    flagged = {
        "env_a": {"calibrated_ratio": 9.0},
        "env_b": {"calibrated_ratio": 8.0},
        "env_c": {"calibrated_ratio": 7.0},
        "kcenter_like": {"calibrated_ratio": 3.6},
        "halfspeed": {"calibrated_ratio": 0.4},
        "mild": {"calibrated_ratio": 1.6},
    }
    chosen = bench._movers_to_isolate(flagged)
    assert "kcenter_like" in chosen  # >2x is always adjudicated now
    assert "halfspeed" in chosen  # <0.5x too
    # cap holds under a flood of >2x movers
    flood = {f"m{i}": {"calibrated_ratio": 2.5 + i * 0.01} for i in range(40)}
    assert len(bench._movers_to_isolate(flood)) == bench.MOVER_MAX_ISOLATED


def test_bench_out_default_is_cpu_suffixed(spark, monkeypatch):
    """VERDICT r14 item 1: the driver's 8-core rerun clobbered the
    32-core full artifact; the default output name now carries the
    core count. That count is the session's own default parallelism,
    not an environment variable read with 32 as a guess."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench._bench_cpus(spark) == 4  # the suite's local[4]


def test_scale_artifact_records_the_session_parallelism(spark, monkeypatch):
    """The scale ladder's ``cpus`` is the session's default
    parallelism, as in bench.py, not an environment variable read
    with 32 as a guess."""
    from tools.bench_scale import scale_payload

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    payload = scale_payload(
        spark, {"sf0.1": {"q": 2.0}, "sf10": {"q": 30.0}},
        {"sf0.1": {"q": 5}, "sf10": {"q": 50}},
    )
    assert payload["cpus"] == 4  # the suite's local[4]
    assert payload["ratios"] == {"sf10/sf0.1": {"q": 15.0}}


def test_movers_skip_a_prev_artifact_without_cpus(tmp_path, monkeypatch):
    """A previous artifact that does not record its core count is not
    compared against, and the skip says why."""
    (tmp_path / "BENCH_FULL_LATEST.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"q": 1.0}}))
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    out = bench._auto_adjudicate_movers(
        {"q": 9.0}, {"scale": 1.0}, "/data/sf0.1", 4)
    assert out == {"prev_artifact": "BENCH_FULL_LATEST.json",
                   "skipped": "prev cpus unknown"}
