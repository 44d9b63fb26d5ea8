"""Per-layer metrics of a traced run, from spans, event-log job groups
and the counts the gbif probes take.

Layers are the package's modules. A metric of a layer the workload
never reaches reads 0. Times and counts of a request layer are medians
over the requests (or probes) that reached it; ``spark.*`` totals are
per timed pass.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from tracing import GroupTotals, Span, group_id

GBIF_KINDS = ("country_tag", "polygon_tag", "expand", "country_filter")
MODULES = ("graph", "bpe", "similarity", "dedup", "profile", "corpus", "fuzzy")
SPARK = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "python_worker_sent_mb", "python_worker_returned_mb",
    "python_worker_start_s", "python_worker_init_s", "python_worker_run_s",
    "non_executor_s",
)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def declared(section: str) -> dict[str, str]:
    """Metric name → unit of one section (``end_to_end`` or
    ``per_layer``) of BENCHMARK.json, the single catalogue of metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def with_units(values: dict[str, float], section: str) -> dict[str, dict]:
    """``values`` as the result line's metrics; they must be exactly the
    metrics BENCHMARK.json declares in ``section``."""
    units = declared(section)
    if set(values) != set(units):
        raise RuntimeError(
            f"{section} metrics differ from BENCHMARK.json: "
            f"missing {sorted(set(units) - set(values))}, "
            f"undeclared {sorted(set(values) - set(units))}"
        )
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class SpanIndex:
    """Spans with the Spark work of each span's subtree."""

    def __init__(self, spans: list[Span], groups: dict[str | None, GroupTotals]):
        self.spans = spans
        kids = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                kids[s.parent].append(s.id)
        self.total: dict[int, GroupTotals] = {}
        for s in reversed(spans):  # children are recorded after parents
            t = GroupTotals()
            own = groups.get(group_id(s.id))
            if own is not None:
                t.add(own)
            for k in kids[s.id]:
                t.add(self.total[k])
            self.total[s.id] = t

    def named(self, name: str, req_prefix: str) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (s.req or "").startswith(req_prefix)
        ]

    def durations(self, name: str, req_prefix: str) -> list[float]:
        return [s.duration for s in self.named(name, req_prefix)]

    def jobs(self, name: str, req_prefix: str) -> list[int]:
        return [self.total[s.id].jobs for s in self.named(name, req_prefix)]

    def requests(self, req_prefix: str) -> list[Span]:
        return [
            s for s in self.spans
            if s.name.startswith("request/") and (s.req or "").startswith(req_prefix)
        ]


def per_layer(
    workload: str,
    setup_spans: list[Span],
    session_start_s: float,
    idx: SpanIndex,
    probes: list[tuple[str, str, dict]],
    timed: dict,
    untraced: dict,
    traced: dict,
    slots: int,
    query_module: dict[str, str],
) -> dict[str, float]:
    """Every per-layer metric of BENCHMARK.json by name: layers from
    the requests labelled ``traced`` (``timed``), the tracing overhead
    from the ``untraced`` and ``traced`` sides of the paired requests."""
    m: dict[str, float] = dict.fromkeys(declared("per_layer"), 0.0)
    m["session.start_s"] = session_start_s
    for name, span in (
        ("io.snapshot_write_s", "io.snapshot_write"),
        ("io.corpus_write_s", "io.corpus_write"),
    ):
        m[name] = _median(s.duration for s in setup_spans if s.name == span)

    T = "traced-"
    if workload == "gbif_filter":
        m["io.csv_read_s"] = _median(idx.durations("io.csv_read", T))
        m["io.csv_read_jobs"] = _median(idx.jobs("io.csv_read", T))
        m["io.csv_write_s"] = _median(idx.durations("io.csv_write", "probe-"))
        m["resolution.exec_s"] = _median(idx.durations("resolution.exec", "probe-"))
        m["resolution.jobs"] = _median(idx.jobs("resolution.exec", "probe-"))
        m["tagging.exec_s"] = _median(idx.durations("tagging.exec", "probe-"))
        m["expansion.exec_s"] = _median(idx.durations("expansion.exec", "probe-"))
        poly_probes = [
            s for s in idx.named("spatial.exec", "probe-") if "polygon_tag" in s.req
        ]
        m["spatial.exec_s"] = _median(s.duration for s in poly_probes)
        for kind, taxa, counts in probes:
            for k, v in counts.items():
                if k.startswith("resolution.") and taxa != "repeated":
                    continue
                if k.startswith("spatial.") and kind != "polygon_tag":
                    continue
                m[k] = v
        m["tagging.zone_keys"] = _median(c["tagging.zone_keys"] for _, _, c in probes)
        m["tagging.true_frac"] = _median(c["tagging.true_frac"] for _, _, c in probes)
        reqs = idx.requests(T)
        by_kind = defaultdict(list)
        for r in reqs:
            by_kind[r.name.split("/", 1)[1]].append(r)
        builds = {s.parent: s for s in idx.named("engine.build", T)}
        execs = {s.parent: s for s in idx.named("engine.exec", T)}
        for kind, rs in by_kind.items():
            m[f"engine.build_s.{kind}"] = _median(builds[r.id].duration for r in rs)
            m[f"engine.exec_s.{kind}"] = _median(execs[r.id].duration for r in rs)
        m["expansion.build_s"] = m["engine.build_s.expand"]
    else:
        for r in idx.requests(T):
            q = r.name.split("/", 1)[1]
            mod = query_module[q]
            for s in idx.spans:
                if s.parent != r.id:
                    continue
                if s.name.startswith("entry.build/"):
                    m[f"entry.{mod}.build_s"] += s.duration
                elif s.name.startswith("entry.exec/"):
                    m[f"entry.{mod}.exec_s"] += s.duration
            m[f"entry.{mod}.jobs"] += idx.total[r.id].jobs
        passes = timed["passes"]
        for mod in MODULES:
            for x in ("build_s", "exec_s", "jobs"):
                m[f"entry.{mod}.{x}"] /= passes

    total = GroupTotals()
    for r in idx.requests(T):
        total.add(idx.total[r.id])
    passes = timed["passes"]
    for x in SPARK:
        if x.startswith("python_worker_"):
            v = total.python.get(x[len("python_worker_"):], 0.0)
        elif x == "non_executor_s":
            v = total.non_executor_s(slots)
        else:
            v = getattr(total, x)
        m[f"spark.{x}"] = v / passes
    m["trace.req_p50_s"] = _median(traced["latencies"])
    m["trace.untraced_req_p50_s"] = _median(untraced["latencies"])
    m["trace.overhead_s"] = m["trace.req_p50_s"] - m["trace.untraced_req_p50_s"]
    return m
