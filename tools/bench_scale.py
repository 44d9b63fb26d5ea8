"""Scale-exponent bench (VERDICT r4 item 9): run the heaviest queries
at sf0.1 / sf1 / sf3 on the same local[32] budget and report per-query
ratios, so the 100 TB design claims carry a measured exponent one rung
above the per-round gate.

Usage: python tools/bench_scale.py [--out BENCH_sf3_r05.json]
       [--sfs /root/testdata/sf0.1 /root/repo/.localdata/sf1 ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from gbif_filter_python_spark.session import get_spark

#: The heavy set named by VERDICT r4 item 9, plus this round's two
#: scale-shape changes (capped proximity join, funneled skyline) so the
#: fix is measured, not asserted.
HEAVY = [
    "geo_near_pairs",
    "geo_hot_cell_capped",
    "minhash_pairs",
    "semantic_dedup",
    "bpe_learn",
    "near_dup_lsh",
    "pq_search",
    "label_prop",
    "k_truss",
    "dup_components_star",
    "skyline_pareto",
    "ppjoin_pairs",
    "winnow_overlap",
]


def scale_payload(spark, results: dict, rows: dict) -> dict:
    """The artifact: per-rung timings and rows, each later rung's
    ratios to the first, and the session's default parallelism."""
    ratios = {}
    base, *rest = list(results)
    for lab in rest:
        ratios[f"{lab}/{base}"] = {
            q: round(results[lab][q] / max(results[base][q], 1e-9), 2)
            for q in results[base]
        }
    return {
        "metric": "scale_bench",
        "unit": "sec",
        "timings": results,
        "rows": rows,
        "ratios": ratios,
        "cpus": spark.sparkContext.defaultParallelism,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="BENCH_sf3_r05.json")
    ap.add_argument(
        "--sfs",
        nargs="+",
        default=[
            "/root/testdata/sf0.1",
            "/root/repo/.localdata/sf1",
            "/root/repo/.localdata/sf3",
        ],
    )
    ap.add_argument("--queries", nargs="+", default=HEAVY)
    args = ap.parse_args()

    spark = get_spark(
        app_name="scale-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    qs = entrymod.queries()
    results: dict[str, dict[str, float]] = {}
    rows: dict[str, dict[str, int]] = {}
    for sf_dir in args.sfs:
        label = sf_dir.rstrip("/").split("/")[-1]
        results[label] = {}
        rows[label] = {}
        for name in args.queries:
            t0 = time.perf_counter()
            # noop sink: materialize every output column (bench.py's
            # r7 forcing fix — count() lets Catalyst prune select-only
            # transforms and eliminate unique-key spine joins)
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = round(time.perf_counter() - t0, 3)
            n = qs[name](spark, sf_dir).count()  # rows, untimed
            results[label][name] = dt
            rows[label][name] = n
            print(f"{label:8s} {name:24s} {dt:9.3f}s  {n} rows",
                  file=sys.stderr, flush=True)

    payload = scale_payload(spark, results, rows)
    with open(args.out, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps({"wrote": args.out}))
    spark.stop()


if __name__ == "__main__":
    main()
