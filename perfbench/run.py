"""Benchmark command for stractt_spark.

    python3 perfbench/run.py --workload index_lifecycle --seed 1 \
        --seconds 8 --trace 0

Runs one seeded workload (see workloads.py) against the public API on
local[nproc], checks every result against the pure-Python oracle and
prints a report followed, as the last line of stdout, by one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.  Scratch files
(corpus cache, indexes, spans) live under ``.perfbench/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
from collections import Counter

from harness import ROOT, WORK, host_settings, load_corpus, median, now, start_spark, stop_spark

WORKLOADS = ("index_lifecycle", "search_multifield")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def install_spans(tracer) -> None:
    """Child spans around the public functions a query passes through."""
    import stractt_spark.functions.query_parse as query_parse
    import stractt_spark.operators.multifield as multifield
    import stractt_spark.operators.wand as wand
    from stractt_spark.plans.build import SegmentIndex

    parse = "functions.query_parse.parse_query"
    tracer.wrap(query_parse, "parse_query", parse)
    tracer.wrap(multifield, "parse_query", parse)  # imported by name there
    tracer.wrap(SegmentIndex, "term_df", "plans.build.term_df")
    tracer.wrap(multifield.MultiFieldSegmentIndex, "term_df", "plans.build.term_df")
    tracer.wrap(wand, "wand_topk", "operators.wand.wand_topk")


def tokens_per_s(docs) -> float:
    """Direct analyzer throughput over a fixed slice of the corpus."""
    from stractt_spark.functions.tokenizer import get_analyzer

    tok = get_analyzer("code")
    texts = [docs[i][1] for i in sorted(docs)[:2000]]
    rates = []
    for _ in range(3):
        t0 = now()
        n = sum(len(tok(t)) for t in texts)
        rates.append(n / (now() - t0))
    return median(rates)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("stractt_spark") is None:
        print(f"perfbench: package stractt_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    import pyspark

    from harness import Tracer
    from streams import mix, repeat_frac
    from workloads import N_DOCS, TEXTS_PER_CLASS, Run

    host = host_settings()
    load0 = os.getloadavg()
    t0 = now()
    spark = start_spark(host)
    session_s = now() - t0
    tracer = Tracer(spark, bool(args.trace))
    try:
        t1 = now()
        corpus, docs = load_corpus(spark, args.seed, N_DOCS)
        wall = {"session": session_s, "corpus": now() - t1}
        run = Run(spark, tracer, args.workload, args.seed, args.seconds,
                  session_s, corpus, docs)
        if args.trace:
            install_spans(tracer)
            run.info["tokens_per_s"] = tokens_per_s(docs)
        t1 = now()
        if args.workload == "index_lifecycle":
            run.run_lifecycle()
        else:
            run.run_search()
        tracer.unwrap()
        wall["workload"] = now() - t1
        t1 = now()
        checked = run.check()
        wall["oracle"] = now() - t1
        if args.trace:
            lat_t = [r["lat"] for r in run.queries if r.get("window") and r["span"] and r["lat"]]
            lat_u = [r["lat"] for r in run.queries if r.get("window") and not r["span"] and r["lat"]]
            overhead = (median(lat_t) - median(lat_u)) * 1e3
            metrics, notes = run.per_layer(overhead)
        else:
            metrics, notes = run.end_to_end()
        tracer.dump(os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}.json"))
    finally:
        t1 = now()
        stop_spark(spark)
    wall["stop"] = now() - t1
    load1 = os.getloadavg()

    out = sys.stdout
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}", file=out)
    print(f"# host cpus={host['cpus']} driver_memory={host['driver_memory']} "
          f"phys_mb={host['phys_mb']} pyspark={pyspark.__version__} "
          f"loadavg_start={','.join(f'{x:.2f}' for x in load0)} "
          f"loadavg_end={','.join(f'{x:.2f}' for x in load1)}", file=out)
    print("# wall seconds: " + ", ".join(f"{k} {v:.1f}" for k, v in wall.items()), file=out)
    window = [r["q"] for r in run.queries if r.get("window")]
    print(f"# stream texts_per_class={TEXTS_PER_CLASS[args.workload]} "
          f"ops={len(window)} repeat_frac={repeat_frac(window):.3f}; "
          f"measured mix: {mix(window)}", file=out)
    for line in notes:
        print(f"# {line}", file=out)
    for name, (value, unit) in metrics.items():
        print(f"# metric {name} = {value:.6g} {unit}", file=out)
    frac = run.failed / run.attempted if run.attempted else 0.0
    print(f"# failed_frac = {frac:.6g} ({run.failed}/{run.attempted}); "
          f"oracle checked {checked} results, {len(run.mismatches)} differ "
          f"({dict(Counter(m.split()[0] for m in run.mismatches))}); "
          f"{len(run.inconsistent)} inconsistent index states", file=out)
    for m in run.inconsistent + run.mismatches[:5]:
        print(f"# FAILED {m}", file=out)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), file=out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
