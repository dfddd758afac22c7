"""The repository benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload frontier_wave --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, starts a
``local[nproc]`` session through the engine's ``get_spark``, measures for
``--seconds`` seconds, checks every operation's output, and prints a
report followed by one JSON line (always the last line of stdout):

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the same workload with layer wrappers and the Spark
event log on and reports the per-layer metrics instead, including the
tracing overhead. Every file the run writes lives under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("frontier_wave", "site_crawl")
# Times are CPU seconds of the process tree (driver, JVM, Python workers):
# wall time on a shared host moves with other tenants' load by more than
# these metrics' bounds. Wall times are printed in the report.
E2E_UNITS = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "urls_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}
# the same numbers under the names users of each workload know them by
WORKLOAD_NAMES = {
    "frontier_wave": {"op_cpu_s": "wave_cpu_s", "urls_per_cpu_s": "frontier_urls_per_cpu_s"},
    "site_crawl": {"op_cpu_s": "crawl_cpu_s", "urls_per_cpu_s": "crawl_urls_per_cpu_s"},
}
# where a traced run leaves its spans (ignored by git)
TRACES = ROOT / ".perfbench_traces"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "searchgov_spider_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine sources under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench import harness

    work = harness.Workdir(f"{args.workload}-{args.seed}")
    try:
        harness.prepare_environment(work)
        result = run_workload(args, work)
    finally:
        work.remove()
    print_report(args, result)
    print(json.dumps(result["line"]), flush=True)
    return 0


def run_workload(args, work) -> dict:
    from perfbench import frontier_wave, harness, site_crawl, trace

    sampler = harness.RssSampler().start()
    spark = None
    try:
        t_session = time.time()
        spark, session = harness.start_session(work, event_log=bool(args.trace))
        tracer = None
        if args.trace:
            tracer = trace.Tracer(spark, run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
            tracer.add_span("session.start", t_session, t_session + session.wall_s)
        if args.workload == "site_crawl":
            out = site_crawl.run(spark, work, args.seed, args.seconds, tracer=tracer)
        else:
            out = frontier_wave.run(spark, args.seed, args.seconds, tracer=tracer)
    finally:
        if spark is not None:
            harness.stop_session(spark)
        peak = sampler.stop()

    if args.trace:
        jobs = trace.read_event_log(work.path / "events")
        layer = trace.roll_up(tracer, jobs, trace.OP)
        layer.update(out.layer)
        TRACES.mkdir(exist_ok=True)
        tracer.dump(TRACES / f"{args.workload}-seed{args.seed}.jsonl")
        metrics = {name: {"value": float(layer[name]), "unit": trace.unit_of(name)} for name in trace.per_layer_names()}
    else:
        e2e = {"setup_s": session.cpu_s + out.setup_cpu_s, **out.e2e, "peak_rss_mb": peak / 1e6}
        metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in E2E_UNITS.items()}
    return {
        "line": {
            "correct": out.failed == 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": metrics,
        },
        "session": session,
        "notes": out.notes,
        "problems": out.problems,
    }


def print_report(args, result: dict) -> None:
    line = result["line"]
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    names = WORKLOAD_NAMES[args.workload] if not args.trace else {}
    for name, m in line["metrics"].items():
        alias = names.get(name)
        shown = f"{name} ({alias})" if alias else name
        print(f"  {shown:<48} {m['value']:>16.6g} {m['unit']}")
    ratio = line["failed"] / line["attempted"] if line["attempted"] else 0.0
    print(f"  {'failure_ratio':<48} {ratio:>16.6g} ratio ({line['failed']}/{line['attempted']} operations)")
    session = result["session"]
    print(f"  session start: CPU {session.cpu_s:.3f} s (part of setup_s), wall {session.wall_s:.3f} s")
    for note in result["notes"]:
        print(f"  {note}")
    for problem in result["problems"][:20]:
        print(f"  WRONG: {problem}")


if __name__ == "__main__":
    sys.exit(main())
