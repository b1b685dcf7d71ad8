"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload snapshot_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  All scratch files (landing zone,
warehouse, Spark local dirs, temp files) live under
``.perfbench_work/`` in the current directory and are removed at exit.

Standard output ends with one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  The line before it is the
full run record (``PERFBENCH_RECORD {...}``): every metric, peak RSS,
the op tail, ``failed_ratio``, receipts, input properties and, when
traced, per-layer self times and the spans.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
PACKAGE = "topn_clashroyal_etl_sql_snapshot_spark"

END_TO_END = {  # name -> unit, as declared in BENCHMARK.json
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
}


def tail(latencies: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, and
    the latency there; (None, None) when a run holds too few ops."""
    n = len(latencies)
    if n < 11:
        return None, None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(latencies)[n - 11]


def git_rev() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--players", type=int, default=None,
                    help="leaderboard rows, also the top-N (default 1000)")
    ap.add_argument("--entries-per-player", type=int, default=None,
                    help="battlelog entries per player (default 25)")
    ap.add_argument("--seed-docs", type=int, default=None,
                    help="curation_day seed corpus documents (default 10000)")
    ap.add_argument("--day-docs", type=int, default=None,
                    help="curation_day documents per day (default 1000)")
    args = ap.parse_args()
    if args.players is not None and not 2 <= args.players <= 1000:
        ap.error("--players must be within 2..1000 (one leaderboard page)")
    if args.entries_per_player is not None and args.entries_per_player < 1:
        ap.error("--entries-per-player must be at least 1")
    for flag in ("seed_docs", "day_docs"):
        if getattr(args, flag) is not None and getattr(args, flag) < 20:
            ap.error(f"--{flag.replace('_', '-')} must be at least 20")
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: no {PACKAGE}/ in {ROOT}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep Spark's and the JVM's scratch inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={work}/tmp"
    ).strip()
    sys.path.insert(0, ROOT)

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work)
        return 2
    sizes = workloads.Sizes()
    for name in ("players", "entries_per_player", "seed_docs", "day_docs"):
        if getattr(args, name) is not None:
            setattr(sizes, name, getattr(args, name))
    try:
        out = workloads.WORKLOADS[args.workload](
            work, args.seed, args.seconds, bool(args.trace), T_PROCESS, sizes
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still owns a sibling directory

    lat = out.latencies
    pct, tail_s = tail(lat)
    e2e = {
        "setup_s": out.setup_s,
        "op_p50_s": statistics.median(lat),
        "items_per_s": out.items / out.timed_s,
        "stored_bytes_per_input_byte": out.stored_bytes / out.input_bytes,
    }
    record = {
        "workload": out.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "peak_rss_mb": out.peak_rss_mb,
        "op_tail_s": tail_s,
        "op_tail_percentile": pct,
        "failed_ratio": out.failed / out.attempted,
        "attempted": out.attempted,
        "failed": out.failed,
        "failures": out.failures[:10],
        "items": out.items,
        "timed_s": out.timed_s,
        "latencies_s": lat,
        "input_bytes": out.input_bytes,
        "stored_bytes": out.stored_bytes,
        "inputs": out.props,
        "receipts": {**out.receipts, "git_rev": git_rev()},
    }
    if args.trace:
        record["layers"] = out.layers
        record["self_s_per_op"] = out.self_s
        record["spans"] = out.spans
        metrics = {k: {"value": float(out.layers.get(k, 0.0)), "unit": u}
                   for k, u in workloads.LAYERS[args.workload].items()}
    else:
        metrics = record["metrics"]
    print("PERFBENCH_RECORD " + json.dumps(record, default=str))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
