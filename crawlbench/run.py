"""Crawl benchmark: one workload, one seed, one closed-loop run.

    python3 crawlbench/run.py --workload seen_deep --seed 1 --seconds 8 --trace 0

Runs crawlbench/workload.py in a child process (its own session, so
the Spark JVM and every Python worker it forks are reaped with it),
prints the metric tables, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` enables the Spark event
log and reports the per-layer metrics instead (see README.md).
Everything the run writes lives under ``.bench_work/`` in the
checkout and is removed at exit, apart from the last ten untraced
throughputs per workload, which the traced run compares against.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import host  # noqa: E402
from layers import LAYER_METRICS, PHASES, THREADS  # noqa: E402

DEADLINE_S = 170  # the whole run, child start to reaped process group


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. The PySpark worker daemon
    moves to a process group of its own, but it stays in the session."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def _reap(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's session and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _session_pids(proc.pid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            pass
        deadline = time.time() + 5
        while _session_pids(proc.pid) and time.time() < deadline:
            time.sleep(0.1)
        if not _session_pids(proc.pid):
            return


def run_child(args, work: str) -> dict | None:
    cores = host.cpu_count()
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=f"{host.driver_heap_mb()}m",
    )
    os.makedirs(env["TMPDIR"], exist_ok=True)
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "child.log")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"), args.workload,
           str(args.seed), str(args.seconds), str(args.trace), work, result_path]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            proc.wait(timeout=DEADLINE_S - 15)
        except subprocess.TimeoutExpired:
            print(f"workload did not finish in {DEADLINE_S - 15} s", file=sys.stderr)
        finally:
            _reap(proc)
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        return None
    with open(result_path) as f:
        return json.load(f)


def _print_table(title: str, rows: list[tuple]) -> None:
    print(f"\n{title}")
    for row in rows:
        print("  " + "  ".join(f"{c:>14}" if i else f"{c:<34}" for i, c in enumerate(row)))


def report_end_to_end(res: dict) -> dict:
    e2e = res["end_to_end"]
    setup = ("session.start_s", "corpus.gen_s", "oracle.run_s", "warm.run_s")
    _print_table("end-to-end", [(k, f"{v[0]:.6g}", v[1]) for k, v in e2e.items()]
                 + [(k, f"{v[0]:.6g}", v[1]) for k, v in res["info"].items()]
                 + [(f"  {k}", f"{res['layer'][k]:.6g}", "s") for k in setup])
    return {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}


def report_layers(res: dict, untraced: float | None) -> dict:
    layer = res["layer"]
    names = {v: k for k, v in THREADS.items()}
    round_s = layer["driver.round_s"]
    _print_table(
        f"phases, per round of {round_s:.3f} s (thread: the driver thread that "
        "submits the jobs; share: wall_s / round, threads overlap)",
        [("phase", "thread", "wall_s", "share", "exec_s", "shuffle_bytes")]
        + [(p, names.get(layer[f"phase.{p}.thread"], "-"),
            f"{layer[f'phase.{p}.wall_s']:.3f}", f"{layer[f'phase.{p}.wall_s'] / round_s:.3f}",
            f"{layer[f'phase.{p}.exec_s']:.3f}",
            f"{layer[f'phase.{p}.shuffle_bytes']:.0f}") for p in PHASES],
    )
    _print_table("layers", [(k, f"{layer[k]:.6g}", LAYER_METRICS[k])
                            for k in LAYER_METRICS if not k.startswith("phase.")])
    traced = layer["trace.crawl_urls_per_s"]
    if untraced:
        print(f"\ntracing overhead: {traced:.1f} URLs/s traced vs {untraced:.1f} untraced "
              f"(median of the last untraced runs here; {(traced - untraced) / untraced:+.1%})")
    else:
        print("\ntracing overhead: no untraced run of this workload in this checkout yet")
    return {k: {"value": layer[k], "unit": u} for k, u in LAYER_METRICS.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")):
        print(f"no crawler_spark package under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    from shapes import SHAPES

    if args.workload not in SHAPES:
        ap.error(f"--workload must be one of {', '.join(SHAPES)}")

    bench_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        res = run_child(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        return 1
    if not res["end_to_end"]:
        print("no crawl completed", file=sys.stderr)
        return 1
    # the last 10 untraced throughputs of this workload in this checkout
    ref_path = os.path.join(bench_root, f"untraced_{args.workload}.json")
    recent = []
    if os.path.exists(ref_path):
        with open(ref_path) as f:
            recent = json.load(f)
    if args.trace:
        metrics = report_layers(res, statistics.median(recent) if recent else None)
    else:
        metrics = report_end_to_end(res)
        with open(ref_path, "w") as f:
            json.dump((recent + [metrics["crawl_urls_per_s"]["value"]])[-10:], f)
    for p in res["problems"]:
        print(f"kernel check failed: {p}")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
