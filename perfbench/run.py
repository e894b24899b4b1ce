"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard|scan --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from the
seed, drives the engine through its public API from one client thread in
a closed loop, checks every result against a DuckDB mirror and prints each
metric as ``name value unit``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. A traced run also prints and writes a
per-layer table to ``.perfbench_out/``. Scratch data lives under
``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out += [int(x) for x in fh.read().split()]
        except FileNotFoundError:  # the thread ended after the listing
            continue
    return out


def _stop_jvm() -> None:
    """Shut the Spark JVM down (it exits when its stdin closes) and wait for
    it and the Python workers it started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    kids = _children(proc.pid) if proc.poll() is None else []
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    for pid in kids:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _cpu_times() -> list[int]:
    """The machine's CPU time counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _table(workload: str, seed: int, layers: dict, overhead: list[str]) -> str:
    lines = [
        f"Per-layer metrics: workload {workload}, seed {seed}",
        "",
        "| metric | value | unit | base | moves (end-to-end metric, workload) |",
        "|---|---|---|---|---|",
    ]
    for name, (value, unit, base, moves) in layers.items():
        v = "n/a (not exercised)" if value is None else f"{value:.6g}"
        lines.append(f"| {name} | {v} | {unit} | {base} | {moves} |")
    return "\n".join(lines + [""] + overhead) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "scan"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, ROOT]
    import seriesly_spark

    if not os.path.abspath(seriesly_spark.__file__).startswith(ROOT + os.sep):
        print(f"seriesly_spark is not in this checkout ({seriesly_spark.__file__})",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Python-side temp files (the JVM launcher's handshake) stay in the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None

    from workloads import CPUS, LAYERS, WORKLOADS, Bench

    cpu0 = _cpu_times()
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        WORKLOADS[args.workload](b)
        fin = b.finish()
        e2e = b.end_to_end(fin)
        layers = b.per_layer(fin) if args.trace else None
    finally:
        b.close()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    cpu = [a - z for a, z in zip(_cpu_times(), cpu0)]
    tag = f"{args.workload}-seed{args.seed}"
    print(f"workload {args.workload} seed {args.seed}: closed loop, 1 client, "
          f"Spark local[{CPUS}], {b.cycles} timed cycles, {len(b.query_ms)} queries, "
          f"{len(b.commit_ms)} commits, {b.attempted} ops attempted, {b.loop_s:.3f} s of "
          f"engine time in the loop; wall s: "
          + ", ".join(f"{k} {v:.1f}" for k, v in b.wall.items())
          + f"; CPU steal {100 * cpu[7] / sum(cpu):.1f}% of the machine's CPU time")
    print(f"error_rate {b.failed / b.attempted:.6g} ratio "
          f"({b.failed} failed of {b.attempted} attempted; {b.timeouts} timed out)")
    for name, (value, unit) in e2e.items():
        print(f"{name} {value:.6g} {unit}")

    summary_path = os.path.join(out_dir, f"untraced-{args.workload}.json")
    if args.trace:
        b.tr.dump(os.path.join(out_dir, f"spans-{tag}.json"))
        rows = {n: (layers[n][0], LAYERS[n][0], layers[n][1], LAYERS[n][1]) for n in LAYERS}
        overhead = [
            f"Tracing overhead, measured: {layers['trace.overhead_ms'][0]:.3f} ms of span "
            f"bookkeeping per op ({layers['trace.overhead_ms'][1]}).",
        ]
        if os.path.exists(summary_path):
            with open(summary_path) as fh:
                base = json.load(fh)
            for m in ("query_p50_ms", "commit_p50_ms"):
                overhead.append(
                    f"Tracing overhead, traced minus untraced {m}: "
                    f"{e2e[m][0] - base[m]:+.3f} ms (untraced run: seed {base['seed']})."
                )
        table = _table(args.workload, args.seed, rows, overhead)
        with open(os.path.join(out_dir, f"layers-{tag}.md"), "w") as fh:
            fh.write(table)
        print(table)
        metrics = {m["name"]: {"value": layers[m["name"]][0], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        with open(summary_path, "w") as fh:
            json.dump({"seed": args.seed, **{k: v for k, (v, _) in e2e.items()}}, fh)
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
