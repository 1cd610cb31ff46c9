"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py          # from the repository root

Runs both workloads untraced and traced on one seed and checks that
every metric BENCHMARK.json names appears with its unit, that the
traced detail line holds every layer metric of the workload, and that no
operation failed; then runs `pos_live` with a deliberately corrupted gold
table and checks that the run counts a failed operation and is not
correct. Prints the tracing overhead (traced minus untraced `op_s.p50`)
of each workload. Exits 0 when every check passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

SEED = 7
SECONDS = 6


def main() -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pos_dlt_spark")):
        print("selftest: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import corpus_curate, pos_live
    from perfbench import run as bench_run

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    tiny = {
        "pos_live": pos_live.Sizes(n_items=10, n_trans=200, history_files=4, interval_s=1.0, setups=2),
        "corpus_curate": corpus_curate.Sizes(n_docs=100, n_vectors=100),
    }
    problems: list[str] = []

    def run(workload: str, trace: int):
        args = argparse.Namespace(workload=workload, seed=SEED, seconds=SECONDS, trace=trace)
        run_id = f"selftest-{workload}-t{trace}-{os.getpid()}"
        work = os.path.join(root, ".perfbench", "runs", run_id)
        try:
            return bench_run.bench(args, root, work, run_id, tiny[workload])
        finally:
            shutil.rmtree(work, ignore_errors=True)

    for workload in bench_run.WORKLOADS:
        op_s = {}
        for trace in (0, 1):
            detail, line = run(workload, trace)
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            if got != expected[trace]:
                problems.append(f"{workload} trace={trace}: metrics {got} != {expected[trace]}")
            if trace:
                own = {k: v["unit"] for k, v in detail["layers"].items()}
                want = {"pos_live": pos_live, "corpus_curate": corpus_curate}[workload].LAYER_UNITS
                if own != want:
                    problems.append(f"{workload}: layer metrics {own} != {want}")
            if not line["correct"] or line["failed"]:
                problems.append(f"{workload} trace={trace}: failed ops {detail['errors']}")
            op_s[trace] = detail["end_to_end"]["op_s.p50"]
        print(f"{workload}: tracing overhead {op_s[1] - op_s[0]:+.3f} s on op_s.p50 {op_s[0]:.3f} s")

    read_gold = pos_live.read_gold

    def corrupted(spark, pipe):
        gold = read_gold(spark, pipe)
        gold.loc[0, "current_inventory"] += 1
        return gold

    pos_live.read_gold = corrupted
    try:
        detail, line = run("pos_live", 0)
    finally:
        pos_live.read_gold = read_gold
    if line["correct"] or line["failed"] < 1 or not any("gold check" in e for e in detail["errors"]):
        problems.append(f"corrupted gold was not counted as a failed op: {line}")

    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
