#!/usr/bin/env python3
"""Smoke run of every workload at the tiny size.

    python3 perfbench/smoke.py

Runs ingest, query and refresh with `--size tiny`, untraced and traced,
and fails unless every run exits 0, passes its output checks, and prints
exactly the end-to-end (untraced) or per-layer (traced) metrics that
BENCHMARK.json names (a traced refresh run also the refresh-only ones
below), each with its unit and a finite value. Takes a few
minutes; it proves that no metric or check was dropped, not speed.
"""

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Per-layer metrics only refresh exercises (Main.RefreshOnly): a traced
# refresh run reports them after those BENCHMARK.json lists.
REFRESH_ONLY = {"embed.cache_hit_ratio": "ratio", "sink.checkpoint_ms": "ms",
                "sink.vacuum_ms": "ms", "ops.index_sync_ms": "ms",
                "ops.index_sync_rows": "count"}
REFRESH_ONLY.update({f"spark.cycle.{n}": ("ms" if n.endswith("_ms") else
                                          "bytes" if n.endswith("_bytes")
                                          else "count")
                     for n in ["jobs", "stages", "tasks", "task_ms",
                               "job_gap_ms", "input_bytes",
                               "shuffle_read_bytes"]})


def check(workload, trace, want):
    """Runs one tiny workload; returns what is wrong with its result."""
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", trace, "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        return [f"exit {r.returncode} without a result"]
    res = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    problems = []
    if r.returncode != 0 or not res["correct"] or res["failed"] != 0:
        problems.append(f"exit {r.returncode}, {res['failed']} failed")
    if got != want:
        problems.append(
            f"metrics differ: missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}, units "
            f"{sorted(k for k in got if k in want and got[k] != want[k])}")
    nonfinite = [k for k, v in res["metrics"].items()
                 if not isinstance(v["value"], (int, float))
                 or not math.isfinite(v["value"])]
    if nonfinite:
        problems.append(f"non-finite values {nonfinite}")
    return problems


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = []
    for w in ["ingest", "query", "refresh"]:
        for trace in ["0", "1"]:
            tag = f"{w} trace={trace}"
            expected = dict(want[trace])
            if w == "refresh" and trace == "1":
                expected.update(REFRESH_ONLY)
            problems = check(w, trace, expected)
            print(f"{tag}: {'ok' if not problems else 'FAILED'}", flush=True)
            bad += [f"{tag}: {p}" for p in problems]
    for b in bad:
        print("SMOKE FAILED:", b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
