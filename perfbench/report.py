#!/usr/bin/env python3
"""Traced-run report.

    python3 perfbench/report.py --seed 1 [--seconds 25] [--workload tail_serve]

For each workload, runs the benchmark once untraced and once traced with the
same seed, then prints (and writes to ``perfbench/_out/report-s<seed>.md``):

- the per-layer metrics of the traced run;
- one row per op: its wall, the driver self time of each layer below it, the
  walls of its Spark jobs and stages, and how much of the op's wall the
  children account for (ROADMAP direction 1's done-bar is within 10%);
- the tracing overhead: each end-to-end metric traced minus untraced.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import Attribution  # noqa: E402

#: report columns: self time of these span names, in this order
SELF_COLS = [
    ("op", None),
    ("round", "stream.round"),
    ("process_batch", "streaming.pipeline.process_batch"),
    ("change_filtered", "streaming.pipeline.change_filtered"),
    ("merge", "lake.table.merge"),
    ("compact", "lake.table.compact"),
    ("read_keys", "lake.table.read_keys"),
    ("change_log", "lake.table.change_log"),
]
TOLERANCE = 0.10


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


def op_rows(trace: dict) -> tuple[list[str], int, int]:
    att = Attribution(trace["spans"], trace["jobs"], {s["id"]: s for s in trace["stages"]})
    window = set(att.subtree(trace["window"]))
    lines = [
        "| op | kind | wall s | " + " | ".join(c for c, _ in SELF_COLS)
        + " | jobs | job wall s | stage wall s | accounted |",
        "|" + "---|" * (len(SELF_COLS) + 7),
    ]
    ok = bad = 0
    for sid in sorted(window):
        span = att.spans[sid]
        if not span["name"].startswith("op."):
            continue
        tree = att.subtree(sid)
        selfs = []
        for _, name in SELF_COLS:
            ids = [sid] if name is None else [s for s in tree if att.spans[s]["name"] == name]
            selfs.append(sum(att.self_time(s) for s in ids))
        jobs = att.subtree_jobs(sid)
        stage_wall = sum(st["end"] - st["start"] for st in att.job_stages(jobs))
        share = att.accounted(sid)
        if span["name"] == "op.batch":
            ok, bad = (ok + 1, bad) if abs(share - 1) <= TOLERANCE else (ok, bad + 1)
        lines.append(
            f"| {sid} | {span['name'][3:]} | {att.dur(sid):.3f} | "
            + " | ".join(f"{v:.3f}" for v in selfs)
            + f" | {len(jobs)} | {sum(j['end'] - j['start'] for j in jobs):.3f}"
            f" | {stage_wall:.3f} | {share:.1%} |"
        )
    return lines, ok, bad


def report(workload: str, seed: int, seconds: float) -> list[str]:
    plain = run(workload, seed, seconds, 0)
    run(workload, seed, seconds, 1)
    with open(os.path.join(HERE, "_out", f"trace-{workload}-s{seed}.json")) as f:
        trace = json.load(f)
    out = [f"## {workload} (seed {seed}, {seconds:g} s window)", "", "### Per-layer metrics", "",
           "| metric | value | unit |", "|---|---|---|"]
    out += [f"| {k} | {v:.6g} | {u} |" for k, (v, u) in trace["per_layer"].items()]
    rows, ok, bad = op_rows(trace)
    out += ["", "### Ops: layer self times and Spark walls against the op's wall", ""] + rows
    out += ["", f"Microbatches whose children account for the wall within "
            f"{TOLERANCE:.0%}: {ok} of {ok + bad}.", "",
            "### Tracing overhead (traced minus untraced, same seed)", "",
            "| metric | untraced | traced | difference |", "|---|---|---|---|"]
    for k, (v, u) in trace["end_to_end"].items():
        base = plain["metrics"][k]["value"]
        out.append(f"| {k} ({u}) | {base:.4g} | {v:.4g} | {v - base:+.4g} ({(v - base) / base:+.1%}) |")
    return out + [""]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--workload", action="append", help="default: every workload")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    lines = [f"# Traced-run report (seed {args.seed})", ""]
    for name in names:
        lines += report(name, args.seed, seconds)
    text = "\n".join(lines)
    os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
    with open(os.path.join(HERE, "_out", f"report-s{args.seed}.md"), "w") as f:
        f.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
