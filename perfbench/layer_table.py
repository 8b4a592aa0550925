"""Render traced runs' stdout as one markdown layer table.

    python3 perfbench/run.py --workload run_drift --seed 42 --seconds 1 --trace 1 > rd.out
    python3 perfbench/run.py --workload corpus_pipeline --seed 42 --seconds 1 --trace 1 > cp.out
    python3 perfbench/layer_table.py rd.out cp.out > perfbench/layers/<date>.md
"""

from __future__ import annotations

import datetime
import json
import sys


def _load(path: str) -> tuple[dict, dict]:
    with open(path) as f:
        lines = f.read().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def render(paths: list[str]) -> str:
    runs = [_load(p) for p in paths]
    names = [d["workload"] for d, _ in runs]
    out = [
        f"# Layer table, {datetime.date.today().isoformat()}",
        "",
        "Traced runs (`--trace 1`), one per workload. Context per run:",
        "",
    ]
    for d, res in runs:
        out.append(
            f"* `{d['workload']}`: seed {d['seed']}, {d['cpus']} cores (pinned: {d['pinned']}), "
            f"{d['docs']} docs, correct {res['correct']} ({res['attempted']} operations), "
            f"host probe {d['host_probe']}, operation walls {[round(r['s'], 2) for r in d['reps']]} s "
            f"(warm-up, untraced, traced, untraced), steal % {[r['steal_pct'] for r in d['reps']]}"
        )
    overhead = ", ".join(
        f"`{d['workload']}` {res['metrics']['trace.overhead_s']['value']:+.2f} s" for d, res in runs
    )
    out += [
        "",
        f"Tracing overhead (traced wall minus the mean of the untraced walls before "
        f"and after it, one operation each, after a warm-up): {overhead}.",
        "",
        "| metric | unit | " + " | ".join(names) + " |",
        "|---|---|" + "---|" * len(names),
    ]
    for name, m in runs[0][1]["metrics"].items():
        vals = [res["metrics"][name]["value"] for _, res in runs]
        if any(vals):
            out.append(f"| `{name}` | {m['unit']} | " + " | ".join(f"{v:.4g}" for v in vals) + " |")
    out += ["", "Metrics that read 0 on every workload are omitted."]
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    sys.stdout.write(render(sys.argv[1:]))
