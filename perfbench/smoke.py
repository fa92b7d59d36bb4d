"""Self-test of the benchmark: ``python3 perfbench/run.py --smoke``.

Runs each workload twice on tiny inputs (sf0.001-sized tables,
micro-batches of 500 rows): once traced, where every metric of
``BENCHMARK.json`` and every named end-to-end line must appear with its
unit and the gate must pass; once untraced with a deliberately wrong
expectation, where the gate must fail. Exits 0 when all of it holds.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

# end-to-end lines each workload prints; a tail prints as pNN or, with
# too few samples, as "tail"
NAMED = {
    "dashboard": ("dashboard_refresh_s", "dashboard_panel_p50_ms", "dashboard_panel_"),
    "ingest": (
        "ingest_rows_per_s", "ingest_batch_p50_s", "ingest_batch_",
        "fresh_query_p50_ms", "fresh_query_",
    ),
}
COMMON = ("setup_s", "failed_ops_ratio", "peak_rss_mb")


def _run(here: str, workload: str, trace: int, wrong: bool) -> tuple[list[str], dict]:
    cmd = [
        sys.executable, os.path.join(here, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--small",
    ]
    if wrong:
        cmd.append("--wrong-expectation")
    out = subprocess.run(
        cmd, cwd=os.path.dirname(here), stdout=subprocess.PIPE, text=True, timeout=600
    )
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[1:])} exited {out.returncode}")
    lines = out.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def _expect_metrics(result: dict, declared: list[dict], what: str) -> None:
    got = result["metrics"]
    for m in declared:
        entry = got.get(m["name"])
        if entry is None or entry.get("unit") != m["unit"]:
            raise AssertionError(f"{what}: {m['name']} missing or not in {m['unit']}")
        if not isinstance(entry["value"], (int, float)):
            raise AssertionError(f"{what}: {m['name']} is not a number")
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        raise AssertionError(f"{what}: undeclared metrics {sorted(extra)}")


def main(here: str) -> int:
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in NAMED:
        lines, traced = _run(here, workload, trace=1, wrong=False)
        _expect_metrics(traced, spec["per_layer"], f"{workload} traced")
        if not traced["correct"] or traced["failed"]:
            raise AssertionError(f"{workload}: gate failed on correct inputs")
        printed = "\n".join(lines)
        for name in NAMED[workload] + COMMON:
            pattern = rf"^# {name}(p\d+|tail)_" if name.endswith("_") else rf"^# {name} = "
            if not re.search(pattern, printed, re.MULTILINE):
                raise AssertionError(f"{workload}: {name} not printed")
        _, wrong = _run(here, workload, trace=0, wrong=True)
        _expect_metrics(wrong, spec["end_to_end"], f"{workload} untraced")
        if wrong["correct"] or not wrong["failed"]:
            raise AssertionError(f"{workload}: gate passed a wrong expectation")
        print(f"smoke {workload}: ok ({traced['attempted']} ops traced)", flush=True)
    print("smoke: ok")
    return 0
