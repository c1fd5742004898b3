"""Smoke test of the benchmark: every workload at its tiny size, untraced
and traced, with a schema check of BENCHMARK.json, of the result line and
of the span file.

    python3 perfbench/smoke.py            # from the repository root, ~5 min
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import WORKLOADS  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from spans import SPAN_FIELDS  # noqa: E402


def check_benchmark_json(errs: list[str]) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    want_keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(b) != want_keys:
        errs.append(f"BENCHMARK.json keys {sorted(b)}")
    e2e = {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]}
    if e2e != END_TO_END:
        errs.append("BENCHMARK.json end_to_end differs from metrics.END_TO_END")
    per = {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]}
    if per != {k: v[:2] for k, v in PER_LAYER.items()}:
        errs.append("BENCHMARK.json per_layer differs from metrics.PER_LAYER")
    if max(b["end_to_end"], key=lambda m: m["bound"])["bound"] != \
            next(m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s"):
        errs.append("setup_s does not have the largest bound")
    for w in b["workloads"]:
        if w["name"] not in WORKLOADS:
            errs.append(f"unknown workload {w['name']}")


def run(workload: str, trace: int, errs: list[str]) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    tag = f"{workload} trace={trace}"
    if p.returncode != 0:
        errs.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
        return
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{tag}: result keys {sorted(res)}")
    if res["correct"] is not True or res["failed"] != 0 or res["attempted"] < 1:
        errs.append(f"{tag}: correct={res['correct']} failed={res['failed']}\n"
                    f"{p.stderr[-2000:]}")
    want = {k: v[0] for k, v in (PER_LAYER if trace else END_TO_END).items()}
    got = {k: m["unit"] for k, m in res["metrics"].items()}
    if got != want:
        errs.append(f"{tag}: metric names/units differ: {sorted(set(got) ^ set(want))}")
    for k, m in res["metrics"].items():
        if not isinstance(m["value"], (int, float)):
            errs.append(f"{tag}: {k} is not a number")
        exercised = not trace or workload in PER_LAYER[k][3]
        if exercised and m["unit"] == "s" and not m["value"] > 0:
            errs.append(f"{tag}: {k} = {m['value']}, want > 0")
    if not trace:
        return
    path = next(ln.split("spans:", 1)[1].strip() for ln in lines if "spans:" in ln)
    with open(path) as f:
        dump = json.load(f)
    names = {s["name"] for s in dump["spans"]}
    for s in dump["spans"]:
        if set(s) != set(SPAN_FIELDS):
            errs.append(f"{tag}: span {s['name']} fields {sorted(s)}")
        elif not s["start"] <= s["end"] or s["self_s"] < -1e-9:
            errs.append(f"{tag}: span {s['name']} has bad times")
    for k, v in PER_LAYER.items():
        span = k.rsplit("_", 1)[0] if k.endswith("_s") else None
        if span and workload in v[3] and span not in names and \
                not span.startswith(("job", "trace", "session")):
            errs.append(f"{tag}: no span {span}")
    if workload == "osm_planet" and res["metrics"]["sources.osm_xml.read_tasks"]["value"] < 1:
        errs.append(f"{tag}: sources.osm_xml.read_tasks < 1")


def main() -> int:
    errs: list[str] = []
    check_benchmark_json(errs)
    for w in WORKLOADS:
        for trace in (0, 1):
            run(w, trace, errs)
            print(f"{w} trace={trace}: {'ok' if not errs else 'FAILED'}", flush=True)
    for e in errs:
        print("FAIL:", e)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
