"""Fast self-check of the benchmark at a small input scale.

    python3 perfbench/selfcheck.py [workload ...]

For each workload (default: every workload in BENCHMARK.json) it runs
``run.py`` three times at ``--scale small``:

1. untraced: every end-to-end metric prints with its unit, the result
   is correct and ``ok_frac`` is 1.0;
2. traced: every per-layer metric prints with its unit;
3. untraced with one op's output deliberately made wrong: the op is
   counted as failed and ``ok_frac`` drops below 1.0.

Exits 0 when all checks pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BROKEN_OP = {"inreach_poll": "poll", "analytics_mix": "pricing_summary"}


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "small", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(res: dict, spec: list[dict]) -> list[str]:
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(res)}")
    for m in spec:
        got = res["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            errors.append(f"metric {m['name']} missing or without unit {m['unit']}: {got}")
    extra = set(res["metrics"]) - {m["name"] for m in spec}
    if extra:
        errors.append(f"unlisted metrics {sorted(extra)}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    errors: list[str] = []
    for w in workloads:
        plain = run(w, 0)
        errors += [f"{w}: {e}" for e in check_metrics(plain, bench["end_to_end"])]
        if not plain["correct"] or plain["metrics"]["ok_frac"]["value"] != 1.0:
            errors.append(f"{w}: untraced run not fully correct: {plain}")
        traced = run(w, 1)
        errors += [f"{w} traced: {e}" for e in check_metrics(traced, bench["per_layer"])]
        broken = run(w, 0, "--break-op", BROKEN_OP[w])
        if broken["correct"] or broken["failed"] == 0 or broken["metrics"]["ok_frac"]["value"] >= 1.0:
            errors.append(f"{w}: a wrong result was not caught: {broken}")
        print(f"{w}: ok_frac {plain['metrics']['ok_frac']['value']}, broken ok_frac "
              f"{broken['metrics']['ok_frac']['value']:.3f}, traced {len(traced['metrics'])} metrics",
              flush=True)
    for e in errors:
        print("FAIL", e)
    print("selfcheck:", "FAIL" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
