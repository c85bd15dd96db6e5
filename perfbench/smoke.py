"""Smoke test of the benchmark itself, at tiny input sizes:

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json: an untraced run must emit exactly
the ``end_to_end`` metrics and a traced run exactly the ``per_layer``
metrics, each with its declared unit, with every output check passing;
and a run whose expected output is deliberately wrong must count exactly
one failed op. Takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"smoke: FAILED: {what}")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            res = run(wl, trace)
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{wl}: result keys {set(res)}")
            expect(res["correct"] is True and res["failed"] == 0, f"{wl} trace={trace}: checks failed: {res}")
            expect(res["attempted"] >= 1, f"{wl}: nothing attempted")
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{wl} trace={trace}: metrics {got} != {want}")
            for name, v in res["metrics"].items():
                expect(isinstance(v["value"], (int, float)), f"{wl}: {name} is not a number")
            if trace == 0:
                zero = [k for k, v in res["metrics"].items() if v["value"] <= 0]
                expect(not zero, f"{wl}: end-to-end metrics not positive: {zero}")
            print(f"smoke: {wl} trace={trace} ok", flush=True)
        bad = run(wl, 0, "--corrupt-expected")
        expect(bad["failed"] == 1 and bad["correct"] is False,
               f"{wl}: a wrong expected output gave failed={bad['failed']}")
        print(f"smoke: {wl} wrong expected output counted as 1 failed op", flush=True)
    print("smoke: OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
