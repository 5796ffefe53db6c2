"""Fast self-test of the benchmark at sf0.001 (about two minutes).

    python3 perfbench/selftest.py

Runs one pass of each workload with tracing off and on and checks that
the last stdout line has exactly the result keys, that it names every
metric ``BENCHMARK.json`` declares with its unit, and that the outputs
check out. One traced run pins a corrupted fingerprint for one op, which
must show up as a failed op. Finally checks that ``compare.py`` refuses
records whose core counts differ. Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run_bench(workload: str, trace: int, pin: str | None = None) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"]
    if pin:
        cmd += ["--pin", pin]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok   {what}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    expect({w["name"] for w in spec["workloads"]} <= {"tpch_sf0.1", "llm_pipeline"},
           "every declared workload is defined")
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as tmp:
        pin = os.path.join(tmp, "pin.json")
        with open(pin, "w") as f:
            json.dump({"tpch_q6": {"rows": 1, "columns": ["revenue"], "sha256": "0" * 64}}, f)
        for workload in (w["name"] for w in spec["workloads"]):
            for trace in (0, 1):
                corrupt = workload == "tpch_sf0.1" and trace == 1
                record, result = run_bench(workload, trace, pin if corrupt else None)
                tag = f"{workload} trace={trace}"
                expect(set(result) == RESULT_KEYS, f"{tag}: result has exactly {sorted(RESULT_KEYS)}")
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                expect(got == declared[trace], f"{tag}: emits every declared metric with its unit")
                expect(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
                       f"{tag}: every value is a number")
                expect(result["attempted"] >= 1, f"{tag}: attempted at least one op")
                if corrupt:
                    expect(result["failed"] == 1 and not result["correct"],
                           f"{tag}: a corrupted pinned fingerprint fails its op")
                    expect(record["failed_frac"] > 0, f"{tag}: the failure raises failed_frac")
                    bad = [c for c in record["checks"] if not c["ok"]]
                    expect([c["op"] for c in bad] == ["tpch_q6"] and bad[0]["source"] == "pinned",
                           f"{tag}: the failure is the pinned op")
                else:
                    expect(result["correct"] and result["failed"] == 0, f"{tag}: outputs check out")
                    if trace == 0:
                        base = record
        other = dict(base, host=dict(base["host"], nproc=base["host"]["nproc"] + 1))
        paths = []
        for i, rec in enumerate((base, other)):
            paths.append(os.path.join(tmp, f"r{i}.json"))
            with open(paths[-1], "w") as f:
                json.dump(rec, f)
        proc = subprocess.run([sys.executable, os.path.join(HERE, "compare.py"), *paths],
                              capture_output=True, text=True, timeout=60)
        expect(proc.returncode == 2 and "refusing" in proc.stderr,
               "compare.py refuses records with different core counts")
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except AssertionError as e:
        print(f"FAIL {e}", file=sys.stderr)
        sys.exit(1)
