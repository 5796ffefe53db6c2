"""bench.py harness regression tests (r14 verdict #3).

The round-14 judge's isolated "headline"-subset adjudication runs —
the exact methodology BASELINE.md prescribes for bisection —
overwrote the driver's full-suite 83-row BENCH_PASSES.json with an
8-row file, destroying the round's per-pass detail. bench.py now
routes any filtered run (SPARK_GRAFT_BENCH_QUERIES set) to
BENCH_PASSES_subset.json; this test runs bench.py end-to-end in a
subprocess on a 1-query subset at sf0.001 and asserts the full-suite
artifact is byte-identical afterwards.

The subprocess sets SPARK_GRAFT_BENCH_SKIP_PROBES=1 (test-only knob):
the 500M-row CPU probe and the 2 GB membw probe are host-speed
measurements irrelevant to file routing and are the only expensive
part of a 1-query sf0.001 run.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PASSES = os.path.join(REPO, "BENCH_PASSES.json")
SUBSET = os.path.join(REPO, "BENCH_PASSES_subset.json")


def test_subset_run_does_not_clobber_full_passes_artifact():
    with open(PASSES, "rb") as f:
        before = f.read()
    if os.path.exists(SUBSET):
        os.remove(SUBSET)
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_QUERIES="tpch_q6",
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_SKIP_PROBES="1",
    )
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            cwd=REPO,
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        # the canonical full-suite artifact is untouched
        with open(PASSES, "rb") as f:
            assert f.read() == before
        # the subset run's detail landed in its own file
        with open(SUBSET) as f:
            subset = json.load(f)
        assert set(subset["queries"]) == {"tpch_q6"}
        assert len(subset["passes"]["tpch_q6"]) == 5
        # stdout still carries the one-line JSON headline
        line = proc.stdout.strip().splitlines()[-1]
        parsed = json.loads(line)
        assert parsed["metric"] == "tpch8_total_warm"
    finally:
        if os.path.exists(SUBSET):
            os.remove(SUBSET)


def test_amplify_factor_parse(capsys):
    """SPARK_GRAFT_BENCH_AMPLIFY parsing: unset -> 4, empty -> 0 (tier
    off), an integer as given, and a malformed value warns on stderr
    and falls back to 4 instead of raising after the base tier ran."""
    from bench import _amplify_factor

    assert _amplify_factor(None) == 4
    assert _amplify_factor("") == 0
    assert _amplify_factor("16") == 16
    assert capsys.readouterr().err == ""
    assert _amplify_factor("x4") == 4
    assert "SPARK_GRAFT_BENCH_AMPLIFY='x4'" in capsys.readouterr().err
