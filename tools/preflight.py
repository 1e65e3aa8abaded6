"""Pre-snapshot gate: run every check the driver will run, in order of
increasing cost, and stop at the first failure.

Round-2 lesson: the end-of-round window is too short to discover a
crash (BENCH_r02 shipped rc=1 with no numbers because one query threw
at position 15). Run this BEFORE considering a round done:

    python tools/preflight.py            # full gate (~20 min)
    python tools/preflight.py --quick    # types + analysis + sf0.001 mirror
                                         # + sync-cycle tests (~9 min, 4 cores)

Stages:
1. oracle output-type audit (audit_oracle_types) — catches the
   HUGEINT/DECIMAL driver hash-fails the local mirror cannot see;
2. analysis sweep — builds every registered plan, catches
   AnalysisException-class crashes (the round-2 NTZ bug) in seconds;
3. DuckDB mirror at sf0.001 (quick) / sf0.01 (full, what the driver
   runs), writing MIRROR_r{N}.log when --round N is given;
4. (quick) the sync cycle's tests, tests/test_pipeline.py and
   tests/test_sources.py — the reference job end to end, which the
   mirror never runs (~1 min);
   (full) all of pytest, then bench at $SPARK_GRAFT_SF_DIR — asserts
   rc 0 AND a parseable JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(label: str, cmd: list[str]) -> subprocess.CompletedProcess:
    print(f"== {label}: {' '.join(cmd)}", flush=True)
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    if proc.returncode != 0:
        print(proc.stdout[-4000:])
        print(proc.stderr[-4000:])
        print(f"FAIL at stage: {label}")
        raise SystemExit(1)
    return proc


def analysis_sweep() -> None:
    # the sweep lives in ONE place (the plan test); invoke it rather
    # than maintaining a stringified copy that would drift
    run(
        "analysis sweep (all plans build)",
        [
            sys.executable,
            "-m",
            "pytest",
            "tests/test_plans.py::test_all_queries_analyze_without_exception",
            "-q",
        ],
    )


def main() -> int:
    quick = "--quick" in sys.argv
    round_n = None
    if "--round" in sys.argv:
        round_n = sys.argv[sys.argv.index("--round") + 1]

    run("oracle type audit", [sys.executable, "tools/audit_oracle_types.py"])
    analysis_sweep()

    sf = "/root/testdata/sf0.001" if quick else "/root/testdata/sf0.01"
    proc = run("DuckDB mirror", [sys.executable, "tools/check_oracle.py", sf])
    tail = [ln for ln in proc.stdout.replace("\r", "\n").splitlines() if ln.strip()]
    summary = tail[-1] if tail else ""
    print(summary)
    if "passed" not in summary:
        print("FAIL: mirror did not report a pass summary")
        return 1
    if round_n and quick:
        print("NOTE: --round ignored with --quick (the driver mirrors at "
              "sf0.01; an sf0.001 log would not be comparable)")
    elif round_n:
        lines = [f"# sf_dir: {sf}"] + [
            ln
            for ln in proc.stdout.replace("\r", "\n").splitlines()
            if ln.startswith(("ok ", "okro", "FAIL")) or "passed" in ln
        ]
        with open(os.path.join(REPO, f"MIRROR_r{round_n.zfill(2)}.log"), "w") as f:
            f.write("\n".join(lines) + "\n")

    if quick:
        run(
            "sync cycle tests",
            [sys.executable, "-m", "pytest", "tests/test_pipeline.py",
             "tests/test_sources.py", "-q"],
        )
        print("preflight --quick PASSED")
        return 0

    run("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"])
    # execute EVERY registered query at the bench SF, not just the
    # headline set — the transitivity divide-by-zero only manifested at
    # sf0.1 (sparser support graph), a class the sf0.001/sf0.01 gates
    # cannot see. Noop sink; reports all failures, nonzero exit on any.
    run(
        "full-registry execution sweep at bench SF",
        [sys.executable, "tools/sweep_all.py"],
    )
    bench = run("bench", [sys.executable, "bench.py"])
    last = bench.stdout.strip().splitlines()[-1]
    parsed = json.loads(last)  # raises (→ traceback, nonzero) if malformed
    n = parsed.get("n_queries") or len(parsed.get("queries", ()))
    print(f"bench total {parsed['value']}s over {n} queries")
    print("preflight PASSED")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
