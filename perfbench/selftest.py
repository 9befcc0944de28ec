#!/usr/bin/env python3
"""Self-test of the benchmark's answer check. Both cases must surface as
failed ops, named in the output:

1. a corrupted answer file (an adhoc op's landed parquet loses its first
   row after the program wrote it);
2. a refresh cycle run once with its clearCache() step skipped, the
   stale-answer hazard of the README's session-caching contract: the
   memoizing dedup operators keep serving the pre-refresh corpus.

Usage (from the root of a checkout): python3 perfbench/selftest.py
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def bench(*args):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--seed", "7", "--trace", "0", *args],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"benchmark run failed ({p.returncode}):\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), [l for l in lines if l.startswith("FAILED")]


def main():
    ok = True
    result, failed = bench("--workload", "adhoc", "--seconds", "1", "--corrupt-op", "0")
    hit = any(l.startswith("FAILED op 0 ") for l in failed)
    print(("PASS" if hit else "FAIL") + ": corrupted answer of op 0 is a failed op")
    print("\n".join(failed))
    ok &= hit and not result["correct"]
    # cycle 0 fills the caches; cycle 1 refreshes without clearing them
    result, failed = bench("--workload", "refresh", "--seconds", "40", "--skip-clear-cycle", "1")
    stale = [l for l in failed if " query q_dedup_" in l or " repeat q_dedup_" in l]
    print(("PASS" if stale else "FAIL") + ": skipped clearCache() after a refresh is caught")
    print("\n".join(failed))
    ok &= bool(stale) and not result["correct"]
    # the same run with the clear in place is correct
    result, failed = bench("--workload", "refresh", "--seconds", "40")
    print(("PASS" if result["correct"] else "FAIL") + ": the same cycles with clearCache() pass")
    print("\n".join(failed))
    ok &= result["correct"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
