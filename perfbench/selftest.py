"""Benchmark self-test.

    python3 perfbench/selftest.py [--workloads mixed,analytics]

1. Generators: the same seed gives byte-identical inputs, in two fresh
   interpreters with different hash seeds.
2. Exact counts: two traced runs with the same seed report identical
   exact counts (input digests, WAL bytes, rows, cold files; Spark jobs,
   stages and tasks of the first ``mixed`` round's queries and of each
   ``analytics`` query).
3. Tracing overhead: the traced run's end-to-end figures minus the
   untraced run's, per metric, printed for the record.

Exits 1 when a check fails. Takes a few minutes (one untraced and two
traced short runs per workload).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

_GEN = """
import sys
sys.path.insert(0, {root!r})
from perfbench import gen
s = gen.WriteStream(7)
rd = gen.Round("mixed_r0", 5000)
bodies = b"".join(s.body(rd, j) for j in range(5000))
print(gen.digest(bodies), gen.digest(s.wal_bytes(gen.Round("mixed", 0), 5000)))
"""


def generator_digests(hash_seed: str) -> str:
    env = dict(os.environ, PYTHONHASHSEED=hash_seed)
    out = subprocess.run(
        [sys.executable, "-c", _GEN.format(root=str(ROOT))],
        env=env, capture_output=True, text=True, check=True,
    )
    return out.stdout.strip()


def run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [
            sys.executable, str(HERE / "run.py"), "--workload", workload,
            "--seed", str(seed), "--seconds", "6", "--trace", str(trace),
        ],
        cwd=ROOT, capture_output=True, text=True,
    )
    lines = out.stdout.strip().split("\n")
    if out.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} trace={trace} failed:\n{out.stderr[-3000:]}")
    report = json.loads(lines[-2])["report"]
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload}: wrong answers: {report['errors']}")
    return report


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="mixed,analytics")
    ap.add_argument("--seed", type=int, default=3)
    args = ap.parse_args()
    ok = True

    a, b = generator_digests("1"), generator_digests("2")
    print(f"generators: {'identical' if a == b else 'DIFFER'} ({a[:16]}…)")
    ok &= a == b

    for w in args.workloads.split(","):
        base = run(w, args.seed, 0)
        t1 = run(w, args.seed, 1)
        t2 = run(w, args.seed, 1)
        same = t1["exact"] == t2["exact"]
        ok &= same
        print(f"{w}: exact counts {'repeat' if same else 'DIFFER'}: {json.dumps(t1['exact'])[:300]}")
        if not same:
            print(f"  second run: {json.dumps(t2['exact'])[:300]}")
        overhead = {k: t1["e2e"][k] - base["e2e"][k] for k in base["e2e"]}
        print(f"{w}: tracing overhead (traced - untraced): {json.dumps(overhead)}")
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
