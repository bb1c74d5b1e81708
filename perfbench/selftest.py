"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py [--seconds S]

1. The correctness check can fail: a serve run with --perturb (one expected
   top-k altered) must report correct=false and at least one failed
   operation.
2. The trace is consistent: on a traced run of each workload, the p50 self
   times of the layers on the blocking path must sum to within 10% of the
   p50 wall of the traced operation (request or job).

Exits 0 when every check holds. Run from the root of a checkout.
"""

import argparse
import json
import re
import subprocess
import sys

WORKLOADS = ("serve", "batch")


def run(workload, seconds, trace, extra=()):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", trace, *extra],
        capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr)
        raise SystemExit(f"{workload} run failed ({p.returncode})")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=8)
    a = ap.parse_args()
    ok = True

    res, _ = run("serve", a.seconds, "0", ["--perturb"])
    caught = res["correct"] is False and res["failed"] >= 1
    print(f"perturbed top-k: correct={res['correct']} failed={res['failed']} -> "
          f"{'detected' if caught else 'NOT DETECTED'}")
    ok &= caught

    for w in WORKLOADS:
        res, err = run(w, a.seconds, "1")
        m = re.search(r"sum / wall = ([0-9.]+)", err)
        ratio = float(m.group(1)) if m else float("nan")
        within = abs(ratio - 1) <= 0.10
        print(f"{w}: blocking-path self-time p50s / wall p50 = {ratio:.3f} -> "
              f"{'within 10%' if within else 'OUTSIDE 10%'}")
        for line in err.splitlines():
            if line.startswith("[trace]"):
                print("  " + line)
        for name, v in res["metrics"].items():
            print(f"  {name:28s} {v['value']:14.4f} {v['unit']}")
        ok &= within and res["correct"] is True
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
