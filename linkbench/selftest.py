"""Self-tests of the benchmark itself.

    python3 linkbench/selftest.py

1. Two seeds give different staged inputs, and one seed gives the same
   inputs twice (no Spark needed).
2. A wrong stored oracle fingerprint fails the command: a
   ``contract_leaves`` run against a copy of fingerprints.json with one
   hash altered must exit 1 and report ``correct: false``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".linkbench_work", "selftest")
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)


def seeds_differ() -> None:
    import staged

    digests = []
    for i, seed in enumerate((1, 2, 1)):
        out = os.path.join(WORK, f"inputs{i}")
        digests.append(staged.stage_inputs(seed, out)["digest"])
    if digests[0] == digests[1] or digests[0] != digests[2]:
        raise SystemExit(f"seed plumbing broken: {digests}")
    print("ok: seeds 1 and 2 stage different inputs; seed 1 repeats", flush=True)


def wrong_fingerprint_fails() -> None:
    with open(os.path.join(HERE, "fingerprints.json")) as fh:
        prints = json.load(fh)
    prints["dedup_exact"]["hash"] = "0" * 32
    bad = os.path.join(WORK, "fingerprints-wrong.json")
    with open(bad, "w") as fh:
        json.dump(prints, fh)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", "contract_leaves", "--seed", "0", "--seconds", "1",
         "--trace", "0", "--fingerprints", bad],
        capture_output=True, text=True, timeout=300, check=False,
    )
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    if proc.returncode != 1 or last["correct"] or not last["failed"]:
        raise SystemExit(
            f"wrong fingerprint not caught: exit {proc.returncode}, {last}")
    print("ok: a wrong stored fingerprint fails the command "
          f"(exit 1, failed {last['failed']})", flush=True)


def main() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        seeds_differ()
        wrong_fingerprint_fails()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
