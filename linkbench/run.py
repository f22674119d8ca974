"""Benchmark of the record-linkage package. See linkbench/NOTES.md.

    python3 linkbench/run.py --workload staged_dedup --seed 1 \
        --seconds 10 --trace 0

Runs one workload in one ``local[2]`` session as a closed loop with one
client, checks every operation's output, and prints as its last line a
JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Exits 1 when any check failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".linkbench_work")
BENCHMARK_JSON = os.path.join(REPO, "BENCHMARK.json")
PACKAGE = os.path.join(REPO, "idd_hw6_record_linkage_spark", "__init__.py")


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["staged_dedup", "contract_leaves"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fingerprints",
                    default=os.path.join(HERE, "fingerprints.json"),
                    help="stored oracle fingerprints of contract_leaves")
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    return args


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )


def _report(args, result, tracer) -> dict:
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    e2e = {k: v for k, (v, _n) in result.end_to_end.items()}
    for name, (value, n) in result.end_to_end.items():
        print(f"{name} = {value:.4f} {units[name]} (median of {n})", flush=True)
    last = os.path.join(WORK, f"last-{args.workload}-{args.seed}.json")
    if not args.trace:
        if not result.failed:
            with open(last, "w") as fh:
                json.dump(e2e, fh)
        wanted, values = spec["end_to_end"], e2e
    else:
        for layer, secs in sorted(tracer.self_times().items()):
            print(f"self time {layer} = {secs:.3f} s", flush=True)
        if os.path.exists(last):
            with open(last) as fh:
                untraced = json.load(fh)
            for k, v in e2e.items():
                print(f"tracing overhead {k} = {v - untraced[k]:+.4f} "
                      f"{units[k]} (traced {v:.4f}, untraced "
                      f"{untraced[k]:.4f})", flush=True)
        else:
            print("tracing overhead: no untraced run of this workload "
                  "and seed to compare with", flush=True)
        spans = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
        with open(spans, "w") as fh:
            for s in tracer.spans:
                fh.write(json.dumps(s) + "\n")
        print(f"spans written to {os.path.relpath(spans, REPO)}", flush=True)
        wanted, values = spec["per_layer"], dict(result.per_layer)
        values["session.failed_tasks"] = tracer.failed_tasks()
    # A layer this workload never enters did no work there: it reads 0.
    return {m["name"]: {"value": float(values.get(m["name"], 0)),
                        "unit": m["unit"]} for m in wanted}


def main() -> int:
    args = _parse()
    if not os.path.exists(PACKAGE):
        print(f"package source not found at {PACKAGE}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    import harness as H

    result = H.Result()
    spark = tracer = None
    try:
        spark = H.start_session(work)
        tracer = H.Tracer(spark.sparkContext, bool(args.trace), H.jvm_pid())
        tracer.spans.append({
            "id": 0, "name": "session.get_spark", "layer": "session",
            "parent": None, "start": T_START, "end": time.perf_counter(),
        })
        if args.workload == "staged_dedup":
            import staged

            staged.run(spark, tracer, args.seed, args.seconds, work,
                       result, T_START)
        else:
            import leaves

            leaves.run(spark, tracer, args.seed, args.seconds, work,
                       result, T_START, args.fingerprints)
        result.per_layer["session.start_s"] = (
            tracer.spans[0]["end"] - tracer.spans[0]["start"])
    except Exception as exc:  # noqa: BLE001 - e.g. set-up or warm-up failed
        # The timed loops catch their own failures; anything else ends
        # the run as one failed operation, still reported as JSON.
        traceback.print_exc()
        result.attempted = max(result.attempted, 1)
        result.fail(f"outside the timed loop: {exc!r}")
    finally:
        if spark is not None:
            H.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if tracer is None:  # the session never started
        tracer = H.Tracer(None, False)
    metrics = _report(args, result, tracer)
    correct = result.failed == 0
    print(json.dumps({"correct": correct, "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}),
          flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
