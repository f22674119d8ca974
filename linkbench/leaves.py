"""Workload ``contract_leaves``: one operation is one pass over a set of
contract queries from ``entry_queries.QUERIES``, each written to the
``noop`` sink, over the fixed seed-42 sf0.1 ``documents`` and ``part``
tables stored in linkbench/data. The seed cannot vary these tables.

The leaves fall in two classes that an optimisation can move in
opposite directions, so each class is reported on its own:

- light: fixed per-query cost dominates (planning, job launch, staging
  exchanges, eager checkpoints);
- heavy: per-row regex, tokenize or Arrow comparator work dominates.

The warm-up pass (charged to setup_s) collects every leaf and checks
it against its stored DuckDB oracle fingerprint (fingerprints.json,
regenerated by make_fingerprints.py); every timed pass checks each
leaf's row count through an observed count on the sink.
"""

from __future__ import annotations

import json
import os
import sys
import time

import harness as H

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "scripts"))

from check_oracles import value_hash  # noqa: E402 - the sweep's hash rule

LIGHT = ("dedup_exact", "text_quality", "rl_refined_soundex",
         "rl_candidate_pairs")
HEAVY = ("corpus_quality_filter", "rl_jaro_duck")
LEAVES = LIGHT + HEAVY


def run(spark, tracer: H.Tracer, seed: int, seconds: float, work: str,
        result: H.Result, t_start: float, fingerprints: str) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from idd_hw6_record_linkage_spark.entry_queries import QUERIES

    with open(fingerprints) as fh:
        expected = json.load(fh)
    print(f"contract_leaves: seed {seed} (fixed tables), {len(LIGHT)} light "
          f"+ {len(HEAVY)} heavy leaves", flush=True)

    # Warm-up pass: collect and compare with the oracle fingerprints.
    result.attempted += 1
    t0 = time.perf_counter()
    bad = []
    for name in LEAVES:
        with tracer.span(f"leaf.{name}.check", "check"):
            df = QUERIES[name](spark, DATA)
            cols = [f.name for f in df.schema.fields]
            rows = [tuple(r) for r in df.collect()]
        got = {"rows": len(rows), "cols": sorted(cols),
               "hash": value_hash(rows, cols)}
        if got != expected[name]:
            bad.append(name)
            print(f"  {name}: got {got}, oracle {expected[name]}", flush=True)
    warm_s = time.perf_counter() - t0
    print(f"warm-up pass: {warm_s:.2f} s, {len(LEAVES) - len(bad)}/"
          f"{len(LEAVES)} leaves match their oracle fingerprint", flush=True)
    if bad:
        result.fail(f"oracle fingerprint mismatch: {', '.join(bad)}")
    setup_s = time.perf_counter() - t_start

    passes: list[dict] = []

    def one_pass(i: int) -> dict:
        rec = {"build": {}, "exec": {}, "jobs": {}}
        wrong = []
        with tracer.span("op", "benchmark") as top:
            for name in LEAVES:
                with tracer.span(f"leaf.{name}.build", "entry_queries") as b:
                    df = QUERIES[name](spark, DATA)
                obs = Observation(f"rows_{i}_{name}")
                with tracer.span(f"leaf.{name}.exec", "engine") as e:
                    df.observe(obs, F.count(F.lit(1)).alias("n")) \
                        .write.format("noop").mode("overwrite").save()
                rec["build"][name] = b["end"] - b["start"]
                rec["exec"][name] = e["end"] - e["start"]
                rec["jobs"][name] = b.get("jobs", 0) + e.get("jobs", 0)
                if obs.get["n"] != expected[name]["rows"]:
                    wrong.append(name)
        rec["op_s"] = top["end"] - top["start"]
        rec["python_cpu_s"] = top.get("python_cpu_s", 0.0)
        if wrong:
            result.fail(f"pass {i}: row count differs for {', '.join(wrong)}")
        print(f"pass {i}: {rec['op_s']:.3f} s, load1 {H.load1():.2f}, "
              f"check {'ok' if not wrong else 'FAILED'}", flush=True)
        return rec

    def timed(i: int) -> None:
        result.attempted += 1
        try:
            passes.append(one_pass(i + 1))
        except Exception as exc:  # noqa: BLE001 - a failed pass is a failed op
            result.fail(f"pass {i + 1} raised {exc!r}")

    H.closed_loop(seconds, timed)

    n = len(passes)
    leaf_med = {
        name: H.median([p["build"][name] + p["exec"][name] for p in passes])
        for name in LEAVES
    }
    result.end_to_end = {
        "op_p50_s": (H.median([p["op_s"] for p in passes]), n),
        "light_geomean_s": (H.geomean([leaf_med[x] for x in LIGHT]), n),
        "heavy_geomean_s": (H.geomean([leaf_med[x] for x in HEAVY]), n),
        "setup_s": (setup_s, 1),
    }
    pl = result.per_layer
    pl["warmup_op_s"] = warm_s
    pl["functions.python_worker_cpu_s"] = H.median(
        [p["python_cpu_s"] for p in passes])
    for name in LEAVES:
        pl[f"leaf.{name}.build_s"] = H.median([p["build"][name] for p in passes])
        pl[f"leaf.{name}.exec_s"] = H.median([p["exec"][name] for p in passes])
        pl[f"leaf.{name}.jobs"] = passes[-1]["jobs"][name] if passes else 0
    if tracer.enabled:
        for k, v in H.session_state(spark).items():
            pl[f"session.{k}"] = v
