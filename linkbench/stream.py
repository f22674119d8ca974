"""The ``streaming`` layer, measured inside ``staged_dedup``.

Set-up, every run: ``streaming.ingest.build_key_index`` over the
warm-up run's normalized records, both tables materialized to parquet
as the function asks. This is the historical index; its time is part
of setup_s and is reported as ``streaming.build_key_index_s``.

Traced runs only, after the timed loop: ``incremental_scored`` →
``run_to_parquet`` drains arrivals against that index. The arrivals
are the pages of ARRIVAL_ENTITIES entities that the index does not
hold, split into ARRIVAL_FILES files and read with
``maxFilesPerTrigger=1``, so the drain runs one micro-batch per file.
Per-batch figures come from ``StreamingQuery.recentProgress``. The
drain's output must equal a batch evaluation of ``incremental_scored``
over the same files; a mismatch is a failed operation.

The drain stays out of untraced runs: one micro-batch costs several
seconds of fixed cost, which the timed budget of a run cannot hold.
"""

from __future__ import annotations

import hashlib
import os
import statistics

import harness as H

ARRIVAL_ENTITIES = 100
ARRIVAL_FILES = 3
DRAIN_TIMEOUT_S = 120

# recentProgress durationMs key → metric name.
DURATIONS = {
    "addBatch": "add_batch_ms",
    "queryPlanning": "query_planning_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
    "latestOffset": "latest_offset_ms",
    "getBatch": "get_batch_ms",
    "triggerExecution": "trigger_ms",
}


def build_index(spark, tracer: H.Tracer, records, cfg, out: str):
    """Build and materialize the historical key index; return
    ``(keys, oversized, seconds)`` with both tables read back."""
    from idd_hw6_record_linkage_spark.streaming.ingest import build_key_index

    keys_path = os.path.join(out, "index_keys")
    big_path = os.path.join(out, "index_oversized")
    with tracer.span("streaming.build_key_index", "streaming") as sp:
        keys, big = build_key_index(records, cfg)
        keys.write.parquet(keys_path)
        big.write.parquet(big_path)
    return (spark.read.parquet(keys_path), spark.read.parquet(big_path),
            sp["end"] - sp["start"])


def _scored_print(df) -> tuple[str, int]:
    """Order-insensitive fingerprint of scored pairs, and their count."""
    rows = df.select("id_l", "id_r", "score").collect()
    lines = sorted(f"{r['id_l']}\x1f{r['id_r']}\x1f{r['score']:.9f}"
                   for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest(), len(rows)


def drain(spark, tracer: H.Tracer, arrivals: str, n_arrivals: int, keys, big,
          records, cfg, out: str, result: H.Result) -> dict[str, float]:
    """Drain the ``n_arrivals`` pages in the ``arrivals`` files as a
    stream, check the output against a batch evaluation, and return the
    ``streaming.*`` metrics."""
    from idd_hw6_record_linkage_spark.schema import PAGES_SCHEMA
    from idd_hw6_record_linkage_spark.streaming.ingest import (
        incremental_scored,
        read_pages_stream,
        run_to_parquet,
    )

    sink = os.path.join(out, "scored")
    result.attempted += 1
    with tracer.span("streaming.drain", "streaming") as sp:
        stream = read_pages_stream(spark, arrivals, max_files_per_trigger=1)
        query = run_to_parquet(
            incremental_scored(stream, keys, big, records, cfg), sink,
            os.path.join(out, "checkpoint"))
        finished = query.awaitTermination(DRAIN_TIMEOUT_S)
        if not finished:
            query.stop()
    drain_s = sp["end"] - sp["start"]
    batches = [p for p in query.recentProgress if p.numInputRows > 0]
    if not finished or query.exception() is not None:
        result.fail(f"stream drain did not finish: {query.exception()}")
        return {}

    with tracer.span("check.stream", "check"):
        got = _scored_print(spark.read.parquet(sink))
        batch = incremental_scored(
            spark.read.schema(PAGES_SCHEMA).parquet(arrivals), keys, big,
            records, cfg)
        want = _scored_print(batch)
    ok = got == want and len(batches) == ARRIVAL_FILES
    if not ok:
        result.fail(f"stream drain: {got[1]} scored pairs in {len(batches)} "
                    f"batches, batch evaluation {want[1]} pairs")

    def med(values) -> float:
        return float(statistics.median(values)) if values else 0.0

    m = {f"streaming.{name}": med([p.durationMs.get(key, 0) for p in batches])
         for key, name in DURATIONS.items()}
    # numInputRows counts every scan of the source in the batch's plan,
    # so it can exceed the pages that arrived.
    m["streaming.input_rows_per_batch"] = med([p.numInputRows for p in batches])
    m["streaming.scored_pairs"] = got[1]
    m["streaming.arrivals_per_s"] = n_arrivals / drain_s
    states = [p.stateOperators[0] for p in batches if p.stateOperators]
    if states:
        m["streaming.state.rows_total"] = states[-1].numRowsTotal
        m["streaming.state.commit_ms"] = med([s.commitTimeMs for s in states])
        m["streaming.state.memory_mb"] = states[-1].memoryUsedBytes / 1e6
    print(f"stream drain: {n_arrivals} arrivals in {len(batches)} batches, "
          f"{drain_s:.2f} s, trigger p50 {m['streaming.trigger_ms']:.0f} ms, "
          f"{got[1]} scored pairs, state rows "
          f"{m.get('streaming.state.rows_total', 0):.0f}, check "
          f"{'ok' if ok else 'FAILED'}", flush=True)
    return m
