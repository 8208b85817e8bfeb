"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with a driver-side count-collect of the
final (small) result — never a full-result collect — so timings measure
the distributed plan, not result serialization.

Timing methodology: $SPARK_GRAFT_BENCH_RUNS full passes over the query
list (default 3, interleaved — pass 1 is the legacy single-pass
measurement), reporting the per-query MEDIAN across passes. This box
is a shared machine whose wall-clock varies 2-3x between back-to-back
runs of identical code (measured: 35.9 s vs 88.4 s consecutive runs,
zero steal time, idle load — host-level contention invisible to the
guest), so a single pass measures the neighbor's workload as much as
this engine. The JSON carries `runs`, `timing`, and the legacy
single-pass total as `value_first_pass` so rounds remain comparable.

Next to each query's per-pass walls (`samples`) it records two exact
per-pass counters: `jobs`, the Spark jobs the query started, and
`codegen_compiles`, the classes Spark's code generator compiled for it.
A warm pass compiles almost nothing, so a thrashing generated-class
cache or a new per-query job shows up here without a profiler.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from local_datalakehouse_phase2_spark.obs import codegen_compiles, next_job_id
from local_datalakehouse_phase2_spark.registry import all_specs
from local_datalakehouse_phase2_spark.session import get_spark

HEADLINE = [
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_change",
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "broadcast_dim_join",
    "window_topk_per_group",
    "window_running_sum",
    "rollup_agg",
    "distinct_counts",
    "percentile_stats",
    "json_extract",
    # scale strategies (skew salting, write-time co-location)
    "skew_salted_groupby",
    "bucketed_colocated_join",
    # LLM-pipeline operators
    "minhash_lsh_pairs",
    "simhash_pairs",
    "cosine_topk_bruteforce",
    "ann_lsh_topk",
    "text_stats",
    "lang_id_ngram",
    "token_frequency",
    # streaming semantics (batch-evaluated windows)
    "tumbling_daily_counts",
    "session_window_activity",
    "streaming_dedup_events",
    # lakehouse lifecycle (write + compact + row-level ops + metadata views)
    "lakehouse_compaction_files",
    "lakehouse_delete_merge",
]

# Round-6+ additions, timed identically but reported OUTSIDE the
# headline total so `value` stays comparable across rounds.
EXTRA = [
    "pq_adc_topk",
    "sequence_packing",
    "doc_chunking",
    "mixture_reweight",
    "training_data_pipeline",
    "lakehouse_changelog",
    "lakehouse_dynamic_overwrite",
    # round 8: branch writes + merge, multi-table txn, rename mapping
    "lakehouse_branch_write_merge",
    "lakehouse_multi_table_txn",
    "lakehouse_rename_column",
    # round 11: catalog-wide refs (fork / write-on-ref / atomic merge)
    "lakehouse_catalog_branch",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    specs = all_specs()
    names = [n for n in HEADLINE if n in specs]
    # Warm the JVM + parquet footers once so timings reflect steady state.
    specs["q1_pricing_summary"].fn(spark, sf_dir).count()
    # Warm the WRITE path too (parquet committer + codegen init): the first
    # write job in a JVM costs ~5s of one-time setup that would otherwise
    # land on whichever lakehouse lifecycle query runs first.
    import shutil
    import tempfile

    from local_datalakehouse_phase2_spark.lakehouse.catalog import Lakehouse

    warm_dir = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        lake = Lakehouse(spark, warm_dir)
        lake.create_namespace("warm")
        wt = lake.create_table("warm.t")
        wt.append(spark.range(2).selectExpr("id AS k"))
        wt.read().count()
        wt.files().count()
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)

    # Load context: this host's wall-clock varies 2-3x with neighbor
    # load; stamping loadavg into the artifact makes a uniform drift
    # attributable (host noise) vs a real per-query regression.
    def loadavg() -> list[str]:
        try:
            with open("/proc/loadavg") as f:
                return f.read().split()[:3]
        except OSError:
            return []

    load_before = loadavg()
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    extra_names = [n for n in EXTRA if n in specs]
    samples: dict[str, list[float]] = {n: [] for n in names + extra_names}
    jobs: dict[str, list[int]] = {n: [] for n in samples}
    compiles: dict[str, list[int]] = {n: [] for n in samples}
    for _ in range(runs):
        for name in names + extra_names:
            j0, c0 = next_job_id(spark), codegen_compiles(spark)
            t0 = time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            df.count()
            samples[name].append(time.perf_counter() - t0)
            jobs[name].append(next_job_id(spark) - j0)
            compiles[name].append(codegen_compiles(spark) - c0)

    med = {n: round(statistics.median(ts), 4) for n, ts in samples.items()}
    timings = {n: med[n] for n in names}
    extra = {n: med[n] for n in extra_names}
    # r17 (VERDICT r16 item 2b), additions-only: host noise on this box
    # is strictly additive (sustained 1.3-2.7x drift windows), so the
    # per-query MIN across passes is the robust cross-round statistic;
    # raw per-pass samples let any later reader recompute their own.
    mins = {n: round(min(ts), 4) for n, ts in samples.items()}
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "runs": runs,
                "timing": f"per-query median of {runs} interleaved passes",
                "value_first_pass": round(
                    sum(samples[n][0] for n in names), 4
                ),
                # round-6 operators, same methodology, outside the
                # cross-round-comparable total
                "queries_extra": extra,
                "value_extra": round(sum(extra.values()), 4),
                # noise-robust additions (r17): per-query min across
                # passes + every raw pass, medians above unchanged
                "queries_min": {n: mins[n] for n in names},
                "queries_extra_min": {n: mins[n] for n in extra_names},
                "value_min": round(sum(mins[n] for n in names), 4),
                "value_extra_min": round(
                    sum(mins[n] for n in extra_names), 4
                ),
                "samples": {
                    n: [round(t, 4) for t in ts]
                    for n, ts in samples.items()
                },
                "jobs": jobs,
                "codegen_compiles": compiles,
                "loadavg_before": load_before,
                "loadavg_after": loadavg(),
                "cpus": os.cpu_count(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
