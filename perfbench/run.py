"""Benchmark entry point: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload queries_sf0.01 --seed 1 --seconds 10 --trace 0

Run from the repository root. The program pins Spark to `local[<cpus>]`
for the cores this process may use, builds its input tables from a fixed
seed, runs one untimed warm-up pass that checks every output against
DuckDB, then times passes over the workload until `--seconds` have gone
by (at least one whole pass). `--seed` fixes the query order inside each
pass and the keys and values of every lakehouse op. One client runs ops
in a closed loop.

stdout ends with two JSON lines: a report with every figure this run
measured, then the result line
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`
holding the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`). A traced run times one untraced pass, then wraps the
engine's layers and times one traced pass; its spans go to
`.perfbench/trace-<workload>-s<seed>.json`. See README.md for what each
metric means and which end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")

SF = 0.01
DATA_SEED = 1  # every oracle compare is exact at sf0.001 and sf0.01 with this seed
WORKLOADS = ("lakehouse_rw", "queries_sf0.01")
HOT = ("q21_waiting_suppliers", "q3_shipping_priority", "q5_local_supplier_volume",
       "q2_min_cost_supplier", "simhash_pairs", "minhash_lsh_pairs", "dedup_clusters",
       "lang_id_ngram")
END_TO_END = ("setup_s", "cpu_s")  # the metrics BENCHMARK.json bounds


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="input scale factor (the self-test uses 0.001)")
    return ap.parse_args(argv)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below
    it (the JVM and its Python workers), reaped children included. CPU
    time leaves out the time the host gives our cores to other machines,
    which wall time counts."""
    children, used = defaultdict(list), {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has exited
            continue
        children[int(fields[1])].append(int(pid))
        used[int(pid)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children[pid])
    return total / os.sysconf("SC_CLK_TCK")


def pct(values: list[float], q: int) -> float:
    """The q-th percentile (q in 1..99) by `statistics.quantiles`."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Runner:
    """Runs ops one at a time, timing each and checking its output after
    the timed window. With a tracer attached it also records spans,
    py4j commands and the op's Spark jobs."""

    def __init__(self, workload):
        self.workload = workload
        self.tracer = None
        self.attempted = 0
        self.failed = 0

    def run(self, op, pass_idx: int) -> dict:
        rec, ok, value = self._execute(op, pass_idx)
        return self._finish(op, rec, ok, value)

    def run_concurrently(self, ops: list, threads: int) -> list[dict]:
        """Run the op bodies on `threads` threads, then check each in
        turn. Only for an untimed warm-up: it loads and compiles every
        code path the ops use in a fraction of the sequential time."""
        with ThreadPoolExecutor(threads) as pool:
            done = list(pool.map(lambda op: self._execute(op, 0), ops))
        return [self._finish(op, *res) for op, res in zip(ops, done)]

    def _execute(self, op, pass_idx: int) -> tuple[dict, bool, object]:
        from spans import covered

        tracer = self.tracer
        rec = {"kind": op.kind, "pass": pass_idx, "op": f"{pass_idx}.{self.attempted}.{op.kind}"}

        @contextlib.contextmanager
        def phase(name):
            t = time.perf_counter()
            with tracer.span(name) if tracer else contextlib.nullcontext():
                yield
            rec[name] = rec.get(name, 0.0) + 1000.0 * (time.perf_counter() - t)

        if tracer:
            tracer.sync_jobs()  # jobs of earlier checks are not this op's
            tracer.op = rec["op"]
            calls0 = tracer.py4j_calls
        sid, value, ok = None, None, True
        cpu0 = tree_cpu_s()
        start, t0 = time.time(), time.perf_counter()
        try:
            with tracer.window() if tracer else contextlib.nullcontext() as sid:
                value = op.run(phase)
        except Exception:
            traceback.print_exc()
            ok = False
        rec["wall_ms"] = 1000.0 * (time.perf_counter() - t0)
        end = time.time()
        rec["cpu_ms"] = 1000.0 * (tree_cpu_s() - cpu0)
        if tracer:
            rec["py4j.calls"] = tracer.py4j_calls - calls0
            jobs, intervals = tracer.spark_jobs(sid)
            rec.update({f"spark.{k}": v for k, v in jobs.items()})
            busy = covered([(max(a, start), min(b, end)) for a, b in intervals if b > start and a < end])
            rec["driver.idle_ms"] = rec["wall_ms"] - 1000.0 * busy
        return rec, ok, value

    def _finish(self, op, rec: dict, ok: bool, value) -> dict:
        if ok:
            try:
                op.check(value)
            except Exception:
                traceback.print_exc()
                ok = False
        self.workload.after_op()
        rec["ok"] = ok
        self.attempted += 1
        self.failed += not ok
        return rec


def measure(runner: Runner, workload, seconds: int) -> list[dict]:
    """Timed passes until `seconds` have gone by, at least one whole."""
    deadline = time.perf_counter() + seconds
    recs: list[dict] = []
    pass_idx = 1
    while True:
        for op in workload.pass_ops(pass_idx):
            if pass_idx > 1 and time.perf_counter() >= deadline:
                return recs
            recs.append(runner.run(op, pass_idx))
        if time.perf_counter() >= deadline:
            return recs
        pass_idx += 1


def kind_medians(recs: list[dict], key: str = "wall_ms") -> dict[str, float]:
    by_kind = defaultdict(list)
    for r in recs:
        by_kind[r["kind"]].append(r[key])
    return {k: statistics.median(v) for k, v in sorted(by_kind.items())}


def install_wrappers(tracer) -> None:
    """Wrap the public functions of each engine layer the benchmark
    measures. Nothing in the engine changes; the wrappers go on the
    classes and modules the engine looks them up on."""
    from local_datalakehouse_phase2_spark.lakehouse import fastwrite, fs, log, maintenance, pruning, table

    for m in ("append", "delete_where", "merge", "update_where", "read", "snapshots", "files"):
        tracer.wrap(table.LakehouseTable, m, f"table.{m}")
    tracer.wrap(log.TransactionLog, "append", "log.append",
                after=lambda args, res: tracer.counts.update(["log.append_ok"]))
    for m in ("state_at", "write_checkpoint"):
        tracer.wrap(log.TransactionLog, m, f"log.{m}")
    for m in sorted(dir(fs.LocalFileIO)):
        if not m.startswith("_") and callable(getattr(fs.LocalFileIO, m)):
            tracer.wrap(fs.LocalFileIO, m, f"fs.{m}")
    tracer.wrap(fastwrite, "write_rows", "fastwrite.write_rows")

    def pruned(args, res):
        tracer.counts["pruning.files_in"] += len(args[0])
        tracer.counts["pruning.files_kept"] += len(res[0])

    tracer.wrap(pruning, "prune_files", "pruning.prune_files", after=pruned)

    def rewritten(args, res):
        tracer.counts["maintenance.rewritten_files"] += res.get("rewritten_files", 0)

    tracer.wrap(maintenance, "rewrite_data_files", "maintenance.rewrite_data_files", after=rewritten)
    for f in ("expire_snapshots", "remove_orphan_files"):
        tracer.wrap(maintenance, f, f"maintenance.{f}")


def layer_metrics(traced: list[dict], base: list[dict], tracer, setup: dict,
                  gc_ms: float, amp: tuple[float, float], rewritten_bytes: int) -> dict:
    from workloads import COMMIT_KINDS

    wall = sum(r["wall_ms"] for r in traced)
    incl, _ = tracer.layer_ms()
    by_layer, _ = tracer.layer_ms(key=lambda name: name.split(".")[0])
    calls = tracer.calls()
    m = {
        "session.start_ms": setup["session_ms"],
        "fixture.build_ms": setup["fixture_ms"],
        "warmup_ms": setup["warmup_ms"],
        "trace.overhead_s": (wall - sum(r["wall_ms"] for r in base)) / 1000.0,
        "driver.construct_ms": sum(r.get("driver.construct", 0.0) for r in traced),
        "driver.action_ms": sum(r.get("driver.action", 0.0) for r in traced),
        "driver.idle_ms": sum(r["driver.idle_ms"] for r in traced),
        "py4j.calls": sum(r["py4j.calls"] for r in traced),
    }
    for k in ("jobs", "stages", "tasks", "job_busy_ms", "executor_run_ms", "input_bytes",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"spark.{k}"] = sum(r.get(f"spark.{k}", 0) for r in traced)
    m["spark.gc_ms"] = gc_ms
    for meth in ("append", "delete_where", "merge", "update_where", "read"):
        m[f"table.{meth}_calls"] = calls[f"table.{meth}"]
        m[f"table.{meth}_share"] = incl.get(f"table.{meth}", 0.0) / wall
    for meth in ("append", "state_at", "write_checkpoint"):
        m[f"log.{meth}_calls"] = calls[f"log.{meth}"]
        m[f"log.{meth}_share"] = incl.get(f"log.{meth}", 0.0) / wall
    m["log.commit_retries"] = calls["fs.create_exclusive_guarded"] - tracer.counts["log.append_ok"]
    m["fs.calls"] = sum(n for name, n in calls.items() if name.startswith("fs."))
    m["fs.time_share"] = by_layer.get("fs", 0.0) / wall
    m["fs.create_exclusive_share"] = incl.get("fs.create_exclusive", 0.0) / wall
    m["fs.listdir_calls"] = calls["fs.listdir"]
    m["fs.read_text_calls"] = calls["fs.read_text"]
    m["fastwrite.write_rows_calls"] = calls["fastwrite.write_rows"]
    commits = [r["op"] for r in traced if r["kind"] in COMMIT_KINDS]
    fast = {s["op"] for s in tracer.spans if s["name"] == "fastwrite.write_rows"}
    m["fastwrite.commit_share"] = sum(op in fast for op in commits) / len(commits) if commits else 0.0
    files_in, kept = tracer.counts["pruning.files_in"], tracer.counts["pruning.files_kept"]
    m["pruning.files_in"], m["pruning.files_kept"] = files_in, kept
    m["pruning.keep_ratio"] = kept / files_in if files_in else 0.0
    m["maintenance.rewrite_share"] = incl.get("maintenance.rewrite_data_files", 0.0) / wall
    m["maintenance.rewritten_files"] = tracer.counts["maintenance.rewritten_files"]
    m["maintenance.rewritten_bytes"] = rewritten_bytes
    m["maintenance.expire_share"] = incl.get("maintenance.expire_snapshots", 0.0) / wall
    m["maintenance.orphans_share"] = incl.get("maintenance.remove_orphan_files", 0.0) / wall
    m["write_amp"], m["space_amp"] = amp
    recs = {r["kind"]: r for r in traced}
    for q in HOT:
        r = recs.get(q, {})
        q_wall = r.get("wall_ms", 0.0)
        m[f"{q}.py4j.calls"] = r.get("py4j.calls", 0)
        for k in ("jobs", "tasks", "shuffle_write_bytes"):
            m[f"{q}.spark.{k}"] = r.get(f"spark.{k}", 0)
        m[f"{q}.wall_share"] = q_wall / wall
        m[f"{q}.spark.executor_run_share"] = r.get("spark.executor_run_ms", 0) / q_wall if q_wall else 0.0
        m[f"{q}.driver.construct_share"] = r.get("driver.construct", 0.0) / q_wall if q_wall else 0.0
        m[f"{q}.driver.idle_share"] = r.get("driver.idle_ms", 0.0) / q_wall if q_wall else 0.0
    return m


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", "_ratio", "_amp")):
        return "ratio"
    return "count"


def bench(args, run_dir: str) -> tuple[dict, dict, int, int]:
    from local_datalakehouse_phase2_spark.session import get_spark

    import fixtures
    from spans import Tracer
    from workloads import COMMIT_KINDS, LLM, MAINT_KINDS, OLAP, READ_KINDS, LakehouseRW, Queries

    cpus = len(os.sched_getaffinity(0))
    load_before = loadavg()
    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            # C1 only: with the default C2 tier, compiler threads still
            # took ~40% of the JVM's CPU in the pass after the warm-up, so
            # each figure depended on how far compilation had got. C1 alone
            # reserves a 48 MB code cache, which the query workload fills;
            # 240 MB is the tiered default
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_ms = 1000.0 * (time.perf_counter() - t)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        t = time.perf_counter()
        data_dir = os.path.join(run_dir, "fixtures")
        fixtures.write(data_dir, args.sf, DATA_SEED)
        fixture_ms = 1000.0 * (time.perf_counter() - t)
        if args.workload == "lakehouse_rw":
            workload = LakehouseRW(spark, data_dir, run_dir, args.seed)
        else:
            workload = Queries(spark, OLAP + LLM, data_dir, args.seed)
        runner = Runner(workload)
        t = time.perf_counter()
        if isinstance(workload, LakehouseRW):  # each op depends on the last
            for op in workload.warmup_ops():
                runner.run(op, 0)
        else:
            runner.run_concurrently(list(workload.warmup_ops()), cpus)
        warmup_ms = 1000.0 * (time.perf_counter() - t)
        setup_s = time.perf_counter() - T_START

        is_lake = isinstance(workload, LakehouseRW)
        mark = workload.mark() if is_lake else None
        if args.trace:  # the untraced baseline: exactly one pass
            recs = [runner.run(op, 1) for op in workload.pass_ops(1)]
        else:
            recs = measure(runner, workload, args.seconds)
        # one pass as per-kind median latencies, each repeated as often as
        # the kind occurs in a pass: robust to a partly run last pass
        med = kind_medians(recs)
        est = [med[k] for k in sorted(workload.template.elements())]
        cpu = kind_medians(recs, "cpu_ms")
        e2e = {"setup_s": (setup_s, "s"), "wall_s": (sum(est) / 1000.0, "s"),
               "cpu_s": (sum(cpu[k] for k in workload.template.elements()) / 1000.0, "s"),
               "op_p50_ms": (statistics.median(est), "ms")}
        if is_lake:
            def lat(kinds):
                return [r["wall_ms"] for r in recs if r["kind"] in kinds]

            commit, read = lat(COMMIT_KINDS), lat(READ_KINDS)
            write_amp, space_amp = workload.amplification(mark)
            e2e.update(
                commit_p50_ms=(statistics.median(commit), "ms"), commit_p90_ms=(pct(commit, 90), "ms"),
                commit_samples=(len(commit), "count"),
                read_p50_ms=(statistics.median(read), "ms"), read_p90_ms=(pct(read, 90), "ms"),
                read_samples=(len(read), "count"),
                maintenance_s=(sum(med[k] * workload.template[k] for k in MAINT_KINDS) / 1000.0, "s"),
                write_amp=(write_amp, "ratio"), space_amp=(space_amp, "ratio"),
            )
        else:
            e2e["query_p50_s"] = (statistics.median(est) / 1000.0, "s")
            # the relational queries are the control for the LLM ones
            for family, names in (("olap", OLAP), ("llm", LLM)):
                e2e[f"{family}_wall_s"] = (sum(med[k] for k in names) / 1000.0, "s")
                e2e[f"{family}_cpu_s"] = (sum(cpu[k] for k in names) / 1000.0, "s")
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace, "sf": args.sf,
            "cpus": cpus, "loadavg_before": load_before,
            "session_start_ms": session_ms, "fixture_build_ms": fixture_ms,
            "warmup_ms": warmup_ms, "passes": max(r["pass"] for r in recs), "ops_timed": len(recs),
            "kind_median_ms": med, "kind_cpu_ms": cpu,
            "pass_s": [sum(r["wall_ms"] for r in recs if r["pass"] == i) / 1000.0
                       for i in range(1, max(r["pass"] for r in recs) + 1)],
        }

        if args.trace:
            tracer = Tracer(spark)
            install_wrappers(tracer)
            tracer.count_py4j()
            mark = workload.mark() if is_lake else None
            rewritten0 = workload.rewritten_bytes if is_lake else 0
            gc0 = tracer.jvm_gc_ms()
            runner.tracer = tracer
            try:
                traced = [runner.run(op, 2) for op in workload.pass_ops(2)]
            finally:
                runner.tracer = None
                tracer.restore()
            gc_ms = tracer.jvm_gc_ms() - gc0
            amp = workload.amplification(mark) if is_lake else (0.0, 0.0)
            setup = {"session_ms": session_ms, "fixture_ms": fixture_ms,
                     "warmup_ms": warmup_ms}
            metrics = layer_metrics(
                traced, recs, tracer, setup, gc_ms, amp,
                (workload.rewritten_bytes - rewritten0) if is_lake else 0,
            )
            _, self_ms = tracer.layer_ms(key=lambda name: name.split(".")[0])
            report["layers"] = metrics
            report["self_ms"] = self_ms
            os.makedirs(OUT_DIR, exist_ok=True)
            path = os.path.join(OUT_DIR, f"trace-{args.workload}-s{args.seed}.json")
            tracer.write(path, {"workload": args.workload, "seed": args.seed, "ops": traced})
            report["spans"] = os.path.relpath(path, ROOT)
            result = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
        if is_lake:
            runner.attempted += 1
            try:
                workload.final_check()
            except Exception:
                traceback.print_exc()
                runner.failed += 1

        e2e["peak_rss_mb"] = (vm_hwm_mb("self") + vm_hwm_mb(jvm_pid), "MB")
        e2e["ops_attempted"] = (runner.attempted, "count")
        e2e["ops_failed"] = (runner.failed, "count")
        e2e["error_rate"] = (runner.failed / runner.attempted, "ratio")
        report["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        if not args.trace:
            result = {k: report["metrics"][k] for k in END_TO_END}
        report["loadavg_after"] = loadavg()
        return report, result, runner.attempted, runner.failed
    finally:
        stop(spark)


def stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit; it exits when its stdin
    closes, and takes the Python worker daemon with it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "local_datalakehouse_phase2_spark")):
        print(f"perfbench: no engine package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.makedirs(OUT_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT_DIR)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # a small heap keeps the footprint low; at sf0.01 nothing spills
        SPARK_GRAFT_DRIVER_MEM="1g",
        # Python UDF workers import the engine by module path
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        TMPDIR=os.path.join(run_dir, "tmp"),
        TZ="UTC",
    )
    time.tzset()
    try:
        report, metrics, attempted, failed = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
