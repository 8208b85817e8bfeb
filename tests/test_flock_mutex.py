"""Cross-PROCESS CAS arbitration via FlockMutex (VERDICT r9 task #4).

tests/test_cas_seam.py proves the ArbitratedFileIO contract between
THREADS, where the default process-local mutex suffices. This file
re-proves all three consumers of `create_exclusive` between real OS
processes — where threading.Lock is a documented non-solution — using
the flock(2) backend:

- log-entry commits: the naive racy store loses one of two concurrent
  appends; under FlockMutex the loser retries at the next version and
  all three commits survive.
- per-ref advisory locks: two processes' critical sections overlap on
  the naive store; never under flock.
- transaction markers: both naive racers believe they decided; under
  flock exactly one create_exclusive wins.

The processes synchronize check-to-put overlap with a fork-inherited
multiprocessing.Barrier — the same deterministic-race technique as the
thread tests (and with the same rule: seed fixtures UN-armed, because
a timed-out barrier is broken forever).
"""

from __future__ import annotations

import json
import multiprocessing
import os
import time

from local_datalakehouse_phase2_spark.lakehouse.fs import (
    ArbitratedFileIO,
    FlockMutex,
)
from local_datalakehouse_phase2_spark.lakehouse.log import TransactionLog

from .test_cas_seam import RacyFileIO, _entry_maker

_MP = multiprocessing.get_context("fork")


def _mk_io(barrier, lock_dir):
    io = RacyFileIO(barrier)
    return ArbitratedFileIO(io, mutex=FlockMutex(lock_dir)) if lock_dir else io


def _append_worker(meta_dir, barrier, tag, lock_dir):
    log = TransactionLog(meta_dir, io=_mk_io(barrier, lock_dir))
    log.append(_entry_maker(tag))


def _reflock_worker(meta_dir, barrier, tag, lock_dir, out_dir):
    log = TransactionLog(meta_dir, io=_mk_io(barrier, lock_dir))

    def critical():
        start = time.monotonic()
        time.sleep(0.2)
        return start, time.monotonic()

    start, end = log._with_ref_lock("dev", critical)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"start": start, "end": end}, f)


def _marker_worker(marker_path, barrier, tag, lock_dir, out_dir):
    io = _mk_io(barrier, lock_dir)
    won = io.create_exclusive(marker_path, json.dumps({"decider": tag}))
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"won": won}, f)


def _race_procs(target, args_a, args_b):
    pa = _MP.Process(target=target, args=args_a)
    pb = _MP.Process(target=target, args=args_b)
    pa.start(), pb.start()
    pa.join(20), pb.join(20)
    assert pa.exitcode == 0 and pb.exitcode == 0


def _seeded_log(tmp_path, name):
    meta = str(tmp_path / name / "metadata")
    log = TransactionLog(meta, io=RacyFileIO())  # seed un-armed
    log.append(_entry_maker("seed"))
    return meta, log


def test_commit_race_two_processes(tmp_path):
    # NAIVE: both processes pass the version-1 existence check together
    # (barrier), both PUT, one commit vanishes.
    meta, log = _seeded_log(tmp_path, "naive")
    barrier = _MP.Barrier(2)
    _race_procs(_append_worker, (meta, barrier, "a", None), (meta, barrier, "b", None))
    assert len(TransactionLog(meta, io=RacyFileIO()).versions()) == 2  # LOST

    # FLOCK: same racy store, kernel-mediated mutex — loser retries,
    # nothing lost, every writer's entry present.
    meta2, _ = _seeded_log(tmp_path, "locked")
    lock_dir = str(tmp_path / "locks")
    barrier2 = _MP.Barrier(2)
    _race_procs(
        _append_worker,
        (meta2, barrier2, "a", lock_dir),
        (meta2, barrier2, "b", lock_dir),
    )
    log2 = TransactionLog(meta2, io=RacyFileIO())
    assert len(log2.versions()) == 3
    writers = {(log2.read_entry(v).extra or {}).get("writer") for v in log2.versions()}
    assert writers == {"seed", "a", "b"}


def test_ref_lock_race_two_processes(tmp_path):
    def run_pair(name, lock_dir):
        meta, log = _seeded_log(tmp_path, name)
        log.create_ref("dev", 0, kind="branch")
        out = str(tmp_path / f"{name}_out")
        os.makedirs(out)
        barrier = _MP.Barrier(2)
        _race_procs(
            _reflock_worker,
            (meta, barrier, "a", lock_dir, out),
            (meta, barrier, "b", lock_dir, out),
        )
        spans = [
            json.load(open(os.path.join(out, f"{t}.json"))) for t in ("a", "b")
        ]
        a, b = sorted(spans, key=lambda s: s["start"])
        return a["end"] > b["start"]  # critical sections overlapped?

    assert run_pair("reflock_naive", None)
    assert not run_pair("reflock_locked", str(tmp_path / "locks2"))


def test_marker_race_two_processes(tmp_path):
    def run_pair(name, lock_dir):
        d = tmp_path / name
        os.makedirs(d)
        out = str(tmp_path / f"{name}_out")
        os.makedirs(out)
        barrier = _MP.Barrier(2)
        _race_procs(
            _marker_worker,
            (str(d / "txn.json"), barrier, "commit", lock_dir, out),
            (str(d / "txn.json"), barrier, "abort", lock_dir, out),
        )
        return sum(
            json.load(open(os.path.join(out, f"{t}.json")))["won"]
            for t in ("commit", "abort")
        )

    assert run_pair("marker_naive", None) == 2  # both believe they decided
    assert run_pair("marker_locked", str(tmp_path / "locks3")) == 1  # one winner


# ---- maintenance-under-live-ingest stress (VERDICT r10 task #6) ------
#
# The three point races above each cover ONE create_exclusive site.
# This composes them the way a real deployment does: one process
# appending in a loop (a writer job) vs one process running the
# maintenance cycle (manifest checkpoint -> synthetic compaction ->
# expiry -> orphan sweep) — both over the SAME racy S3-style store
# arbitrated only by ArbitratedFileIO(FlockMutex). Invariants checked
# afterwards from a clean reader:
#   - no lost commit: every writer append survives into the final
#     state's row-count total (compaction preserves totals by
#     construction, expiry never touches the current state);
#   - no torn read: every surviving log entry parses and every state
#     fold succeeds;
#   - no orphaned-but-referenced file: every path any surviving
#     snapshot references exists on disk.


def _stress_mutex(backend):
    kind, arg = backend
    if kind == "flock":
        return FlockMutex(arg)
    from local_datalakehouse_phase2_spark.lakehouse.fs import HttpCasMutex

    return HttpCasMutex(arg)


def _stress_writer(table_dir, backend, n_appends):
    from local_datalakehouse_phase2_spark.lakehouse.log import FileInfo

    io = ArbitratedFileIO(RacyFileIO(), mutex=_stress_mutex(backend))
    log = TransactionLog(os.path.join(table_dir, "metadata"), io=io)
    from local_datalakehouse_phase2_spark.lakehouse.log import LogEntry

    for i in range(n_appends):
        rel = f"data/w-{i:04d}.bin"
        io.write_text_atomic(os.path.join(table_dir, rel), "x" * 64)

        def make(version, rel=rel):
            return LogEntry(
                version=version,
                snapshot_id=version,
                committed_at=time.time(),
                operation="append",
                added_files=(FileInfo(path=rel, size_bytes=64, row_count=10),),
                extra={"writer": "w"},
            )

        log.append(make)
        time.sleep(0.01)


def _stress_maintenance(table_dir, backend, iterations, out_path):
    from local_datalakehouse_phase2_spark.lakehouse import (
        LakehouseTable,
        expire_snapshots,
        remove_orphan_files,
        rewrite_manifests,
    )
    from local_datalakehouse_phase2_spark.lakehouse.log import FileInfo, LogEntry

    io = ArbitratedFileIO(RacyFileIO(), mutex=_stress_mutex(backend))
    table = LakehouseTable(None, "lab.stress", table_dir, io=io)
    done = {"checkpoints": 0, "compactions": 0, "expiries": 0, "orphan_runs": 0}
    for it in range(iterations):
        rewrite_manifests(table)
        done["checkpoints"] += 1

        # synthetic log-level compaction: replace the two oldest live
        # data files with one merged file carrying their combined row
        # count — the metadata shape of rewrite_data_files without
        # needing Spark in a forked child. make() re-plans from
        # state_at() on every CAS retry, like the real procedure.
        merged_rel = f"data/compact-{it:04d}.bin"
        io.write_text_atomic(os.path.join(table_dir, merged_rel), "y" * 64)

        def make(version, merged_rel=merged_rel):
            live = table.log.state_at()
            victims = sorted(p for p, fi in live.items() if fi.content == 0)[:2]
            rows = sum(live[p].row_count for p in victims)
            return LogEntry(
                version=version,
                snapshot_id=version,
                committed_at=time.time(),
                operation="replace",
                added_files=(
                    FileInfo(path=merged_rel, size_bytes=64, row_count=rows),
                ),
                removed_files=tuple(victims),
                extra={"writer": "maint"},
            )

        entry = table.log.append(make)
        if entry.added_files[0].row_count > 0:
            done["compactions"] += 1
        expire_snapshots(table, retain_last=3)
        done["expiries"] += 1
        remove_orphan_files(table, older_than=time.time() - 90000)
        done["orphan_runs"] += 1
        time.sleep(0.01)
    with open(out_path, "w") as f:
        json.dump(done, f)


import pytest


@pytest.mark.parametrize("backend_kind", ["flock", "http"])
def test_maintenance_under_live_ingest_stress(tmp_path, request, backend_kind):
    from local_datalakehouse_phase2_spark.lakehouse import LakehouseTable
    from local_datalakehouse_phase2_spark.lakehouse.log import LogEntry

    table_dir = str(tmp_path / "stress_t")
    backend = (
        ("flock", str(tmp_path / "stress_locks"))
        if backend_kind == "flock"
        else ("http", request.getfixturevalue("casd_endpoint"))
    )
    os.makedirs(os.path.join(table_dir, "data"))
    # seed v0 (un-contended) so both processes see an existing table
    seed_log = TransactionLog(os.path.join(table_dir, "metadata"), io=RacyFileIO())
    seed_log.append(
        lambda v: LogEntry(
            version=v,
            snapshot_id=v,
            committed_at=time.time(),
            operation="create",
            properties={"gc.enabled": "true"},
        )
    )

    n_appends, iterations = 20, 6
    out = str(tmp_path / "maint_out.json")
    pw = _MP.Process(target=_stress_writer, args=(table_dir, backend, n_appends))
    pm = _MP.Process(
        target=_stress_maintenance, args=(table_dir, backend, iterations, out)
    )
    pw.start(), pm.start()
    pw.join(120), pm.join(120)
    assert pw.exitcode == 0, "writer process crashed under contention"
    assert pm.exitcode == 0, "maintenance process crashed under contention"
    done = json.load(open(out))
    assert done["checkpoints"] == iterations and done["expiries"] == iterations

    # clean reader over plain local IO: what any third process would see
    table = LakehouseTable(
        None, "lab.stress", table_dir, io=RacyFileIO()
    )
    # no torn read: every surviving entry parses, every fold succeeds
    for v in table.log.versions():
        table.log.read_entry(v)
        table.log.state_at(v)
    # no lost commit: compaction preserves row totals and expiry never
    # touches the current state, so the final total is exactly the
    # writer's appends (10 rows each)
    final = table.log.state_at()
    total_rows = sum(fi.row_count for fi in final.values())
    assert total_rows == n_appends * 10, (
        f"row total {total_rows} != {n_appends * 10} — a commit was lost "
        "or a maintenance op dropped live rows"
    )
    # no orphaned-but-referenced file: every referenced path exists,
    # at every surviving snapshot (expiry deleted only unreachable files)
    for v in table.log.versions():
        for rel in table.log.state_at(v):
            assert os.path.exists(os.path.join(table_dir, rel)), (
                f"snapshot {v} references missing file {rel}"
            )
