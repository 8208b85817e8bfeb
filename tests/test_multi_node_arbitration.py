"""Multi-HOST CAS arbitration through a shared endpoint (VERDICT r10
task #8).

tests/test_flock_mutex.py proves host-wide arbitration; its docstring
(fs.py FlockMutex) names the remaining gap: two DIFFERENT hosts share
no kernel, so flock cannot arbitrate them — the reference stack
delegates that role to a catalog endpoint (Nessie,
docker-compose.yml:6). This file simulates two nodes as two forked
processes that share NO lock directory — each gets its OWN FlockMutex
lock_dir, exactly the two-independent-kernels situation — and proves:

- the naive store loses a commit (both pass the version check);
- FlockMutex with per-node lock dirs ALSO loses it (the documented
  limitation, demonstrated rather than asserted in prose);
- HttpCasMutex over one shared casd.py endpoint (the conditional-put
  pattern of a DynamoDB lock table / Nessie commit endpoint) loses
  nothing — with zero changes to any consumer, which is the seam's
  whole claim.
"""

from __future__ import annotations

import json
import multiprocessing
import os

from local_datalakehouse_phase2_spark.lakehouse.fs import (
    ArbitratedFileIO,
    FlockMutex,
    HttpCasMutex,
)
from local_datalakehouse_phase2_spark.lakehouse.log import TransactionLog

from .test_cas_seam import RacyFileIO, _entry_maker

_MP = multiprocessing.get_context("fork")


def _mk_io(barrier, backend):
    io = RacyFileIO(barrier)
    if backend is None:
        return io
    kind, arg = backend
    mutex = FlockMutex(arg) if kind == "flock" else HttpCasMutex(arg)
    return ArbitratedFileIO(io, mutex=mutex)


def _append_worker(meta_dir, barrier, tag, backend):
    log = TransactionLog(meta_dir, io=_mk_io(barrier, backend))
    log.append(_entry_maker(tag))


def _race(meta_dir, backend_a, backend_b):
    barrier = _MP.Barrier(2)
    pa = _MP.Process(target=_append_worker, args=(meta_dir, barrier, "a", backend_a))
    pb = _MP.Process(target=_append_worker, args=(meta_dir, barrier, "b", backend_b))
    pa.start(), pb.start()
    pa.join(20), pb.join(20)
    assert pa.exitcode == 0 and pb.exitcode == 0


def _seeded(tmp_path, name):
    meta = str(tmp_path / name / "metadata")
    log = TransactionLog(meta, io=RacyFileIO())  # seed un-armed
    log.append(_entry_maker("seed"))
    return meta


def _writers(meta):
    log = TransactionLog(meta, io=RacyFileIO())
    return {(log.read_entry(v).extra or {}).get("writer") for v in log.versions()}


def test_two_nodes_naive_store_loses(tmp_path):
    meta = _seeded(tmp_path, "naive")
    _race(meta, None, None)
    assert len(_writers(meta)) == 2  # 3 commits made, 2 survive: LOST


def test_two_nodes_flock_with_separate_lock_dirs_loses(tmp_path):
    """The documented FlockMutex limitation, made empirical: each
    'node' locks in its own directory (two kernels = no shared flock
    inode), so the mutex grants no exclusion and the race still loses
    a commit."""
    meta = _seeded(tmp_path, "flock2node")
    _race(
        meta,
        ("flock", str(tmp_path / "node_a_locks")),
        ("flock", str(tmp_path / "node_b_locks")),
    )
    assert len(_writers(meta)) == 2  # LOST — flock is host-wide only


def test_two_nodes_cas_endpoint_loses_nothing(tmp_path, casd_endpoint):
    meta = _seeded(tmp_path, "endpoint")
    # casd_endpoint is the shared 'catalog service'
    _race(meta, ("http", casd_endpoint), ("http", casd_endpoint))
    assert _writers(meta) == {"seed", "a", "b"}  # all three survive


def test_cas_endpoint_contention_loop(tmp_path, casd_endpoint):
    """20 interleaved appends from two nodes through the endpoint:
    every commit survives, versions stay dense."""

    def worker(meta, endpoint, tag, n, out_dir):
        log = TransactionLog(meta, io=_mk_io(None, ("http", endpoint)))
        for i in range(n):
            log.append(_entry_maker(f"{tag}{i}"))
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump({"done": n}, f)

    meta = _seeded(tmp_path, "loop")
    out = str(tmp_path / "loop_out")
    os.makedirs(out)
    pa = _MP.Process(target=worker, args=(meta, casd_endpoint, "a", 10, out))
    pb = _MP.Process(target=worker, args=(meta, casd_endpoint, "b", 10, out))
    pa.start(), pb.start()
    pa.join(60), pb.join(60)
    assert pa.exitcode == 0 and pb.exitcode == 0
    log = TransactionLog(meta, io=RacyFileIO())
    versions = log.versions()
    assert len(versions) == 21  # seed + 20, none lost
    assert versions == list(range(21))  # dense: every CAS loser retried
