"""Mutex backend conformance kit (VERDICT r13 item 4).

fs.py documents the five-clause contract a mutex backend owes
`ArbitratedFileIO` (exclusion, no-return-without-lock, release on
exit, crash liveness, non-reentrancy scope). This suite enforces it
against every registered backend with the SAME parameterized races, so
a future DynamoDB/etcd/Nessie-endpoint conditional-put backend is a
proven drop-in: add its spec to BACKENDS (and LEASE_BACKENDS if it
steals by TTL) and the whole contract re-runs.

Backends under test here:
- http-cas: HttpCasMutex against a casd.py server, the remote-shaped
  conditional-put lease for the DynamoDB/Nessie commit-arbiter role
  (reference stack: spark/conf/spark-defaults.conf Nessie catalog;
  docker-compose delegates commit arbitration to the Nessie service);
- flock-shared-dir: FlockMutex over ONE lock dir — the host-scope
  adapter (two processes on one kernel), which must satisfy the same
  contract at its documented scope.

Workers are forked processes sharing nothing but the backend's own
medium (TCP endpoint / lock dir) plus the data files the races target.
"""

from __future__ import annotations

import multiprocessing
import os
import time

import pytest

from local_datalakehouse_phase2_spark.lakehouse.fs import (
    ArbitratedFileIO,
    FlockMutex,
    HttpCasMutex,
    LocalFileIO,
    LockStolenError,
)

_MP = multiprocessing.get_context("fork")

# spec -> constructible INSIDE a forked worker (picklable tuple).
# "http-cas" is the genuinely remote-shaped one (r15): workers share
# NOTHING but the TCP endpoint of a casd.py server subprocess.
BACKENDS = [
    pytest.param(("flock", "shared_locks"), id="flock-shared-dir"),
    pytest.param(("http", None), id="http-cas"),
]
# backends whose crash-liveness mechanism is a TTL steal on the holder
# record (clause 4's lease half; flock releases via the kernel instead)
LEASE_BACKENDS = [
    pytest.param(("http", None), id="http-cas"),
]
_LEASE_KINDS = ("http",)


def _make_mutex(spec, **kw):
    kind, arg = spec
    if kind == "flock":
        return FlockMutex(arg)
    if kind == "http":
        return HttpCasMutex(arg, **kw)
    raise ValueError(kind)


# casd_endpoint fixture lives in conftest.py (shared with the
# end-to-end lifecycle test in test_r15_races.py)


def _spec(request, tmp_path):
    kind, rel = request.param
    if kind == "http":
        return (kind, request.getfixturevalue("casd_endpoint"))
    return (kind, str(tmp_path / rel))


@pytest.fixture(params=BACKENDS)
def backend(request, tmp_path):
    return _spec(request, tmp_path)


@pytest.fixture(params=LEASE_BACKENDS)
def lease_backend(request, tmp_path):
    return _spec(request, tmp_path)


def _join(*procs, timeout=60):
    for p in procs:
        p.join(timeout)
        assert p.exitcode == 0, f"worker exit {p.exitcode}"


# ---- clause 1+3: exclusion & release (lost-update counter) ----------


def _counter_worker(spec, lock_path, counter_path, n):
    mutex = _make_mutex(spec)
    for _ in range(n):
        with mutex(lock_path):
            v = int(open(counter_path).read())
            time.sleep(0.001)  # widen the read-modify-write window
            with open(counter_path, "w") as f:
                f.write(str(v + 1))


def test_exclusion_no_lost_updates(backend, tmp_path):
    """Two nodes read-modify-write one counter 50x each under the
    mutex: any exclusion gap loses an increment."""
    counter = str(tmp_path / "counter")
    open(counter, "w").write("0")
    lock_target = str(tmp_path / "the_resource")
    ps = [
        _MP.Process(target=_counter_worker, args=(backend, lock_target, counter, 50))
        for _ in range(2)
    ]
    [p.start() for p in ps]
    _join(*ps)
    assert open(counter).read() == "100"


# ---- clause 1 via the real consumer: one winner per exclusive create


def _create_worker(spec, target, tag, out_dir, barrier):
    mutex = _make_mutex(spec)
    io = ArbitratedFileIO(LocalFileIO(), mutex=mutex)
    barrier.wait()  # maximal simultaneity
    won = io.create_exclusive(target, tag)
    with open(os.path.join(out_dir, tag), "w") as f:
        f.write("won" if won else "lost")


def test_exclusive_create_single_winner(backend, tmp_path):
    """The txn-marker/commit-slot shape through ArbitratedFileIO:
    exactly one of two simultaneous create_exclusive calls wins."""
    target = str(tmp_path / "marker.json")
    out = str(tmp_path / "out")
    os.makedirs(out)
    barrier = _MP.Barrier(2)
    ps = [
        _MP.Process(target=_create_worker, args=(backend, target, t, out, barrier))
        for t in ("a", "b")
    ]
    [p.start() for p in ps]
    _join(*ps)
    results = {t: open(os.path.join(out, t)).read() for t in ("a", "b")}
    assert sorted(results.values()) == ["lost", "won"]
    assert open(target).read() == [t for t, r in results.items() if r == "won"][0]


# ---- clause 4a: crashed holder does not wedge the path --------------


def _hold_and_die(spec, lock_path, held_evt):
    mutex = _make_mutex(spec)
    mutex(lock_path).__enter__()  # acquire, then die without __exit__
    held_evt.set()
    os._exit(0)


def _acquire_after_crash(spec, lock_path, out_path):
    if spec[0] in _LEASE_KINDS:
        from local_datalakehouse_phase2_spark.lakehouse import log as lh_log

        lh_log.LOCK_STEAL_SECONDS = 0.2  # this worker's own module copy
    mutex = _make_mutex(
        spec, **({"timeout_s": 20.0} if spec[0] in _LEASE_KINDS else {})
    )
    t0 = time.monotonic()
    with mutex(lock_path):
        pass
    with open(out_path, "w") as f:
        f.write(str(time.monotonic() - t0))


def test_crashed_holder_releases(backend, tmp_path):
    """Kill a holder mid-hold: the next waiter must acquire —
    kernel-released (flock) or TTL-stolen (http-cas)."""
    lock_target = str(tmp_path / "res")
    held = _MP.Event()
    holder = _MP.Process(target=_hold_and_die, args=(backend, lock_target, held))
    holder.start()
    assert held.wait(10)
    holder.join(10)
    out = str(tmp_path / "t")
    waiter = _MP.Process(target=_acquire_after_crash, args=(backend, lock_target, out))
    waiter.start()
    _join(waiter)
    assert float(open(out).read()) < 10.0  # acquired, didn't time out


# ---- clause 4b (lease only): a LIVE holder is never stolen ----------


def _hold_for(spec, lock_path, seconds, held_evt):
    mutex = _make_mutex(spec)
    with mutex(lock_path):
        held_evt.set()
        time.sleep(seconds)


def test_live_holder_not_stolen(lease_backend, tmp_path):
    """A fresh holder (well under LOCK_STEAL_SECONDS) must make a
    short-timeout waiter TIME OUT, not hand over the lock."""
    lock_target = str(tmp_path / "res")
    held = _MP.Event()
    holder = _MP.Process(target=_hold_for, args=(lease_backend, lock_target, 3.0, held))
    holder.start()
    assert held.wait(10)
    mutex = _make_mutex(lease_backend, timeout_s=0.4)
    with pytest.raises(RuntimeError, match="timed out"):
        with mutex(lock_target):
            pass
    _join(holder)


# ---- clause 4c (lease only): concurrent thieves, one survivor -------


def _seed_stale_row(spec, lock_path):
    _make_mutex(spec)._post(
        "/_seed",
        {
            "path": os.path.realpath(lock_path),
            "owner": "dead-proc",
            "acquired_at": time.time() - 3600.0,
        },
    )


def _thief_worker(spec, lock_path, counter_path, n):
    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log

    lh_log.LOCK_STEAL_SECONDS = 0.2
    _counter_worker(spec, lock_path, counter_path, n)


def test_concurrent_thieves_exclude(lease_backend, tmp_path):
    """Two waiters racing to steal one stale holder row: the
    conditional owner-match UPDATE admits exactly one at a time —
    counter stays exact through the steal and the contention after."""
    lock_target = str(tmp_path / "res")
    _seed_stale_row(lease_backend, lock_target)
    counter = str(tmp_path / "counter")
    open(counter, "w").write("0")
    ps = [
        _MP.Process(
            target=_thief_worker, args=(lease_backend, lock_target, counter, 25)
        )
        for _ in range(2)
    ]
    [p.start() for p in ps]
    _join(*ps)
    assert open(counter).read() == "50"


# ---- clause 4d (fencing, http-cas only): stolen holder learns loudly


def _stall_past_ttl(endpoint, lock_path, held_evt, stolen_evt, out_path):
    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log

    lh_log.LOCK_STEAL_SECONDS = 0.3
    mutex = HttpCasMutex(endpoint, timeout_s=20.0)
    try:
        with mutex(lock_path):
            held_evt.set()
            assert stolen_evt.wait(20)  # stall until the thief took it
    except LockStolenError:
        with open(out_path, "w") as f:
            f.write("stolen-detected")
    else:
        with open(out_path, "w") as f:
            f.write("silent")


def test_fence_reports_stolen_holder(casd_endpoint, tmp_path):
    """The stalled-holder-past-TTL caveat, made LOUD by the fence
    token: a holder that stalls past LOCK_STEAL_SECONDS while a thief
    acquires must get LockStolenError at release — never a silent
    normal exit — and the thief's fence must exceed the victim's."""
    lock_target = str(tmp_path / "res")
    out = str(tmp_path / "verdict")
    held, stolen = _MP.Event(), _MP.Event()
    victim = _MP.Process(
        target=_stall_past_ttl, args=(casd_endpoint, lock_target, held, stolen, out)
    )
    victim.start()
    assert held.wait(10)
    time.sleep(0.4)  # age the holder row past the lowered TTL
    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log

    old = lh_log.LOCK_STEAL_SECONDS
    lh_log.LOCK_STEAL_SECONDS = 0.3
    try:
        thief = HttpCasMutex(casd_endpoint, timeout_s=10.0)
        with thief(lock_target):
            pass  # thief holds and releases cleanly (its fence is newest)
    finally:
        lh_log.LOCK_STEAL_SECONDS = old
    stolen.set()
    _join(victim)
    assert open(out).read() == "stolen-detected"


def test_fence_monotone_across_steal(casd_endpoint, tmp_path):
    """Fence tokens are per-path monotone across insert, steal and
    re-acquire — the property a fencing-capable medium relies on."""
    mutex = HttpCasMutex(casd_endpoint)
    canon = os.path.realpath(str(tmp_path / "res"))
    f1 = mutex._post(
        "/acquire", {"path": canon, "owner": "a", "steal_after": 60.0}
    )["fence"]
    # stale-seed then steal
    mutex._post(
        "/_seed", {"path": canon, "owner": "a", "acquired_at": time.time() - 3600.0}
    )
    f2 = mutex._post(
        "/acquire", {"path": canon, "owner": "b", "steal_after": 60.0}
    )["fence"]
    rel = mutex._post("/release", {"path": canon, "owner": "b", "fence": f2})
    f3 = mutex._post(
        "/acquire", {"path": canon, "owner": "c", "steal_after": 60.0}
    )["fence"]
    assert f1 < f2 < f3 and rel["released"] and not rel["stolen"]
    # the victim's release sees the advanced fence
    rel_a = mutex._post("/release", {"path": canon, "owner": "a", "fence": f1})
    assert rel_a["stolen"] and not rel_a["released"]


def test_release_tolerates_dead_endpoint(tmp_path):
    """An endpoint that dies mid-hold must not mask the protected
    operation's outcome: release swallows the network failure (the
    lease TTL reclaims the row) instead of raising."""
    import subprocess
    import sys

    p = subprocess.Popen(
        [sys.executable, "-m", "local_datalakehouse_phase2_spark.lakehouse.casd"],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        line = p.stdout.readline()
        port = int(line.split()[-1])
        mutex = HttpCasMutex(f"http://127.0.0.1:{port}", timeout_s=5.0)
        outcome = []
        with mutex(str(tmp_path / "res")):
            p.terminate()
            p.wait(timeout=10)
            outcome.append("work-done")
        assert outcome == ["work-done"]  # exit did not raise
    finally:
        if p.poll() is None:
            p.terminate()
            p.wait(timeout=10)


# ---- clause 4e (fencing at WRITE, every lease backend): stalled
# holder's commit is REJECTED, not merely flagged (r16, VERDICT item 1)

# Both arbitrated entry points: plain `create_exclusive` (txn markers,
# ref locks) and `create_exclusive_guarded`, the one every log.append
# commit goes through.
CREATE_ENTRIES = ["create_exclusive", "create_exclusive_guarded"]


def _arbitrated_create(io, entry, target, data):
    if entry == "create_exclusive_guarded":
        return io.create_exclusive_guarded(target, data, lambda: True)
    return io.create_exclusive(target, data)


def _stalled_fenced_writer(spec, entry, target, held_evt, resume_evt, out_path):
    """Victim: acquire through ArbitratedFileIO's fence-checked path,
    stall past the TTL INSIDE the hold (the GC-pause shape: after
    acquire, before the protected write), then attempt the write."""
    from contextlib import contextmanager

    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log
    from local_datalakehouse_phase2_spark.lakehouse.fs import (
        ArbitratedFileIO,
        LocalFileIO,
        LockStolenError,
        StaleFenceError,
    )

    lh_log.LOCK_STEAL_SECONDS = 0.3
    inner = _make_mutex(spec, timeout_s=20.0)

    @contextmanager
    def stalling_mutex(path):
        with inner(path) as handle:
            held_evt.set()
            assert resume_evt.wait(20)  # the stall, lock held
            yield handle

    io = ArbitratedFileIO(LocalFileIO(), mutex=stalling_mutex)
    try:
        won = _arbitrated_create(io, entry, target, "victim")
    except StaleFenceError:
        verdict = "rejected-at-write"
    except LockStolenError:
        verdict = "flagged-at-release-only"
    else:
        verdict = "wrote" if won else "lost-quietly"
    with open(out_path, "w") as f:
        f.write(verdict)


def _fenced_thief_commit(spec, entry, target, done_evt):
    """Thief: steal the aged hold and commit through the SAME
    fence-checked path, then release cleanly."""
    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log
    from local_datalakehouse_phase2_spark.lakehouse.fs import (
        ArbitratedFileIO,
        LocalFileIO,
    )

    lh_log.LOCK_STEAL_SECONDS = 0.3
    io = ArbitratedFileIO(LocalFileIO(), mutex=_make_mutex(spec, timeout_s=20.0))
    assert _arbitrated_create(io, entry, target, "thief")
    done_evt.set()


@pytest.mark.parametrize("entry", CREATE_ENTRIES)
def test_fenced_write_rejects_stalled_holder(lease_backend, entry, tmp_path):
    """Three processes (victim, thief, arbiter endpoint): the victim
    acquires, stalls past LOCK_STEAL_SECONDS while holding, the thief
    steals the path and COMMITS; the victim's late write must bounce
    with StaleFenceError BEFORE reaching the medium — the thief's
    bytes stand and the victim learns at the write, not the release.
    This closes the clause-4 lease caveat release-time LockStolenError
    (clause 4d above) only reports, through BOTH arbitrated entry
    points."""
    target = str(tmp_path / "res.json")
    held, resume, thief_done = _MP.Event(), _MP.Event(), _MP.Event()
    out = str(tmp_path / "verdict")
    victim = _MP.Process(
        target=_stalled_fenced_writer,
        args=(lease_backend, entry, target, held, resume, out),
    )
    victim.start()
    assert held.wait(10)
    time.sleep(0.4)  # age the victim's holder row past the lowered TTL
    thief = _MP.Process(
        target=_fenced_thief_commit,
        args=(lease_backend, entry, target, thief_done),
    )
    thief.start()
    assert thief_done.wait(10)
    _join(thief)
    resume.set()
    _join(victim)
    assert open(out).read() == "rejected-at-write"
    assert open(target).read() == "thief"  # the thief's commit survived


def test_fenced_write_passes_live_holder(lease_backend, tmp_path):
    """The fence check must be invisible to the healthy path: a live
    holder's validate renews the lease and the write proceeds."""
    from local_datalakehouse_phase2_spark.lakehouse.fs import (
        ArbitratedFileIO,
        LocalFileIO,
    )

    target = str(tmp_path / "ok.json")
    io = ArbitratedFileIO(LocalFileIO(), mutex=_make_mutex(lease_backend))
    assert io.create_exclusive(target, "healthy")
    assert open(target).read() == "healthy"
    # second writer loses by O_EXCL, not by fence (its own fence is fresh)
    assert io.create_exclusive(target, "late") is False


# ---- clause 4f (fencing at the MEDIUM): the validate->put stall
# residual is closed when the token check is atomic with the write


def _validate_then_stall_writer(endpoint, fence_dir, target, stalled_evt, resume_evt, out_path):
    """Victim: acquire + validate succeed, then stall past the TTL
    BETWEEN the validate and the put — the one window the endpoint-
    checked mode cannot close. The fenced medium must bounce the late
    put anyway."""
    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log
    from local_datalakehouse_phase2_spark.lakehouse.fs import (
        ArbitratedFileIO,
        FencedLocalFileIO,
        HttpCasMutex,
        StaleFenceError,
    )

    lh_log.LOCK_STEAL_SECONDS = 0.3

    class StallBeforePut(FencedLocalFileIO):
        def create_exclusive_fenced(self, path, data, fence):
            stalled_evt.set()
            assert resume_evt.wait(20)  # post-validate, pre-put stall
            return super().create_exclusive_fenced(path, data, fence)

    io = ArbitratedFileIO(
        StallBeforePut(fence_dir), mutex=HttpCasMutex(endpoint, timeout_s=20.0)
    )
    try:
        won = io.create_exclusive(target, "victim")
    except StaleFenceError:
        verdict = "rejected-at-medium"
    except Exception as e:  # noqa: BLE001 — record whatever surfaced
        verdict = f"other:{type(e).__name__}"
    else:
        verdict = "wrote" if won else "lost-quietly"
    with open(out_path, "w") as f:
        f.write(verdict)


def _fenced_medium_thief(endpoint, fence_dir, target, done_evt):
    from local_datalakehouse_phase2_spark.lakehouse import log as lh_log
    from local_datalakehouse_phase2_spark.lakehouse.fs import (
        ArbitratedFileIO,
        FencedLocalFileIO,
        HttpCasMutex,
    )

    lh_log.LOCK_STEAL_SECONDS = 0.3
    io = ArbitratedFileIO(
        FencedLocalFileIO(fence_dir), mutex=HttpCasMutex(endpoint, timeout_s=20.0)
    )
    assert io.create_exclusive(target, "thief")
    done_evt.set()


def test_fenced_medium_rejects_post_validate_stall(casd_endpoint, tmp_path):
    """The validate->put residual, closed: the victim's validate
    passes (it is live at that instant), it stalls a full TTL before
    its put, the thief steals and commits through the fenced medium —
    and the victim's late put bounces AT the sidecar check, atomic
    with the write, leaving the thief's bytes untouched."""
    target = str(tmp_path / "res.json")
    fence_dir = str(tmp_path / "fences")
    stalled, resume, thief_done = _MP.Event(), _MP.Event(), _MP.Event()
    out = str(tmp_path / "verdict")
    victim = _MP.Process(
        target=_validate_then_stall_writer,
        args=(casd_endpoint, fence_dir, target, stalled, resume, out),
    )
    victim.start()
    assert stalled.wait(10)
    time.sleep(0.4)  # age the holder row past the lowered TTL
    thief = _MP.Process(
        target=_fenced_medium_thief, args=(casd_endpoint, fence_dir, target, thief_done)
    )
    thief.start()
    assert thief_done.wait(10)
    _join(thief)
    resume.set()
    _join(victim)
    assert open(out).read() == "rejected-at-medium"
    assert open(target).read() == "thief"


def test_fenced_medium_token_rules(tmp_path):
    """Unit rules of the fenced medium: equal/higher fences write,
    lower fences bounce with the file untouched, and the recorded
    fence is monotone."""
    from local_datalakehouse_phase2_spark.lakehouse.fs import (
        FencedLocalFileIO,
        StaleFenceError,
    )

    io = FencedLocalFileIO(str(tmp_path / "fences"))
    a = str(tmp_path / "a.json")
    assert io.create_exclusive_fenced(a, "first", 3)
    # same path again: O_EXCL loses regardless of fence, no error
    assert io.create_exclusive_fenced(a, "again", 5) is False
    b = str(tmp_path / "b.json")
    assert io.create_exclusive_fenced(b, "b1", 2)
    os.remove(b)
    with pytest.raises(StaleFenceError):
        io.create_exclusive_fenced(b, "late", 1)  # below recorded 2
    assert not os.path.exists(b)  # the put was never issued
    assert io.create_exclusive_fenced(b, "b2", 2)  # equal: allowed
