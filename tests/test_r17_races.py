"""r17 lost-commit closure: snapshot expiry frees old entry-file NAMES
(remove_entries), and a commit that chose its version from a stale
listing — e.g. it stalled in the arbiter's mutex queue while the
maintenance process committed, checkpointed, and expired — could win
O_EXCL on a freed slot and land BELOW the table head, where every
checkpoint-anchored fold silently skips it. Observed as a ~1-in-5
failure of the lease-backend leg of test_flock_mutex.py::
test_maintenance_under_live_ingest_stress on a loaded host (row total
190 != 200, the forensic event log showing `append-committed v=1`
seconds after maintenance had committed v1-v6 and expired v1).

The closure (log.append + fs.create_exclusive_guarded/remove_
arbitrated): expiry checkpoints BEFORE dropping entries and checkpoints
are never deleted, so "slot freed" implies "newest checkpoint >= slot"
from the moment of the free, forever. The commit's write is gated on
`version > newest checkpoint` evaluated INSIDE the per-path mutex hold,
and entry removal takes the same mutex — so the floor check and the
free serialize, and a stale claim retries above the head instead of
resurrecting the slot."""

from __future__ import annotations

import os
import time

from local_datalakehouse_phase2_spark.lakehouse.fs import (
    ArbitratedFileIO,
    HttpCasMutex,
)
from local_datalakehouse_phase2_spark.lakehouse.log import LogEntry, TransactionLog

from .test_cas_seam import RacyFileIO


def _mk(op="append", files=()):
    def make(version):
        return LogEntry(
            version=version,
            snapshot_id=version,
            committed_at=time.time(),
            operation=op,
            added_files=tuple(files),
        )

    return make


def test_stale_claim_never_reclaims_expired_slot(tmp_path, casd_endpoint):
    meta = str(tmp_path / "t" / "metadata")
    io = ArbitratedFileIO(RacyFileIO(), mutex=HttpCasMutex(casd_endpoint))
    log = TransactionLog(meta, io=io)
    for _ in range(5):  # v0..v4
        log.append(_mk())
    log.write_checkpoint(4)
    log.remove_entries([1, 2])  # expiry's free: slots 1,2 reclaimable pre-r17

    # a writer whose first listing predates everything above: its claim
    # must be REJECTED by the checkpoint-floor precondition and retried
    # against a fresh listing — never written into the freed slot
    calls = {"n": 0}
    real = log.latest_version

    def stale_once():
        calls["n"] += 1
        return 0 if calls["n"] == 1 else real()

    log.latest_version = stale_once
    entry = log.append(_mk())
    assert entry.version == 5, entry
    assert not os.path.exists(os.path.join(meta, "0000000001.json")), (
        "the stale claim resurrected an expired slot below the head"
    )
    assert calls["n"] >= 2  # the stale first claim really was exercised


def test_guarded_create_precondition_blocks_write(tmp_path):
    """Contract of the new seam on the plain (non-arbitrated) base:
    a False precondition means no write and a False return."""
    io = RacyFileIO()
    p = str(tmp_path / "x.json")
    assert io.create_exclusive_guarded(p, "data", lambda: False) is False
    assert not os.path.exists(p)
    assert io.create_exclusive_guarded(p, "data", lambda: True) is True
    assert open(p).read() == "data"


def test_remove_arbitrated_serializes_with_guarded_create(tmp_path, casd_endpoint):
    """remove_arbitrated takes the same per-path mutex the guarded
    create holds, so a free and a claim on one slot cannot interleave:
    with the claim's precondition waiting on an armed barrier-free
    sequence, the ordering is free-then-claim or claim-then-free, and
    in both orders the slot cannot be silently resurrected below a
    checkpoint floor (the floor read happens under the same hold)."""
    io = ArbitratedFileIO(RacyFileIO(), mutex=HttpCasMutex(casd_endpoint))
    p = str(tmp_path / "0000000001.json")
    io.write_text_atomic(p, "old")
    io.remove_arbitrated(p)
    assert not os.path.exists(p)
    # floor says no -> stays free; floor says yes -> claimed exactly once
    assert io.create_exclusive_guarded(p, "new", lambda: False) is False
    assert not os.path.exists(p)
    assert io.create_exclusive_guarded(p, "new", lambda: True) is True
    assert io.create_exclusive_guarded(p, "newer", lambda: True) is False
    assert open(p).read() == "new"
