"""Round-12 race self-review (VERDICT r11 item 7): the seams added
this round and last — direct per-table merge vs the catalog-branch
protocol, and the lease mutex (HttpCasMutex) stealing from a live
(stalled) holder."""

from __future__ import annotations

import threading
import time

import pytest

from local_datalakehouse_phase2_spark.lakehouse import (
    Lakehouse,
    MaintenanceError,
    merge_branch,
    rebase_branch,
)
from local_datalakehouse_phase2_spark.lakehouse.fs import HttpCasMutex


def _df(spark, *rows):
    return spark.createDataFrame(list(rows), "k bigint, v string")


def test_direct_merge_of_managed_catalog_ref_refused(spark, tmp_path):
    """merge_branch / rebase_branch on a reserved `catalog.` per-table
    ref must refuse: publishing a member chain outside the catalog
    record's pins/marker protocol would make the later catalog merge
    double-apply or spuriously conflict. The catalog layer's own
    rebase (managed=True) still works."""
    lake = Lakehouse(spark, str(tmp_path / "w"))
    lake.create_namespace("lab")
    t = lake.create_table("lab.t", schema="k bigint, v string")
    t.append(_df(spark, (1, "m1")).coalesce(1))
    lake.create_branch("etl")
    lake.append("lab.t", _df(spark, (2, "e2")), catalog_ref="etl")

    with pytest.raises(MaintenanceError, match="managed by a catalog-wide"):
        merge_branch(t, "catalog.etl")
    with pytest.raises(MaintenanceError, match="managed by a catalog-wide"):
        rebase_branch(t, "catalog.etl")

    # the protocol paths still function
    t.append(_df(spark, (9, "m9")))  # main moves so rebase has work
    lake.rebase_catalog_branch("etl")
    res = lake.merge_catalog_branch("etl")
    assert res["merged_tables"] == 1
    assert {tuple(r) for r in lake.read("lab.t").collect()} == {
        (1, "m1"),
        (2, "e2"),
        (9, "m9"),
    }


def test_endpoint_mutex_steal_from_live_holder(tmp_path, monkeypatch, casd_endpoint):
    """A thief stealing a stalled-but-alive holder's row must (a) win
    exactly once, (b) survive the stalled holder's eventual release
    (conditional delete on owner is a no-op — and since r16's fencing
    parity, the victim's release raises LockStolenError LOUDLY instead
    of exiting silently), and (c) keep excluding third parties until
    the THIEF releases."""
    from local_datalakehouse_phase2_spark.lakehouse import log as _log
    from local_datalakehouse_phase2_spark.lakehouse.fs import LockStolenError

    monkeypatch.setattr(_log, "LOCK_STEAL_SECONDS", 0.2)
    mx = HttpCasMutex(casd_endpoint, timeout_s=5.0)
    path = str(tmp_path / "res")

    events: list[str] = []
    holder_entered = threading.Event()
    thief_done = threading.Event()

    def holder():
        try:
            with mx(path):
                events.append("holder-in")
                holder_entered.set()
                # stall past the steal threshold while STILL alive
                thief_done.wait(10)
        except LockStolenError:
            # r16: the fence verification at release reports the
            # mid-hold steal to the stalled holder — the loud half of
            # the clause-4 answer, never a silent normal exit
            events.append("holder-stolen-detected")
        else:
            events.append("holder-released-silently")

    def thief():
        holder_entered.wait(5)
        time.sleep(0.3)  # age the row past LOCK_STEAL_SECONDS
        with mx(path):
            events.append("thief-in")
            thief_done.set()
            # hold long enough for the stalled holder to release first
            time.sleep(0.3)
        events.append("thief-released")

    th, tt = threading.Thread(target=holder), threading.Thread(target=thief)
    th.start(), tt.start()
    th.join(15), tt.join(15)
    assert not th.is_alive() and not tt.is_alive()
    # the stalled holder learned loudly; its conditional delete did not
    # free the thief's row (the thief releases after, cleanly)
    assert "holder-stolen-detected" in events
    assert events.index("holder-stolen-detected") < events.index("thief-released")
    with mx(path):
        events.append("third-in")
    assert events[-1] == "third-in"


def test_endpoint_mutex_concurrent_thieves_exclude(tmp_path, monkeypatch, casd_endpoint):
    """Eight thieves racing to steal ONE stale row: the endpoint's
    atomic read-check-update must serialize them — at most one inside
    the critical section at any instant, every thread eventually
    through."""
    import os

    from local_datalakehouse_phase2_spark.lakehouse import log as _log

    monkeypatch.setattr(_log, "LOCK_STEAL_SECONDS", 0.05)
    mx = HttpCasMutex(casd_endpoint, timeout_s=20.0)
    path = str(tmp_path / "res")
    # plant a stale row from a "crashed" holder
    mx._post(
        "/_seed",
        {
            "path": os.path.realpath(path),
            "owner": "dead-holder",
            "acquired_at": time.time() - 60,
        },
    )

    inside = [0]
    max_inside = [0]
    errors: list[BaseException] = []
    guard = threading.Lock()

    def worker():
        try:
            with mx(path):
                with guard:
                    inside[0] += 1
                    max_inside[0] = max(max_inside[0], inside[0])
                time.sleep(0.01)
                with guard:
                    inside[0] -= 1
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(30)
    assert not errors, errors
    assert max_inside[0] == 1, f"mutual exclusion violated: {max_inside[0]} inside"


def test_create_cas_branch_wins_main_loses(spark, tmp_path):
    """Create-create TOCTOU, direction 1: a main creator passes the
    empty-log existence check, a catalog-branch CREATE TABLE lands
    first — the main creator's append must fail loudly (a create must
    allocate version 0), never stack a second create onto the log."""
    from local_datalakehouse_phase2_spark.lakehouse import CatalogError

    lake = Lakehouse(spark, str(tmp_path / "w"))
    lake.create_namespace("lab")
    lake.create_branch("dev")
    # main creator mid-flight: existence check passed, append pending
    t, make = lake._create_plan("lab.x", schema="k bigint, v string")
    lake.create_table_on_branch("lab.x", "dev", schema="k bigint, v string")
    with pytest.raises(CatalogError, match="concurrently created"):
        t.log.append(make)
    # the branch creation is intact and mergeable
    lake.append("lab.x", _df(spark, (1, "b1")), catalog_ref="dev")
    lake.merge_catalog_branch("dev")
    assert [tuple(r) for r in lake.read("lab.x").collect()] == [(1, "b1")]


def test_create_cas_main_wins_branch_loses(spark, tmp_path):
    """Direction 2: the branch creator passes its check, then a main
    create lands v0 first. The branch append must raise AND remove the
    just-created empty `catalog.` ref from the now-foreign table."""
    from local_datalakehouse_phase2_spark.lakehouse import CatalogError
    from local_datalakehouse_phase2_spark.lakehouse.catalog_refs import (
        CatalogRefError,
    )
    from local_datalakehouse_phase2_spark.lakehouse.log import TransactionLog

    lake = Lakehouse(spark, str(tmp_path / "w"))
    lake.create_namespace("lab")
    lake.create_branch("dev")

    real_create_ref = TransactionLog.create_ref
    fired = {}

    def create_ref_then_main_lands(self, name, snapshot_id, **kw):
        out = real_create_ref(self, name, snapshot_id, **kw)
        if name == "catalog.dev" and not fired:
            fired["x"] = True  # racing main creator lands v0 NOW
            lake.create_table("lab.y", schema="k bigint, v string")
        return out

    TransactionLog.create_ref = create_ref_then_main_lands
    try:
        with pytest.raises((CatalogError, CatalogRefError), match="concurrently created"):
            lake.create_table_on_branch("lab.y", "dev", schema="k bigint, v string")
    finally:
        TransactionLog.create_ref = real_create_ref
    # main's table won and is clean: no dangling managed ref, readable
    t = lake.table("lab.y")
    assert "catalog.dev" not in t.log.refs()
    t.append(_df(spark, (7, "m7")).coalesce(1))
    assert [tuple(r) for r in t.read().collect()] == [(7, "m7")]
    # and the ref record never listed the loser
    with pytest.raises(CatalogRefError, match="does not exist"):
        lake.read("lab.y", catalog_ref="dev")


# r17 (VERDICT item 2a): heavy suite — excluded from the default
# driver-contract run by pytest.ini's `-m "not slow"`; the builder
# gate runs `pytest -m slow` so coverage is unchanged, only WHERE
# it runs moved.
import pytest as _pytest_r17

pytestmark = _pytest_r17.mark.slow
