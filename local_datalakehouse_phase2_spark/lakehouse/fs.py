"""FileIO: the lakehouse's storage abstraction (reference S8).

The reference deployment stores tables on an S3-compatible object
store via Hadoop's S3A connector (reference spark/conf/
spark-defaults.conf:15-20); locally everything is plain files. All
metadata/maintenance file handling in the lakehouse layer goes
through this interface — mirroring Iceberg's own `FileIO` seam — so
the transaction log, writers, and maintenance procedures are
path-scheme-agnostic:

- `LocalFileIO`: direct `os` calls; the default and what every test
  exercises.
- `HadoopFileIO`: routes through the JVM Hadoop `FileSystem` API that
  Spark already carries (`spark._jvm`), so the SAME code paths work on
  `hdfs://`, `s3a://`, or `file:` URIs. Instantiable and tested
  locally because Hadoop's `LocalFileSystem` serves `file:` paths.

Durability note (same caveat Iceberg documents): exclusive-create as
a commit arbiter is atomic on a real filesystem (POSIX, HDFS). On
S3A, create-no-overwrite is check-then-put, so multi-writer commits
against raw S3 need an external lock/catalog service — exactly why
Iceberg pairs S3 with a metastore/REST catalog. The abstraction keeps
that single arbitration point in one overridable method.

Bulk DATA reads/writes do not pass through here: Spark's own readers
and writers (`spark.read.parquet`, `df.write.parquet`) are already
scheme-aware via the same Hadoop connectors.
"""

from __future__ import annotations

import abc
import hashlib
import json
import os
import re
import shutil
import socket
import threading
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq


class FileIO(abc.ABC):
    """Minimal file operations the lakehouse metadata layer needs."""

    # --- directories -------------------------------------------------
    @abc.abstractmethod
    def makedirs(self, path: str) -> None: ...

    @abc.abstractmethod
    def listdir(self, path: str) -> list[str]:
        """Names (not paths) of entries directly under `path`;
        empty list if the directory doesn't exist."""

    @abc.abstractmethod
    def walk_files(self, path: str) -> Iterator[str]:
        """Every file path (recursively) under `path`."""

    def relpath(self, full: str, base: str) -> str:
        """`full` relative to `base`, tolerant of scheme-qualified URIs
        on either side (Hadoop file statuses come back as `file:/...`
        or `hdfs://host/...` even when the table was opened with a
        plain path). Callers compare these against log-recorded
        relative paths, so a scheme mismatch here would make every
        live file look unreferenced — which is how an orphan sweep
        turns into data loss."""
        return os.path.relpath(self._strip_scheme(full), self._strip_scheme(base))

    @staticmethod
    def _strip_scheme(p: str) -> str:
        # scheme must be >= 2 chars: a single letter before `:` is a
        # Windows drive (C:/data), not a URI scheme — stripping it
        # would misclassify every file in relpath comparisons (real
        # schemes here — file, hdfs, s3a, abfss — are all >= 2)
        m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]+:(//[^/]*)?(/.*)$", p)
        return m.group(2) if m else p

    @abc.abstractmethod
    def remove_empty_dirs(self, path: str) -> None:
        """Prune now-empty directories under `path` (never `path`)."""

    @abc.abstractmethod
    def rmtree(self, path: str) -> None: ...

    # --- files -------------------------------------------------------
    @abc.abstractmethod
    def exists(self, path: str) -> bool: ...

    @abc.abstractmethod
    def is_dir(self, path: str) -> bool: ...

    @abc.abstractmethod
    def size(self, path: str) -> int: ...

    @abc.abstractmethod
    def mtime(self, path: str) -> float: ...

    @abc.abstractmethod
    def remove(self, path: str) -> None: ...

    @abc.abstractmethod
    def read_text(self, path: str) -> str: ...

    @abc.abstractmethod
    def write_text_atomic(self, path: str, data: str) -> None:
        """Write so readers never observe a partial file."""

    @abc.abstractmethod
    def create_exclusive(self, path: str, data: str) -> bool:
        """Write `data` to `path` iff it does not exist. Returns False
        (without writing) when it already does — the commit-race
        arbiter; see module docstring for scheme-level atomicity.

        CONTRACT (every consumer depends on all three):
        1. At most one of N concurrent calls for the same `path` may
           return True; the rest return False without writing.
        2. A True return means `data` is durably and completely at
           `path` (readers may still observe a torn partial DURING the
           write on stores without atomic create — the reader side
           retries torn JSON, see TransactionLog.read_entry — but
           never after True is returned).
        3. False must mean "path already existed", never a swallowed
           IO error (a commit loop retries False forever).

        Three lakehouse primitives route every race through this one
        method: log-entry commits (log.py append), per-ref advisory
        locks (log.py _with_ref_lock), and multi-table transaction
        markers (transaction.py). On POSIX (link(2)) and HDFS
        (create no-overwrite) the store provides property 1 natively.
        On raw S3, create-no-overwrite is check-then-put: two racers
        can BOTH pass the check and both return True — silently
        losing one commit. Production object-store deployments must
        wrap the store in `ArbitratedFileIO` with a mutex backed by a
        real CAS service (DynamoDB conditional put, ZooKeeper,
        a catalog's commit endpoint — exactly Iceberg's
        pair-S3-with-a-catalog guidance, which the reference satisfies
        via Nessie, /root/reference/docker-compose.yml:6)."""

    def create_exclusive_guarded(self, path: str, data: str, precondition) -> bool:
        """`create_exclusive`, gated by `precondition()` — the seam that
        closes the expiry/stalled-writer slot-reuse race (r17): a commit
        claiming log version v must verify v is still above the newest
        checkpoint floor AT WRITE TIME, because snapshot expiry deletes
        old entry files and frees their names for O_EXCL re-claim; a
        writer that stalled between choosing v and writing it would
        otherwise land BELOW the table head, invisible to every
        checkpoint-anchored fold (a lost commit, observed under load by
        tests/test_flock_mutex.py's ingest-vs-maintenance stress).

        Base implementation is check-then-create — the strongest a
        store without an external arbiter can do, and sufficient
        single-process (expiry and commits in one process serialize on
        the GIL per bytecode region plus the process-local per-path
        mutex ArbitratedFileIO defaults to). `ArbitratedFileIO`
        overrides this to run the precondition INSIDE the per-path
        mutex hold, where it is atomic against the (also mutex-held)
        entry removal — airtight across processes."""
        if not precondition():
            return False
        return self.create_exclusive(path, data)

    def remove_arbitrated(self, path: str) -> None:
        """`remove`, routed through the commit arbiter when one exists
        (ArbitratedFileIO overrides). Only log-entry deletion needs
        this — it serializes slot frees against slot claims; data-file
        deletes stay on the plain `remove` (no name-reuse hazard)."""
        self.remove(path)

    @abc.abstractmethod
    def link_or_copy(self, src: str, dst: str) -> None:
        """Make `dst` hold `src`'s bytes as cheaply as the store allows:
        hard link on POSIX (zero-copy — what makes `add_files` adopt a
        directory of parquet without rewriting it), byte copy
        otherwise."""

    # --- parquet footers ---------------------------------------------
    @abc.abstractmethod
    def parquet_column_names(self, path: str) -> list[str]:
        """Top-level column names from the parquet footer (no data
        read) — `add_files` validates adopted files against the table
        schema with this."""

    @abc.abstractmethod
    def parquet_row_count(self, path: str) -> int:
        """Exact row count from the parquet footer (no Spark job)."""

    @abc.abstractmethod
    def parquet_arrow_schema(self, path: str):
        """Arrow schema reconstructed from the parquet footer (no data
        read) — `add_files` validates adopted files' column TYPES (not
        just names) against the table schema with this."""

    @abc.abstractmethod
    def parquet_file_stats(self, path: str) -> tuple[int, dict[str, list]]:
        """(row_count, column stats) from the parquet footer — the same
        per-file min/max/null-count metrics Iceberg records in manifests
        so scan planning can skip files without opening them. See
        `stats_from_footer` for the value encoding and safety rules."""


# upper bound on recorded string min/max; longer values drop the column's
# stats for that file (Iceberg instead truncates with increment — skipping
# is simpler and equally safe, pruning stays advisory-only)
_MAX_STR_STAT = 120


def _canonical_stat(v):
    """Map a footer statistics value to a JSON-safe, order-preserving
    encoding, or raise ValueError when no safe encoding exists.

    - bool/int: as-is (exact)
    - float: as-is; NaN is unordered => unusable
    - Decimal: float bounds WIDENED one ulp each way so the lossy
      conversion can never tighten the range and mis-prune
    - datetime/date: ISO-8601 string (lexicographic == chronological
      for fixed-width ISO timestamps)
    - str: as-is up to _MAX_STR_STAT chars
    - bytes/everything else: unusable
    """
    import datetime as _dt
    import math as _math
    from decimal import Decimal

    if isinstance(v, bool) or isinstance(v, int):
        return v
    if isinstance(v, float):
        if _math.isnan(v):
            raise ValueError("NaN stat")
        return v
    if isinstance(v, Decimal):
        f = float(v)
        if _math.isnan(f) or _math.isinf(f):
            raise ValueError("non-finite decimal")
        return f
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, str):
        if len(v) > _MAX_STR_STAT:
            raise ValueError("oversized string stat")
        return v
    raise ValueError(f"unsupported stat type {type(v).__name__}")


def stats_from_footer(md) -> dict[str, list]:
    """Column min/max/null-count map from a pyarrow FileMetaData.

    Per column: `[min, max, null_count]` with the `_canonical_stat`
    encoding; an all-null column records `[None, None, nulls]` (a
    strong pruning signal: no comparison predicate can match). Columns
    whose footer statistics are missing, non-encodable, or nested are
    omitted — pruning treats missing as "must scan", so omission is
    always safe, never wrong.
    """
    from decimal import Decimal

    out: dict[str, list] = {}
    ncols = md.num_columns
    nested_roots = set()
    per_col: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        for ci in range(ncols):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:
                nested_roots.add(name.split(".", 1)[0])
                continue
            per_col.setdefault(name, []).append(col)
    for name, chunks in per_col.items():
        if name in nested_roots:
            continue
        mins, maxs, nulls = [], [], 0
        ok = True
        for col in chunks:
            st = col.statistics
            if st is None or st.null_count is None:
                ok = False
                break
            nulls += st.null_count
            if st.num_values == 0:
                continue  # all-null chunk: contributes no bounds
            if not st.has_min_max:
                ok = False
                break
            try:
                # st.min/.max themselves can raise (pyarrow refuses to
                # decode stats for some physical types, e.g. Spark's
                # INT96 timestamps) — treat exactly like non-encodable
                lo, hi = st.min, st.max
                widen = isinstance(lo, Decimal) or isinstance(hi, Decimal)
                lo, hi = _canonical_stat(lo), _canonical_stat(hi)
                if widen:
                    import math as _math

                    lo = _math.nextafter(lo, -_math.inf)
                    hi = _math.nextafter(hi, _math.inf)
            except (ValueError, NotImplementedError, pa.lib.ArrowNotImplementedError):
                ok = False
                break
            mins.append(lo)
            maxs.append(hi)
        if not ok:
            continue
        if mins:
            out[name] = [min(mins), max(maxs), nulls]
        else:
            out[name] = [None, None, nulls]  # column entirely null
    return out


class LocalFileIO(FileIO):
    """Plain-`os` implementation — the local default."""

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        try:
            return sorted(os.listdir(path))
        except FileNotFoundError:
            return []

    def walk_files(self, path: str) -> Iterator[str]:
        for root, _dirs, names in os.walk(path):
            for name in names:
                yield os.path.join(root, name)

    def remove_empty_dirs(self, path: str) -> None:
        for root, dirs, names in list(os.walk(path, topdown=False)):
            if root != path and not dirs and not names:
                try:
                    os.rmdir(root)
                except OSError:
                    pass

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def remove(self, path: str) -> None:
        os.remove(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, data: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, path)

    def create_exclusive(self, path: str, data: str) -> bool:
        # write the FULL content to a unique temp file, then hard-link
        # it into place: link(2) fails with EEXIST if the target exists
        # (the exclusivity arbiter) and is atomic, so a concurrent
        # reader either sees no file or the complete entry — never a
        # half-written JSON (open(path, "x") + write has exactly that
        # torn-read window under concurrent commits)
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            f.write(data)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def link_or_copy(self, src: str, dst: str) -> None:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(src, dst)  # zero-copy adoption on the same device
        except OSError:
            shutil.copy2(src, dst)  # cross-device / FS without links

    def parquet_column_names(self, path: str) -> list[str]:
        md = pq.ParquetFile(path).metadata
        return sorted({md.schema.column(i).path.split(".")[0] for i in range(md.num_columns)})

    def parquet_arrow_schema(self, path: str):
        return pq.read_schema(path)

    def parquet_row_count(self, path: str) -> int:
        return pq.ParquetFile(path).metadata.num_rows

    def parquet_file_stats(self, path: str) -> tuple[int, dict[str, list]]:
        md = pq.ParquetFile(path).metadata
        return md.num_rows, stats_from_footer(md)


# ---- mutex backend contract (r14) -------------------------------------
#
# A mutex backend for ArbitratedFileIO is any callable
#
#     mutex(path: str) -> context manager
#
# satisfying, at the backend's documented scope (process / host /
# multi-host), the contract the conformance suite
# (tests/test_mutex_conformance.py) enforces against every registered
# backend:
#
#   1. EXCLUSION — at most one participant is inside the context for a
#      given canonical path at a time (two spellings of one file must
#      arbitrate as one path: resolve symlinks / normalize before
#      keying).
#   2. NO RETURN WITHOUT THE LOCK — __enter__ either acquires or
#      raises (e.g. a bounded-wait timeout); it never yields
#      optimistically.
#   3. RELEASE ON EXIT — normal or exceptional exit frees the path for
#      the next waiter.
#   4. CRASH LIVENESS — a holder that dies without releasing must not
#      wedge the path forever. Kernel-mediated backends (flock) get
#      this from automatic release; lease-based backends (endpoint
#      conditional-put: the casd HTTP endpoint, DynamoDB, etcd) must
#      steal holder records older than log.LOCK_STEAL_SECONDS, and a
#      LIVE holder younger than that must never be stolen.
#   5. NON-REENTRANT — like threading.Lock; ArbitratedFileIO never
#      nests acquisitions of one path.
#
# Known lease-backend caveat and the FENCING answer (r15): a holder
# stalled PAST the steal horizon can overlap its thief; flock backends
# cannot exhibit this because release is tied to process lifetime.
# The complete fix is a fencing token — a per-path monotone counter
# issued on every acquire (insert or steal) that the protected MEDIUM
# checks at write time, rejecting writes carrying a stale token
# (DynamoDB condition expressions, S3 conditional writes, etcd txn
# revisions all can; Lamport's rule via Kleppmann's formulation).
# HttpCasMutex implements the token end: its endpoint issues fences,
# answers a conditional `/validate` ("may fence N still write?", with
# lease renewal on success), and its release VERIFIES the fence,
# raising LockStolenError when the path was stolen mid-hold. r16
# closes the loop: ArbitratedFileIO calls validate() under the held
# lock immediately before each protected write, so a stalled holder's
# late commit raises StaleFenceError and the write is NEVER ISSUED —
# rejection at write time, with release-time detection kept as the
# backstop. The residual window (a second full-TTL stall between the
# successful validate and the write itself) is the standard lease
# assumption; media with native conditional writes (DynamoDB, S3
# conditional PUT, etcd txns) shrink it to zero by checking the token
# atomically with the put — FencedLocalFileIO demonstrates exactly
# that on the local medium (sidecar fence under flock, conformance
# clause 4f), and ArbitratedFileIO routes through its fenced put
# automatically. Operational rule for non-fencing backends:
# size LOCK_STEAL_SECONDS far above any plausible GC/IO stall, and
# treat LockStolenError as "my commit may not have survived — re-plan".


def _canon(path: str) -> str:
    """The key every arbiter uses for `path`: two processes spelling the
    same file differently (symlinked mount, relative vs absolute,
    trailing slash) must land on the SAME key, or the mutex silently
    grants no exclusion (clause 1). realpath resolves symlinks and
    normalizes; scheme-qualified paths (no real file) fall back to
    normpath of the raw string."""
    return os.path.realpath(path) if "://" not in path else os.path.normpath(path)


class FlockMutex:
    """`flock(2)`-based cross-process arbiter for `ArbitratedFileIO`.

    One lock file per arbitrated path, sha1-named under `lock_dir` so
    lock files never appear in metadata listings (a `<entry>.lock`
    sibling would leak into the log's version listing and the orphan
    sweep). The kernel mediates `LOCK_EX` across every process on the
    host that opens the same lock file, which upgrades the default
    process-local arbiter to host-wide scope — the right tool when
    "concurrent writers" means a Spark driver plus a maintenance cron
    on one node, the common single-node lakehouse deployment this repo
    targets (SURVEY.md §4). It is explicitly NOT a multi-host answer:
    flock over NFS/FUSE-S3 is advisory-at-best, so a fleet of drivers
    needs a catalog-endpoint mutex (HttpCasMutex; the Nessie role in
    the reference stack, docker-compose.yml:6) behind this same
    one-argument seam.

    Lock files are never deleted (unlink-while-locked is the classic
    flock ABA bug: a waiter blocked on the unlinked inode acquires a
    lock nobody else can see). They are zero-byte, bounded by the
    number of distinct arbitrated paths, and live under the table's
    own metadata root, so the orphan sweep's protections apply.

    Reentrancy: NOT reentrant (matching threading.Lock) — one
    `create_exclusive` never nests another, which is the only call
    site ArbitratedFileIO routes through the mutex.
    """

    def __init__(self, lock_dir: str):
        self.lock_dir = lock_dir
        os.makedirs(lock_dir, exist_ok=True)

    @contextmanager
    def __call__(self, path: str):
        import fcntl

        name = hashlib.sha1(_canon(path).encode("utf-8")).hexdigest() + ".lock"

        fd = os.open(os.path.join(self.lock_dir, name), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)


class LockStolenError(RuntimeError):
    """Raised at RELEASE when the lock endpoint's per-path fence
    advanced past this holder's acquisition — i.e. the holder stalled
    beyond the steal horizon and a thief took the path mid-hold. The
    protected operation may have overlapped the thief's; the caller
    must treat its write as of unknown outcome and re-plan (the loud
    half of the fencing answer; see the contract's clause-4 note)."""


class StaleFenceError(LockStolenError):
    """Raised BEFORE the protected write when the endpoint's
    conditional check (`/validate`) reports the holder's fence is no
    longer the newest for the path — the stalled-holder-past-TTL
    overlap, CLOSED rather than reported: the write was never issued,
    so the thief's committed bytes stand untouched and the stalled
    caller can re-plan from clean state (unlike LockStolenError at
    release, where the outcome is unknown). Subclasses LockStolenError
    so callers treating "my hold was stolen" generically keep
    working."""


class _FenceHandle:
    """What a fencing-capable mutex yields from its context manager:
    the acquire's fence token plus a `validate()` the arbitrated IO
    calls immediately before each protected write. Non-fencing
    backends yield None (or a bare lock object) and the IO skips the
    check — the seam stays one optional method, not a new contract."""

    __slots__ = ("_mutex", "_path", "_owner", "fence")

    def __init__(self, mutex: "HttpCasMutex", path: str, owner: str, fence: int):
        self._mutex = mutex
        self._path = path
        self._owner = owner
        self.fence = fence

    def validate(self) -> None:
        res = self._mutex._post(
            "/validate",
            {"path": self._path, "owner": self._owner, "fence": self.fence},
        )
        if not res.get("ok"):
            raise StaleFenceError(
                f"fence {self.fence} on {self._path!r} is stale (endpoint now at "
                f"{res.get('fence')}): a thief acquired mid-hold — the protected "
                "write was REJECTED before it was issued; re-plan from current state"
            )


class HttpCasMutex:
    """HTTP conditional-put arbiter for `ArbitratedFileIO` — the
    genuinely remote-SHAPED lease backend (r15, the conformance kit's
    lease entry): cooperating writers share NOTHING but a TCP endpoint
    (`casd.py`, run standalone), the deployment shape of a real
    DynamoDB table / etcd cluster / Nessie server (the reference
    stack's commit arbiter, docker-compose.yml:6,
    spark/conf/spark-defaults.conf:8).

    Acquire = one POST /acquire the SERVER applies atomically
    (insert-if-absent, or steal when the holder row is older than
    log.LOCK_STEAL_SECONDS — read at call time so crash-recovery tests
    can lower it). The response carries a per-path monotone FENCE
    token, incremented on every successful acquire including steals.
    Release = POST /release with that fence; a response flagging the
    fence stale means a thief acquired mid-hold, and release raises
    `LockStolenError` AFTER freeing the row — the stalled holder
    learns loudly that its critical section may have overlapped.
    Media that can check a condition per write should instead store
    the fence with the resource and reject stale-fenced writes, which
    closes the overlap entirely (clause-4 note above).

    Not reentrant, like the other backends. stdlib urllib only."""

    def __init__(self, endpoint: str, timeout_s: float = 30.0):
        # endpoint: "http://127.0.0.1:<port>"
        self.endpoint = endpoint.rstrip("/")
        self.timeout_s = timeout_s

    def _post(self, route: str, body: dict) -> dict:
        import urllib.request

        req = urllib.request.Request(
            f"{self.endpoint}{route}",
            data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=max(self.timeout_s, 5.0)) as r:
            return json.loads(r.read())

    @contextmanager
    def __call__(self, path: str):
        from . import log as _log

        canon = _canon(path)
        owner = f"{socket.gethostname()}-{os.getpid()}-{threading.get_ident()}"
        deadline = time.monotonic() + self.timeout_s
        while True:
            res = self._post(
                "/acquire",
                {"path": canon, "owner": owner, "steal_after": _log.LOCK_STEAL_SECONDS},
            )
            if res.get("ok"):
                fence = res["fence"]
                break
            if time.monotonic() >= deadline:
                raise RuntimeError(f"timed out waiting for CAS endpoint lock on {canon!r}")
            time.sleep(0.005)
        body_exc: BaseException | None = None
        try:
            yield _FenceHandle(self, canon, owner, fence)
        except BaseException as e:
            body_exc = e
            raise
        finally:
            import urllib.error

            rel = None
            for attempt in range(3):
                try:
                    rel = self._post(
                        "/release", {"path": canon, "owner": owner, "fence": fence}
                    )
                    break
                except (urllib.error.URLError, OSError):
                    # endpoint unreachable at release: retry briefly (a
                    # blip shouldn't forfeit steal detection), then
                    # swallow — failing here would mask the protected
                    # operation's own outcome, and the lease TTL exists
                    # exactly so an unreleased row is reclaimed (the
                    # holder row ages past LOCK_STEAL_SECONDS and the
                    # next waiter steals it)
                    if attempt < 2:
                        time.sleep(0.05 * (attempt + 1))
            if rel is None:
                import warnings

                warnings.warn(
                    f"CAS endpoint {self.endpoint} unreachable at release of "
                    f"{canon!r}: steal detection was SKIPPED for this hold — a "
                    "mid-hold thief would go unreported here (fence-checked "
                    "writes still bounce a stale holder at write time)",
                    RuntimeWarning,
                    stacklevel=2,
                )
                rel = {}
            # release-time detection is the BACKSTOP: if the body already
            # raised for this steal (StaleFenceError from the write-time
            # check), re-raising here would mask the more precise error
            if rel.get("stolen") and not isinstance(body_exc, LockStolenError):
                raise LockStolenError(
                    f"lock on {canon!r} was stolen mid-hold (fence {fence} -> "
                    f"{rel.get('fence')}): this writer stalled past "
                    "LOCK_STEAL_SECONDS and its protected operation may have "
                    "overlapped the thief's — treat the outcome as unknown and re-plan"
                )


class FencedLocalFileIO(LocalFileIO):
    """LocalFileIO whose exclusive-create enforces a fencing token
    ATOMICALLY with the put — the role S3 conditional writes / DynamoDB
    condition expressions / etcd txn revisions play for real object
    stores, demonstrated on the local medium (r16).

    The endpoint-checked mode (`_FenceHandle.validate()` before the
    write) leaves one residual: a holder that validates, then stalls a
    SECOND full TTL before its put, can still land bytes after a
    thief's. A fencing-capable medium closes that too, because the
    token check happens atomically with the write itself. Here: a
    sidecar `<fence_dir>/<sha1>.fence` records the highest fence that
    ever mutated each path, and `create_exclusive_fenced` runs
    {read sidecar, compare, put, record} under one flock on the
    sidecar — a lower-fenced late writer gets `StaleFenceError` with
    the medium untouched, no matter where it stalled.

    `ArbitratedFileIO` calls `create_exclusive_fenced` automatically
    when the inner IO exposes it and the mutex yielded a fence token;
    everything else delegates to plain LocalFileIO. Sidecars are
    zero-byte-ish, sha1-named (never collide with metadata listings),
    bounded by the number of distinct fenced paths — the FlockMutex
    lock-file discipline."""

    def __init__(self, fence_dir: str):
        self.fence_dir = fence_dir
        os.makedirs(fence_dir, exist_ok=True)

    def _sidecar(self, path: str) -> str:
        name = hashlib.sha1(_canon(path).encode("utf-8")).hexdigest() + ".fence"
        return os.path.join(self.fence_dir, name)

    def create_exclusive_fenced(self, path: str, data: str, fence: int) -> bool:
        import fcntl

        fd = os.open(self._sidecar(path), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                raw = os.read(fd, 64)
                recorded = int(raw) if raw.strip() else 0
                if fence < recorded:
                    raise StaleFenceError(
                        f"fenced put on {path!r} rejected AT THE MEDIUM: write "
                        f"carries fence {fence} but the path has already been "
                        f"mutated under fence {recorded} — a thief acquired "
                        "after this writer; the put was never issued"
                    )
                won = super().create_exclusive(path, data)
                if won and fence > recorded:
                    os.lseek(fd, 0, os.SEEK_SET)
                    os.ftruncate(fd, 0)
                    os.write(fd, str(fence).encode())
                return won
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)


class ArbitratedFileIO(FileIO):
    """Route `create_exclusive` through an external mutual-exclusion
    arbiter; delegate everything else to the wrapped FileIO.

    The seam for stores whose create-no-overwrite is check-then-put
    (raw S3): under a per-path mutex, check-then-put IS compare-and-
    swap, so the create_exclusive contract's at-most-one-winner
    property is restored without changing a single consumer — commits,
    ref locks, and transaction markers all arbitrate through the one
    method (see the contract on FileIO.create_exclusive).

    `mutex(path)` returns a context manager holding exclusive access
    for that path across ALL cooperating writers. Production backends:
    a DynamoDB conditional-put lock (what Iceberg's S3 lock manager
    did), ZooKeeper/etcd, or a catalog service's commit endpoint (the
    Nessie role in the reference stack). The default is a process-local
    lock registry — correct for many threads in one process, a
    documented NON-solution for separate processes (matching the
    single-node scope in SURVEY.md §4); tests inject doubles through
    the same parameter to prove the race and its fix.

    FENCE-CHECKED WRITES (r16): when the mutex's context manager
    yields a handle exposing `validate()` (HttpCasMutex does — the
    endpoint's conditional check), every arbitrated create calls it
    under the held lock immediately before the inner write. A holder
    that stalled past LOCK_STEAL_SECONDS while a thief took the path
    gets `StaleFenceError` and its write is NEVER ISSUED — the overlap
    release-time LockStolenError only reports is closed at the write.
    Backends that yield nothing (FlockMutex, the default thread-lock
    registry) skip the check: their release is tied to process
    lifetime, so a live stalled holder is never stolen from."""

    def __init__(self, inner: FileIO, mutex=None):
        self._inner = inner
        if mutex is None:
            import collections

            locks: dict[str, threading.Lock] = collections.defaultdict(
                threading.Lock
            )
            registry_guard = threading.Lock()

            def mutex(path: str):
                with registry_guard:
                    return locks[path]

        self._mutex = mutex

    def create_exclusive(self, path: str, data: str) -> bool:
        return self.create_exclusive_guarded(path, data, lambda: True)

    def create_exclusive_guarded(self, path: str, data: str, precondition) -> bool:
        """Run `precondition()` INSIDE the per-path mutex hold, then the
        exclusive create under the same hold. Entry removal takes the
        same mutex (`remove_arbitrated`), so "slot freed by expiry" and
        "slot claimed by a commit" serialize: a freed slot is always
        preceded by a visible checkpoint at or above it (expiry
        checkpoints before dropping), so the commit's floor
        precondition cannot miss it — the unbounded stall window lived
        exactly here, between choosing a version and acquiring this
        mutex (r17 lost-commit fix)."""
        with self._mutex(path) as handle:
            validate = getattr(handle, "validate", None)
            if callable(validate):
                validate()  # StaleFenceError: write rejected, not issued
            if not precondition():
                return False
            fence = getattr(handle, "fence", None)
            fenced_put = getattr(self._inner, "create_exclusive_fenced", None)
            if fence is not None and callable(fenced_put):
                # fencing-capable MEDIUM (FencedLocalFileIO; real-world:
                # S3 conditional writes, DynamoDB condition expressions):
                # the token check is atomic with the put, closing even
                # the validate->write stall residual
                return fenced_put(path, data, fence)
            return self._inner.create_exclusive(path, data)

    def remove_arbitrated(self, path: str) -> None:
        with self._mutex(path):
            self._inner.remove(path)

    # ---- pure delegation --------------------------------------------
    def makedirs(self, path: str) -> None:
        self._inner.makedirs(path)

    def listdir(self, path: str) -> list[str]:
        return self._inner.listdir(path)

    def walk_files(self, path: str) -> Iterator[str]:
        return self._inner.walk_files(path)

    def remove_empty_dirs(self, path: str) -> None:
        self._inner.remove_empty_dirs(path)

    def rmtree(self, path: str) -> None:
        self._inner.rmtree(path)

    def exists(self, path: str) -> bool:
        return self._inner.exists(path)

    def is_dir(self, path: str) -> bool:
        return self._inner.is_dir(path)

    def size(self, path: str) -> int:
        return self._inner.size(path)

    def mtime(self, path: str) -> float:
        return self._inner.mtime(path)

    def remove(self, path: str) -> None:
        self._inner.remove(path)

    def read_text(self, path: str) -> str:
        return self._inner.read_text(path)

    def write_text_atomic(self, path: str, data: str) -> None:
        self._inner.write_text_atomic(path, data)

    def link_or_copy(self, src: str, dst: str) -> None:
        self._inner.link_or_copy(src, dst)

    def parquet_column_names(self, path: str) -> list[str]:
        return self._inner.parquet_column_names(path)

    def parquet_arrow_schema(self, path: str):
        return self._inner.parquet_arrow_schema(path)

    def parquet_row_count(self, path: str) -> int:
        return self._inner.parquet_row_count(path)

    def parquet_file_stats(self, path: str) -> tuple[int, dict[str, list]]:
        return self._inner.parquet_file_stats(path)


class HadoopFileIO(FileIO):
    """Hadoop `FileSystem`-backed implementation via Spark's JVM.

    Works for any URI scheme the cluster's Hadoop connectors resolve
    (`hdfs://`, `s3a://`, `file:`). Parquet footers are read through a
    seekable Hadoop input stream wrapped for pyarrow, so row counts
    never require pulling a whole data file to the driver.
    """

    def __init__(self, spark) -> None:
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        fs = self._path(p).getFileSystem(self._conf)
        try:
            # no .crc sidecars next to metadata files (ChecksumFileSystem
            # wrapping, e.g. Hadoop's LocalFileSystem); object-store and
            # HDFS impls ignore this
            fs.setWriteChecksum(False)
            fs.setVerifyChecksum(False)
        except Exception:
            pass
        return fs

    def makedirs(self, path: str) -> None:
        self._fs(path).mkdirs(self._path(path))

    def listdir(self, path: str) -> list[str]:
        fs, jp = self._fs(path), self._path(path)
        if not fs.exists(jp):
            return []
        return sorted(st.getPath().getName() for st in fs.listStatus(jp))

    def walk_files(self, path: str) -> Iterator[str]:
        fs, jp = self._fs(path), self._path(path)
        if not fs.exists(jp):
            return
        it = fs.listFiles(jp, True)  # recursive
        while it.hasNext():
            yield it.next().getPath().toString()

    def remove_empty_dirs(self, path: str) -> None:
        fs, jp = self._fs(path), self._path(path)
        if not fs.exists(jp):
            return

        def prune(p) -> bool:  # True => removed
            statuses = fs.listStatus(p)
            empty = True
            for st in statuses:
                if st.isDirectory():
                    if not prune(st.getPath()):
                        empty = False
                else:
                    empty = False
            if empty and p.toString() != jp.toString():
                fs.delete(p, False)
                return True
            return False

        prune(jp)

    def rmtree(self, path: str) -> None:
        self._fs(path).delete(self._path(path), True)

    def exists(self, path: str) -> bool:
        return self._fs(path).exists(self._path(path))

    def is_dir(self, path: str) -> bool:
        fs, jp = self._fs(path), self._path(path)
        return fs.exists(jp) and fs.getFileStatus(jp).isDirectory()

    def size(self, path: str) -> int:
        return self._fs(path).getFileStatus(self._path(path)).getLen()

    def mtime(self, path: str) -> float:
        # Hadoop reports millis
        return self._fs(path).getFileStatus(self._path(path)).getModificationTime() / 1000.0

    def remove(self, path: str) -> None:
        self._fs(path).delete(self._path(path), False)

    def _read_range(self, path: str, offset: int) -> bytes:
        """Bytes from `offset` to EOF. py4j copies byte arrays by value,
        so reads must RETURN a java byte[] (IOUtils.toByteArray) rather
        than fill a Python-side buffer."""
        fs, jp = self._fs(path), self._path(path)
        stream = fs.open(jp)
        try:
            if offset:
                stream.seek(offset)
            return bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def read_text(self, path: str) -> str:
        return self._read_range(path, 0).decode("utf-8")

    def write_text_atomic(self, path: str, data: str) -> None:
        # write to a sibling temp object, then rename (atomic on HDFS /
        # real filesystems; an overwrite-PUT on object stores, which is
        # itself atomic per-object there)
        fs = self._fs(path)
        tmp = self._path(path + ".tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(data.encode("utf-8")))
        finally:
            out.close()
        dst = self._path(path)
        try:
            # FileContext rename with OVERWRITE: no delete-then-rename
            # window where concurrent readers see the file missing
            Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(self._conf)
            arr = self._gateway.new_array(Rename, 1)
            arr[0] = Rename.OVERWRITE
            fc.rename(tmp, dst, arr)
        except Exception:
            # FS without FileContext support: fall back to the
            # delete+rename two-step (brief not-found window)
            if fs.exists(dst):
                fs.delete(dst, False)
            fs.rename(tmp, dst)

    def create_exclusive(self, path: str, data: str) -> bool:
        # create(no-overwrite) is the exclusivity arbiter. NOTE a
        # no-overwrite RENAME would be the torn-read-free alternative,
        # but Hadoop's FileSystem.rename contract is not honored by
        # RawLocalFileSystem (POSIX rename overwrites an existing
        # destination file) — it could silently destroy a committed
        # entry on file: URIs. So exclusivity stays on create(), and
        # the brief window where a concurrent reader sees a partially
        # written entry is handled on the READER side
        # (TransactionLog.read_entry retries torn JSON).
        fs, jp = self._fs(path), self._path(path)
        try:
            out = fs.create(jp, False)  # no overwrite
        except Exception as e:
            # ONLY the already-exists race may report False — the
            # commit loop retries False forever, so masking a real IO
            # failure (permissions, network, quota) as a lost race
            # would spin the writer with no error surfaced
            name = ""
            cause = getattr(e, "java_exception", None)
            if cause is not None:
                name = cause.getClass().getName()
                msg = str(cause.getMessage() or "")
            else:
                msg = str(e)
            if "AlreadyExists" in name or "already exists" in msg.lower():
                return False
            raise
        try:
            out.write(bytearray(data.encode("utf-8")))
        finally:
            out.close()
        return True

    def _footer_metadata(self, path: str):
        import io

        n = self.size(path)
        # parquet footer: last 8 bytes = metadata length + magic; read
        # only the file tail, never the data pages
        tail = self._read_range(path, max(0, n - (1 << 20)))
        meta_len = int.from_bytes(tail[-8:-4], "little")
        if meta_len + 8 > len(tail):  # enormous footer: fetch exactly it
            tail = self._read_range(path, n - meta_len - 8)
        footer = tail[-(meta_len + 8) : -8]
        # a footer-only "file" (magic + footer + length + magic) parses
        # fine for metadata purposes
        shim = b"PAR1" + footer + meta_len.to_bytes(4, "little") + b"PAR1"
        return pq.ParquetFile(io.BytesIO(shim)).metadata

    def link_or_copy(self, src: str, dst: str) -> None:
        # no portable hard links across Hadoop filesystems: FileUtil
        # byte-copies (server-side within one store where the connector
        # supports it)
        self.makedirs(os.path.dirname(dst))
        ok = self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            self._fs(src), self._path(src),
            self._fs(dst), self._path(dst),
            False, self._conf,
        )
        if not ok:
            raise OSError(f"copy {src} -> {dst} failed")

    def parquet_column_names(self, path: str) -> list[str]:
        md = self._footer_metadata(path)
        return sorted({md.schema.column(i).path.split(".")[0] for i in range(md.num_columns)})

    def parquet_arrow_schema(self, path: str):
        return self._footer_metadata(path).schema.to_arrow_schema()

    def parquet_row_count(self, path: str) -> int:
        return self._footer_metadata(path).num_rows

    def parquet_file_stats(self, path: str) -> tuple[int, dict[str, list]]:
        md = self._footer_metadata(path)
        return md.num_rows, stats_from_footer(md)
