"""casd — a tiny HTTP conditional-put lock endpoint (r15, VERDICT item 5).

The remote lease backend of the conformance kit (`HttpCasMutex` is
its client), beside `FlockMutex` for host scope. It plays the
DynamoDB/Nessie arbiter role (reference stack: docker-compose.yml
delegates commit arbitration to the Nessie service;
spark-defaults.conf pins its catalog) in its real shape: cooperating
writers share NOTHING but a TCP endpoint. No filesystem medium, no
shared kernel object: the wire protocol is the only coupling, which is
exactly the deployment shape of a real DynamoDB table / etcd cluster /
Nessie server.

Protocol (JSON over HTTP; every mutation is atomic under one server
lock — the role DynamoDB's conditional expression or etcd's txn plays):

  POST /acquire  {path, owner, steal_after}
      -> {ok: true, fence: N}           inserted, or stale row stolen
      -> {ok: false, holder, age}       live holder present
  POST /release  {path, owner}
      -> {ok: true, released: bool, fence: N, stolen: bool}
         `stolen` is true when the per-path fence advanced past the
         caller's acquisition — i.e. some thief took the lock while
         the caller believed it held it (the stalled-holder caveat,
         detected loudly at release).
  POST /validate {path, owner, fence}
      -> {ok: true, fence: N}    fence is still the newest for path and
         owner still holds it; the lease is renewed (see validate())
      -> {ok: false, fence: M}   stale — a thief acquired a newer fence
         (or the row is gone): the caller MUST NOT write
  POST /_seed    {path, owner, acquired_at}   test-only stale-row seed
  GET  /health   -> {ok: true}

FENCING TOKENS: every successful acquire (insert OR steal) increments
the per-path fence, and the fence never resets — the monotone token of
Lamport's / the "how to do distributed locking" fencing rule. A medium
that can check a condition at write time (S3 conditional writes,
DynamoDB attribute checks) should store the fence with the resource
and reject writes carrying a lower one, which CLOSES the
stalled-holder-past-TTL overlap. A plain local filesystem cannot check
a token per write, so the endpoint stands in as the condition checker:
`/validate` (r16) atomically answers "may fence N still write?" and
`ArbitratedFileIO` calls it under the held lock immediately before the
protected write — a stalled holder's late commit is REJECTED
(`StaleFenceError`, write never issued), not merely reported. Release
still verifies the fence as the backstop and raises `LockStolenError`
when the path was stolen mid-hold. See the fs.py contract, clause 4
note.

Run: `python -m local_datalakehouse_phase2_spark.lakehouse.casd
[--port 0]` — prints `CASD LISTENING <port>` once bound.
"""

from __future__ import annotations

import argparse
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class _LockState:
    def __init__(self) -> None:
        self._mu = threading.Lock()
        # path -> {"owner", "acquired_at", "fence"}
        self._rows: dict[str, dict] = {}
        # path -> last issued fence (never resets — monotone per path)
        self._fences: dict[str, int] = {}

    def acquire(self, path: str, owner: str, steal_after: float) -> dict:
        with self._mu:
            row = self._rows.get(path)
            now = time.time()
            if row is not None and now - row["acquired_at"] <= steal_after:
                return {"ok": False, "holder": row["owner"], "age": now - row["acquired_at"]}
            fence = self._fences.get(path, 0) + 1
            self._fences[path] = fence
            self._rows[path] = {"owner": owner, "acquired_at": now, "fence": fence}
            return {"ok": True, "fence": fence}

    def release(self, path: str, owner: str, fence: int | None = None) -> dict:
        with self._mu:
            row = self._rows.get(path)
            cur = self._fences.get(path, 0)
            released = False
            if row is not None and row["owner"] == owner:
                del self._rows[path]
                released = True
            # stolen: the caller's acquisition fence is no longer the
            # newest issued for this path (someone acquired after them
            # while they believed they held it)
            stolen = fence is not None and cur > fence
            return {"ok": True, "released": released, "fence": cur, "stolen": stolen}

    def validate(self, path: str, owner: str, fence: int) -> dict:
        """Conditional write-check (r16): is `fence` still the newest
        issued for `path`, held by `owner`? Atomic under the server
        lock, so the DECISION of which fence may write is serialized at
        the endpoint — the role DynamoDB's condition expression / S3's
        conditional PUT / an etcd txn revision check plays. On success
        the holder's lease is RENEWED (acquired_at := now): a writer
        that just proved it still holds the newest fence is live by
        definition, so the steal horizon restarts — the residual
        validate->write overlap window now requires a SECOND full-TTL
        stall between this check and the write, the same assumption
        every lease system makes per critical section."""
        with self._mu:
            row = self._rows.get(path)
            cur = self._fences.get(path, 0)
            if cur != fence or row is None or row["owner"] != owner:
                return {"ok": False, "fence": cur}
            row["acquired_at"] = time.time()
            return {"ok": True, "fence": cur}

    def seed(self, path: str, owner: str, acquired_at: float) -> dict:
        with self._mu:
            fence = self._fences.get(path, 0) + 1
            self._fences[path] = fence
            self._rows[path] = {"owner": owner, "acquired_at": acquired_at, "fence": fence}
            return {"ok": True, "fence": fence}


def make_server(port: int = 0) -> ThreadingHTTPServer:
    state = _LockState()

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, code: int, obj: dict) -> None:
            body = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 (stdlib casing)
            if self.path == "/health":
                self._reply(200, {"ok": True})
            else:
                self._reply(404, {"ok": False})

        def do_POST(self):  # noqa: N802
            n = int(self.headers.get("Content-Length", "0"))
            try:
                req = json.loads(self.rfile.read(n) or b"{}")
            except ValueError:
                self._reply(400, {"ok": False, "err": "bad json"})
                return
            if self.path == "/acquire":
                self._reply(
                    200,
                    state.acquire(
                        req["path"], req["owner"], float(req["steal_after"])
                    ),
                )
            elif self.path == "/release":
                self._reply(
                    200,
                    state.release(req["path"], req["owner"], req.get("fence")),
                )
            elif self.path == "/validate":
                self._reply(
                    200,
                    state.validate(req["path"], req["owner"], int(req["fence"])),
                )
            elif self.path == "/_seed":
                self._reply(
                    200,
                    state.seed(req["path"], req["owner"], float(req["acquired_at"])),
                )
            else:
                self._reply(404, {"ok": False})

        def log_message(self, *a):  # silence per-request stderr noise
            pass

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, default=0)
    args = ap.parse_args()
    srv = make_server(args.port)
    print(f"CASD LISTENING {srv.server_address[1]}", flush=True)
    srv.serve_forever()


if __name__ == "__main__":
    main()
