"""Run-loop coordination: liveness heartbeats + a single-writer lease.

Reference surface (core module):
* ``Heartbeat`` model ``{name, module, state, error, timestamp}`` —
  core/.../model/Heartbeat.java:26-33, emitted by HeartbeatThread.java:23
  and persisted through BaseStateManager.heartbeat
  (core/.../state/BaseStateManager.java:417-452);
* ``DistributedLock`` — a ZooKeeper Curator ``InterProcessMutex`` with a
  lock timeout (core/.../DistributedLock.java:42-182).

Spark-first scope note: the reference needs the ZK mutex for CORRECTNESS
(many JVMs mutate shared stores row-at-a-time). Here the snapshot log's
atomic compare-and-swap publish (``lake.SnapshotTable._publish`` raising on
an existing version file) is already the correctness arbiter — two drivers
can never both commit the same snapshot version. The lease below is
therefore an EFFICIENCY device (a second driver fails fast instead of
computing a doomed commit) plus an ops surface (who owns the table, since
when), which is exactly what remains of leader election once commits are
CAS-atomic. The lease doc is published through the same exclusive
hard-link CAS the snapshot log uses (``fsutil.publish_local(...,
exclusive=True)``), so the lock file is either absent or a complete,
fsynced doc; swapping in a ZK recipe keeps the same API.

Heartbeats are one tiny driver-side JSON write per epoch group — noise even
at 10^10-event scale (epochs are seconds to minutes of cluster work each).
"""

from __future__ import annotations

import json
import os
import socket
import time
import uuid

from cdc_core_spark import fsutil


# --------------------------------------------------------------- heartbeat

def write_heartbeat(root: str, name: str, state: str,
                    epoch: int | None = None,
                    error: str | None = None) -> dict:
    """Publish a liveness record (Heartbeat.java model: name/state/error/
    timestamp, plus the instance identity ModuleInstance carries). One file
    per instance name, atomically replaced."""
    doc = {"name": name, "state": state, "epoch": epoch, "error": error,
           "pid": os.getpid(), "host": socket.gethostname(),
           "timestamp_ms": int(time.time() * 1000)}
    fsutil._atomic_write_json(
        os.path.join(root, "_heartbeat", f"{name}.json"), doc)
    return doc


def read_heartbeat(root: str, name: str) -> dict | None:
    p = os.path.join(root, "_heartbeat", f"{name}.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def is_stale(hb: dict | None, ttl_ms: int, now_ms: int | None = None) -> bool:
    """A missing or past-TTL heartbeat marks a dead/hung instance — the
    HeartbeatThread-cadence liveness check monitors run against."""
    if hb is None:
        return True
    now = int(time.time() * 1000) if now_ms is None else now_ms
    return now - int(hb.get("timestamp_ms", 0)) > ttl_ms


# ------------------------------------------------------------ writer lease

class LockHeldError(RuntimeError):
    def __init__(self, path: str, holder: dict):
        super().__init__(f"lease at {path} held by {holder.get('owner')} "
                         f"(pid {holder.get('pid')} on {holder.get('host')}, "
                         f"age {holder.get('_age_ms')}ms)")
        self.holder = holder


class ProcessLock:
    """Single-writer lease over a table root (DistributedLock analog).

    The lease doc is published complete with an exclusive CAS (one
    acquirer wins, the rest see ``FileExistsError``); it carries owner
    identity and a TTL so a crashed holder's lease can be broken
    (``steal_stale=True``) once it stops renewing — the same liveness-based
    takeover a ZK ephemeral node gives, without requiring a coordinator.
    Correctness does NOT depend on this lock (see module docstring): the
    snapshot CAS still rejects a double-commit even if two holders race a
    stolen lease.
    """

    def __init__(self, root: str, owner: str = "cdc-engine",
                 ttl_ms: int = 15 * 60 * 1000, steal_stale: bool = True):
        self.path = os.path.join(root, "_lock.json")
        self.owner = owner
        self.ttl_ms = ttl_ms
        self.steal_stale = steal_stale
        self._held = False
        # fencing token: unique per acquire, so a holder whose stale lease
        # was STOLEN can detect the loss instead of clobbering the thief's
        # lock on renew / deleting it on release (owner+pid alone can't
        # distinguish two acquires by a restarted same-pid process)
        self._token: str | None = None

    def _holder(self) -> dict | None:
        try:
            with open(self.path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None  # racing release/steal — treat as free

    def acquire(self) -> "ProcessLock":
        for attempt in (0, 1):
            self._token = uuid.uuid4().hex
            try:
                fsutil._atomic_write_json(
                    self.path, self._doc(acquired_ms=int(time.time() * 1000)),
                    exclusive=True)
            except FileExistsError:
                holder = self._holder()
                now = int(time.time() * 1000)
                age = now - int((holder or {}).get("acquired_ms", 0))
                # staleness is judged by the HOLDER's advertised ttl — the
                # lease term it promised to renew within — not the would-be
                # stealer's own setting
                ttl = int((holder or {}).get("ttl_ms") or self.ttl_ms)
                if holder is None:
                    # unreadable/vanished lock: a racing steal's remove→
                    # publish window, or a torn doc that this module's
                    # complete-doc publish never leaves but an external
                    # tool or an older build (create, then write) can. The
                    # doc carries no readable acquired_ms, so judge
                    # staleness by file mtime: a fresh mtime means a live
                    # racer (retry, fail closed); an mtime older than our
                    # own ttl means nobody is mid-write — remove the husk
                    # or every future acquire would raise LockHeldError
                    # until manual cleanup
                    try:
                        mtime_ms = int(os.stat(self.path).st_mtime * 1000)
                    except FileNotFoundError:
                        if attempt == 0:
                            continue  # racer's window — retry the publish
                        raise LockHeldError(self.path, {})
                    if self.steal_stale and now - mtime_ms > self.ttl_ms:
                        try:
                            os.remove(self.path)
                        except FileNotFoundError:
                            pass
                    if attempt == 0:
                        continue
                    raise LockHeldError(self.path, {})
                if self.steal_stale and age > ttl:
                    # crashed holder: break the stale lease, retry the
                    # atomic create once (a concurrent stealer may win it).
                    # Re-read IMMEDIATELY before the remove and require the
                    # doc to be bit-identical to the one judged stale — a
                    # holder that renewed in between changed acquired_ms,
                    # and deleting its fresh lock would leave two live
                    # holders. POSIX has no compare-and-delete, so a
                    # microsecond re-read→remove window remains; it is
                    # backstopped by renew()'s token check (the victim's
                    # next renew raises) and by the snapshot CAS, which
                    # arbitrates any double-commit regardless of leases.
                    if self._holder() == holder:
                        try:
                            os.remove(self.path)
                        except FileNotFoundError:
                            pass
                    if attempt == 0:
                        continue
                if holder is not None:
                    holder["_age_ms"] = age
                raise LockHeldError(self.path, holder or {})
            except BaseException:
                # the publish may fail after its link landed: a lease this
                # acquire never returns must not strand the table for a TTL
                self._held = True
                self.release()
                raise
            self._held = True
            return self
        raise LockHeldError(self.path, self._holder() or {})

    def _doc(self, acquired_ms: int) -> dict:
        return {"owner": self.owner, "pid": os.getpid(),
                "host": socket.gethostname(), "token": self._token,
                "acquired_ms": acquired_ms, "ttl_ms": self.ttl_ms}

    def _still_mine(self) -> bool:
        holder = self._holder()
        return holder is not None and holder.get("token") == self._token

    def renew(self) -> None:
        """Re-stamp the lease inside long runs so a live holder never looks
        stale (the ephemeral-node keepalive analog). Verifies ownership
        first: if the lease was stolen while this holder stalled past its
        TTL, renew raises ``LockHeldError`` instead of silently clobbering
        the new holder's lock — the stalled driver learns it lost the lease
        and can abort before computing commits the snapshot CAS will only
        partially arbitrate."""
        if not self._held:
            return
        if not self._still_mine():
            self._held = False
            holder = self._holder() or {}
            holder["_age_ms"] = int(time.time() * 1000) - int(
                holder.get("acquired_ms", 0) or 0)
            raise LockHeldError(self.path, holder)
        fsutil._atomic_write_json(
            self.path, self._doc(acquired_ms=int(time.time() * 1000)))

    def release(self) -> None:
        """Remove the lock only if it is still OURS — a holder whose lease
        was stolen must not delete the new holder's lock on the way out."""
        if self._held:
            if self._still_mine():
                try:
                    os.remove(self.path)
                except FileNotFoundError:
                    pass
            self._held = False

    def __enter__(self) -> "ProcessLock":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()
