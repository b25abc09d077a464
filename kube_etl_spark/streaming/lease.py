"""Single-writer lease with fencing tokens — the operational guard for
the state layer's one-writer-per-table contract.

The reference's syncer runs as a manager process with leader election
(a Kubernetes Lease object guarantees one active controller per
destination; /root/reference/syncer/main.go manager bootstrap). This
engine's StateTable (flat or bucketed) declares the same single-writer
model but, until this module, trusted the operator to enforce it. A
``WriterLease`` makes it enforced: a would-be writer must hold the
lease before merging, a crashed writer's lease expires and can be taken
over, and the FENCING TOKEN (monotonically increasing across
takeovers) ensures a paused-then-resumed old writer cannot publish over
the new owner's state — it re-validates ownership immediately before
every publish and finds a newer token.

Implementation is a JSON lease file beside the state dir, updated with
the same atomic-rename publish discipline as cdc.atomic_overwrite —
the single-host filesystem analog of the k8s Lease object (on an
object store this role is played by a conditional-put on the lease
key; the acquire/renew/fence protocol is identical). POSIX rename
cannot express a conditional put, so every lease MUTATION (create,
takeover, renew, release) runs under a short-lived exclusive flock
mutex: the read-check-publish critical section is serialized, which
closes the check-then-publish races a bare rename leaves open (a
paused renewer resurrecting an expired lease over a verified takeover;
a paused releaser unlinking the new owner's record). The mutex guards
a microseconds-long section; the kernel drops a crashed mutator's
flock automatically, so the lease cannot wedge. release() publishes a
deadline-0 record rather than unlinking, keeping the fencing token
MONOTONE across release/re-acquire cycles (an unlink would reset the
next owner to token 1, breaking consumers that persist the high-water
token).
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid


class LeaseHeld(Exception):
    """The lease is currently held by another live owner."""


class LeaseLost(Exception):
    """This owner no longer holds the lease (expired or fenced off)."""


class WriterLease:
    def __init__(self, path: str, owner: str | None = None, ttl_s: float = 60.0):
        self.path = path
        self.owner = owner or f"writer-{uuid.uuid4().hex[:12]}"
        self.ttl_s = float(ttl_s)
        self.token: int | None = None  # fencing token while held

    # -- internals ---------------------------------------------------------
    def _read(self) -> dict | None:
        try:
            with open(self.path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None
        except json.JSONDecodeError:
            # torn write from a non-atomic writer: treat as expired
            return {"owner": "?", "token": 0, "deadline": 0.0}

    def _publish(self, rec: dict) -> None:
        from .cdc import atomic_write_json

        atomic_write_json(self.path, rec)

    def _with_mutex(self, fn):
        """Serialize a lease mutation: an exclusive ``flock`` on a
        persistent lock file around the read-check-publish section.

        flock (not O_EXCL-create) because the kernel releases it when
        the holder dies — a crashed mutator cannot wedge the lease and
        no orphan-breaking is ever needed. (ADVICE r4: the previous
        10 s mtime orphan-breaker was itself racy — two waiters could
        both judge the lock stale and the slower one unlink the
        winner's freshly re-created lock, letting two mutators into
        the critical section and minting duplicate fencing tokens.
        Any check-then-unlink scheme has that window; flock removes
        the problem class.) A wedged-but-ALIVE mutator still surfaces
        as LeaseHeld via the 5 s acquisition deadline, as before. The
        lock file is deliberately never unlinked: waiters hold open
        descriptors to its inode, and an unlink would let a later
        creator lock a DIFFERENT inode concurrently."""
        import fcntl

        lock = f"{self.path}.lock"
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:
            deadline = time.time() + 5.0
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except OSError:
                    if time.time() > deadline:
                        raise LeaseHeld(f"mutation lock wedged on {lock}")
                    time.sleep(0.01)
            return fn()
        finally:
            os.close(fd)  # releases the flock

    # -- protocol ----------------------------------------------------------
    def acquire(self) -> bool:
        """Try to take the lease. Returns True (and sets the fencing
        token) on success; False while another owner's lease is live.
        A stale or released lease is taken over with a BUMPED token.
        The whole read-check-publish section runs under the mutation
        mutex, so a lost race reports False rather than split-brain
        success (the previous O_EXCL-create + publish-then-verify
        protocol left a torn-create window where a competitor's
        torn-read fallback could mint a second token-1 owner)."""

        def _do() -> bool:
            now = time.time()
            cur = self._read()
            if cur is None:
                # first-ever acquire: publish via the same atomic rename
                # (full record lands in one shot — no torn JSON visible)
                self._publish(
                    {"owner": self.owner, "token": 1, "deadline": now + self.ttl_s}
                )
                self.token = 1
                return True
            if cur["owner"] == self.owner and cur["deadline"] > now:
                self.token = int(cur["token"])
                return True  # already ours (re-acquire after restart)
            if cur["deadline"] > now:
                return False  # live foreign lease
            # stale or released: take over with a higher fencing token
            rec = {
                "owner": self.owner,
                "token": int(cur["token"]) + 1,
                "deadline": now + self.ttl_s,
            }
            self._publish(rec)
            self.token = rec["token"]
            return True

        return self._with_mutex(_do)

    def renew(self) -> None:
        """Extend the deadline; raises LeaseLost if fenced off. Runs
        under the mutation mutex: a renewer that pauses before its
        publish cannot interleave with (and silently overwrite) a
        competitor's takeover — the takeover would have to wait for the
        mutex, and a renewer paused long enough to trip the orphan
        breaker finds a newer token on its next assert_held."""

        def _do() -> None:
            self.assert_held()
            self._publish(
                {
                    "owner": self.owner,
                    "token": self.token,
                    "deadline": time.time() + self.ttl_s,
                }
            )

        self._with_mutex(_do)

    def assert_held(self) -> None:
        """Raise LeaseLost unless this owner still holds the CURRENT
        token. Called by guarded writers immediately before publishing
        state — the fencing check that stops a paused old writer."""
        cur = self._read()
        if (
            cur is None
            or cur["owner"] != self.owner
            or int(cur["token"]) != self.token
            or cur["deadline"] <= time.time()
        ):
            raise LeaseLost(
                f"{self.owner} no longer holds {self.path} "
                f"(current: {cur and cur.get('owner')!r} "
                f"token {cur and cur.get('token')})"
            )

    def release(self) -> None:
        """Drop the lease if (and only if) still ours. Publishes a
        deadline-0 record (NOT an unlink): the check-and-drop runs
        under the mutex so a paused releaser cannot delete a new
        owner's record, and keeping the record preserves fencing-token
        monotonicity — the next acquire takes over at token+1 instead
        of restarting at 1."""

        def _do() -> None:
            try:
                self.assert_held()
            except LeaseLost:
                return
            self._publish({"owner": self.owner, "token": self.token, "deadline": 0.0})
            self.token = None

        self._with_mutex(_do)

    def __enter__(self) -> "WriterLease":
        if not self.acquire():
            raise LeaseHeld(f"{self.path} is held by another writer")
        return self

    def __exit__(self, *exc) -> None:
        self.release()


@contextlib.contextmanager
def renewal(lease: "WriterLease", on_lost=None):
    """Background renewal at ttl/3 for an ALREADY-ACQUIRED lease — the
    one shared copy of the renew-thread boilerplate (review r9: three
    jobs carried near-identical ~20-line blocks whose cleanup
    discipline silently diverged; run_freq's ended up leaking the
    renewer + lease on a failed drain). The thread is stopped on exit
    — success or exception — and ``on_lost`` (if given) runs once if a
    renew raises LeaseLost (e.g. stop the job's streams: a fenced
    writer must halt, not retry). Lease RELEASE stays the caller's
    job (their finally), so acquire/release pairing remains visible at
    the call site."""
    stop = threading.Event()

    def _loop() -> None:  # pragma: no cover - timing loop
        while not stop.wait(lease.ttl_s / 3.0):
            try:
                lease.renew()
            except LeaseLost:
                if on_lost is not None:
                    on_lost()
                return

    threading.Thread(target=_loop, daemon=True).start()
    try:
        yield lease
    finally:
        stop.set()
