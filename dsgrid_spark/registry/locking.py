"""Lock-file protocol for multi-writer registry mutation on shared and
object-store roots.

The reference serializes S3 registry writes with JSON lock files carrying
{username, uuid, timestamp} (reference dsgrid/cloud/
s3_storage_interface.py:49-134: check_lock_file / make_lock_file_managed /
remove_lock_file(force)). Its protocol is check-then-write — two writers
racing the check can both "acquire". This implementation keeps the same
on-wire contract (a JSON lock file another dsgrid operator can read and
attribute) but acquires through ``FilesystemInterface.create_exclusive``
(O_EXCL locally, Hadoop ``create(overwrite=False)`` remotely) followed by
a read-back verification, and adds a TTL so a crashed writer's lock
expires instead of wedging the registry forever:

- **acquire**: create the lock file exclusively; if that fails, read the
  holder — same uuid → re-entrant success; expired (now − timestamp >
  ttl) → break the stale lock and retry; otherwise poll until timeout.
- **stale break**: never check-then-delete (two breakers that both saw
  the stale holder would let the second delete the lock the first just
  created). The lock is renamed to a breaker-unique tombstone
  (``filesystem.break_marker``, the same primitive the index compaction
  lock uses); the breaker proceeds only when the tombstone carries the
  stale holder's uuid, and otherwise puts it back and backs off.
- **read-back**: after a successful create, re-read the file and require
  our uuid. On strict filesystems this always passes; on an object store
  whose create is last-writer-wins it demotes a double-acquire to a
  clean ``RegistryLockError`` for the loser.
- **release**: delete only when the file still carries our uuid
  (``force=True`` overrides, mirroring the reference's force removal).

Used by ``RegistryStore.sync_to`` to guard mirror pushes; any external
writer can use ``registry_lock(...)`` around its own mutation window.
"""

from __future__ import annotations

import getpass
import json
import time
import uuid as uuid_mod
from contextlib import contextmanager
from dataclasses import dataclass, field

from dsgrid_spark.filesystem import FilesystemInterface, break_marker

LOCK_DIR = ".locks"
LOCK_NAME = "registry.lock"


class RegistryLockError(RuntimeError):
    """Another writer holds (or stole) the registry lock."""


@dataclass
class RegistryLock:
    fs: FilesystemInterface
    lock_path: str
    user: str = field(default_factory=getpass.getuser)
    ttl_seconds: float = 900.0
    timeout_seconds: float = 30.0
    poll_seconds: float = 0.5
    uuid: str = field(default_factory=lambda: str(uuid_mod.uuid4()))
    _depth: int = 0

    def _content(self) -> str:
        return json.dumps({
            "username": self.user,
            "uuid": self.uuid,
            "timestamp": time.time(),
        })

    def read_holder(self) -> dict | None:
        """The current lock file's contents, or None when unlocked.
        Tolerates the race where the holder releases mid-read."""
        try:
            if not self.fs.exists(self.lock_path):
                return None
            return json.loads(self.fs.read_text(self.lock_path))
        except (OSError, ValueError):
            return None

    def _holder_uuid(self, path: str):
        try:
            return json.loads(self.fs.read_text(path)).get("uuid")
        except (OSError, ValueError, AttributeError):
            return None

    def _is_stale(self, holder: dict) -> bool:
        ts = holder.get("timestamp")
        if not isinstance(ts, (int, float)):
            return True  # unreadable/foreign timestamp: treat as breakable
        return (time.time() - ts) > self.ttl_seconds

    def acquire(self) -> None:
        if self._depth:
            self._depth += 1
            return
        deadline = time.monotonic() + self.timeout_seconds
        while True:
            if self.fs.create_exclusive(self.lock_path, self._content()):
                holder = self.read_holder()
                if holder and holder.get("uuid") == self.uuid:
                    self._depth = 1
                    return
                # object-store last-writer-wins overwrote us: lose cleanly
                raise RegistryLockError(
                    f"lost acquisition race for {self.lock_path}: held by "
                    f"{(holder or {}).get('username', '?')} "
                    f"uuid={(holder or {}).get('uuid', '?')}")
            holder = self.read_holder()
            if holder is not None and holder.get("uuid") == self.uuid:
                self._depth = 1  # our own file (e.g. retry after a crash)
                return
            broke = holder is not None and self._is_stale(holder) and \
                break_marker(self.fs, self.lock_path,
                             lambda tomb: self._holder_uuid(tomb)
                             == holder.get("uuid"))
            if time.monotonic() >= deadline:
                holder = holder or {}
                raise RegistryLockError(
                    f"registry is locked by {holder.get('username', '?')} "
                    f"(uuid={holder.get('uuid', '?')}, "
                    f"age={time.time() - holder.get('timestamp', 0):.0f}s) "
                    f"at {self.lock_path}; retries timed out after "
                    f"{self.timeout_seconds}s")
            if not broke:
                time.sleep(self.poll_seconds)

    def release(self, force: bool = False) -> None:
        if self._depth > 1:
            self._depth -= 1
            return
        holder = self.read_holder()
        if holder is not None:
            if not force and holder.get("uuid") != self.uuid:
                raise RegistryLockError(
                    f"refusing to remove {self.lock_path}: held by "
                    f"{holder.get('username', '?')} "
                    f"uuid={holder.get('uuid', '?')} (use force=True)")
            self.fs.rm_tree(self.lock_path)
        self._depth = 0

    @contextmanager
    def held(self):
        self.acquire()
        try:
            yield self
        finally:
            self.release()


def lock_path_for(root: str) -> str:
    return f"{str(root).rstrip('/')}/{LOCK_DIR}/{LOCK_NAME}"


@contextmanager
def registry_lock(fs: FilesystemInterface, root: str, *,
                  user: str | None = None,
                  ttl_seconds: float = 900.0,
                  timeout_seconds: float = 30.0):
    """Hold the registry-level lock for ``root`` during a mutation window
    (the reference's ``make_lock_file_managed``)."""
    lock = RegistryLock(
        fs, lock_path_for(root),
        **({"user": user} if user else {}),
        ttl_seconds=ttl_seconds, timeout_seconds=timeout_seconds,
    )
    with lock.held():
        yield lock
