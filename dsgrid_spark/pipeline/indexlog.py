"""One commit protocol for every persisted index.

The term index (``retrieval``), the IVF and binary indexes
(``similarity``), the PQ index (``pq``) and the signature store
(``sigstore``) all persist as batch-scoped partition directories
(``<subtree>/<col>=K/batch=<id>/``) plus a tiny ``<index>/batches/``
parquet log with one row per committed batch, written LAST. Log row
present == the batch's data and derived tables are complete. Every
mutation goes through one of three entry points here; the index
modules supply only a payload callback:

- :func:`build_index` — reset the bookkeeping, write the ``base``
  payload, log ``base``.
- :func:`append_batch` — the exactly-once append: a replayed batch id
  returns False untouched; otherwise the previous crashed attempt's
  directories are deleted (:func:`clear_attempt`), the payload is
  written, two pre-commit guards run (append block, centroid
  generation) and the log row commits.
- :func:`replace_batches` — the replacement behind :func:`compact` and
  ``rebalance_index``: claim a ``cmp`` id, record ``(replaced, by)``
  rows, write the replacing payload, log it with the sources' summed
  metrics.

Crash anywhere before the log write and the retry redoes the sequence
to the identical end state; crash after it and the retry is a no-op.
READERS FILTER TO COMMITTED BATCHES (:func:`read_committed`): the
``batch`` partition column makes the filter a partition-pruning
predicate, so a crashed attempt's orphan directories are invisible to
every search and derived aggregate — readers see each batch atomically
at its log commit, never half of one.

Auto batch ids are RESERVED before any data is written via an intent
marker directory (``<index>/intents/<id>/``): a retry of a crashed
auto-id append finds the open intent (marker present, log entry absent)
and reuses that id even if other batches committed in between — without
the marker, the log-size-derived id would drift and the crashed
attempt's orphans would never be cleaned. The marker is removed when
the batch commits.

Every listing, deletion, lock and metadata-row read or write goes
through ``dsgrid_spark.filesystem`` (:func:`filesystem_for`), so the
protocol runs on any Spark-supported filesystem, and one interface is
all a fault-injecting wrapper has to cover.

COMPACTION (:func:`compact`) merges many small committed batch
directories into one coalesced batch — the antidote to the small-files
problem a long-running daily append regime accumulates (thousands of
``batch=`` dirs each holding a few row groups turn every search's file
listing and scan-task scheduling into the bottleneck long before the
bytes do). The replacement is recorded in a tiny
``<index>/compactions/`` parquet log (one row per replaced batch,
partitioned by the replacing id) written BEFORE the compacted batch
commits; a replaced batch becomes invisible exactly at the replacing
batch's log commit — the same atomic-at-commit contract appends have.
Readers derive "visible = logged − replaced-by-a-logged-batch" from
:func:`committed_batches` / :func:`log_snapshot`, so no search or
stats query changes. Replaced batches' data and log rows are PURGED by
:func:`vacuum` under the same ttl contract that protects in-flight
appends (a reader planned against the pre-compaction snapshot must
finish within ``ttl_seconds``), or immediately via ``compact(...,
purge=True)`` when the caller knows no reader is live. Compaction
rows are kept forever (bytes per corpus lifetime: one short row per
retired batch id) because they also guard id reuse: a purged batch id
must never be re-issued to, or replayed as, a fresh append — both
checks go through :func:`batch_sets`'s ``ingested`` view.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from dsgrid_spark.filesystem import break_marker, filesystem_for

_BATCH_ID_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")

#: reserved id for the rows written by the initial index build
BASE_BATCH = "base"

#: id namespace reserved for compaction batches. The separation is
#: load-bearing, not cosmetic: a compaction that crashes between its
#: ``compactions/`` write and its log commit leaves an open intent and
#: dormant ``(replaced, by=<id>)`` rows — if an ordinary auto-id append
#: could ever adopt that intent (the crashed-id reuse rule) and commit
#: under it, the dormant rows would activate and silently hide every
#: batch they name. Appends therefore may not claim or be named inside
#: this namespace; only a compact retry adopts a crashed ``cmp`` id,
#: and its cleanup deletes the stale rows before rewriting.
COMPACT_PREFIX = "cmp"

#: the claimable compaction-id shape; only THIS is refused to callers
#: (a broader startswith ban would break replays of pre-existing
#: committed batches that happen to start with "cmp"). 6-or-more
#: digits, anchored: claim_auto_batch_id's %06d format emits SEVEN
#: digits once the taken-count passes 999999, and a caller-supplied id
#: of that shape must be refused too or it could later collide with a
#: compaction claim and activate its dormant replacement rows. Shorter
#: cmp-prefixed names ("cmp-jan", "cmpany2024") stay valid.
_COMPACT_ID_RE = re.compile(rf"^{COMPACT_PREFIX}\d{{6,}}$")

#: generation-scoped tables, one ``<table>/batch=<establisher>`` dir per
#: centroid generation: compaction transfers them, and retries, purges
#: and vacuum treat them as artifacts of their batch
GEN_TABLES = ("centroids", "codebooks", "drift_baseline")


class ConcurrentCompactionError(RuntimeError):
    """A second compactor tried to run while another holds the index's
    compaction lock (see :func:`acquire_compact_lock`)."""


class StaleGenerationError(RuntimeError):
    """The index's centroid generation changed between an append's
    assignment and its commit (a rebalance flipped mid-append).
    Committing would land OLD-generation cluster numbers in the
    NEW-generation view — searches would silently mis-prune — so the
    append aborted before its log write. Crash-equivalent and
    retryable: nothing became visible; re-run the append (the retry
    adopts the same intent id and re-assigns against the live
    generation)."""


class AppendsBlockedError(RuntimeError):
    """The index is in a blocking maintenance pass
    (``rebalance_index(..., block_appends=True)``): appends fail
    loudly instead of racing the rebalance's atomic flip. Retry after
    the rebalance finishes (the marker is removed on completion, and
    expires under its ttl if the rebalancer crashed)."""


def check_batch_id(batch_id: str) -> str:
    """Validate a CALLER-SUPPLIED batch id for use as a
    partition-directory component.

    Restricting to ``[A-Za-z0-9._-]`` keeps the id round-trippable
    through ``batch=<id>`` partition paths on every filesystem (no
    escaping, no path traversal). The ``cmp`` namespace is reserved
    for compaction (see :data:`COMPACT_PREFIX`): an append committing
    under a crashed compaction's id would activate its dormant
    replacement rows.
    """
    if not isinstance(batch_id, str) or not _BATCH_ID_RE.match(batch_id):
        raise ValueError(
            f"batch_id must match {_BATCH_ID_RE.pattern!r}, got "
            f"{batch_id!r}")
    if _COMPACT_ID_RE.match(batch_id):
        # only the exact claimable shape is reserved — "cmp-jan" or
        # "cmpany2024" remain valid caller names (a pre-existing
        # committed batch with such a name must keep replaying as a
        # no-op, not start raising)
        raise ValueError(
            f"batch ids of the form {COMPACT_PREFIX}<6+ digits> are "
            f"reserved for compaction, got {batch_id!r}")
    return batch_id


def _log_path(index_path: str) -> str:
    return f"{index_path}/batches"


def _compactions_path(index_path: str) -> str:
    return f"{index_path}/compactions"


def _raw_logged(spark: SparkSession, index_path: str) -> set[str]:
    """Every batch id with a log row — INCLUDING batches already
    replaced by a committed compaction (internal; readers want
    :func:`committed_batches`)."""
    try:
        rows = filesystem_for(spark, index_path).read_rows(
            _log_path(index_path))
    except Exception:
        return set()
    return {r["batch"] for r in rows}


def _replacements(spark: SparkSession, index_path: str) -> list[tuple]:
    """(replaced, by) pairs from the compaction log ([] when none —
    most indexes are never compacted, and ``read_rows`` reports the
    absent log as FileNotFoundError without a Spark analysis error)."""
    try:
        rows = filesystem_for(spark, index_path).read_rows(
            _compactions_path(index_path))
    except Exception:
        return []
    return [(r["replaced"], r["by"]) for r in rows]


def batch_sets(spark: SparkSession,
               index_path: str) -> tuple[set[str], set[str]]:
    """``(visible, ingested)`` batch-id sets from one log view.

    ``visible`` — logged batches minus those replaced by a COMMITTED
    compaction: the set every reader filters to. ``ingested`` —
    logged OR ever-replaced: the set appenders must consult for the
    replay check and for auto-id claims. A batch compacted away and
    purged is absent from ``visible`` (its rows live on in the
    compacted batch) but must stay in ``ingested`` forever — a replay
    of it must no-op, and its id must never be re-issued to a NEW
    batch (the compaction row naming it as replaced would make the
    newcomer invisible).
    """
    raw = _raw_logged(spark, index_path)
    replaced = _retired(raw, _replacements(spark, index_path))
    return raw - replaced, raw | replaced


def _retired(raw: set[str], pairs: list[tuple]) -> set[str]:
    """Batch ids retired by a committed compaction, resolved
    TRANSITIVELY: a pair ``(r, by)`` retires ``r`` when its replacer
    chain terminates in a raw-logged batch — ``by`` logged, or ``by``
    itself retired by such a chain. Non-transitive resolution (the
    first cut's ``by in raw``) broke the permanent replay/id-reuse
    guard: compact b1,b2 → cmp3, later compact cmp3 → cmp5, purge
    cmp3's log row — b1's pair then pointed at a no-longer-logged
    cmp3 and b1 silently left ``ingested``, so a replay re-ingested
    rows that live on inside cmp5. Pairs whose chain never reaches a
    logged batch (a crashed compaction's dormant rows) stay inert.
    Fixpoint depth is the compaction-chain length, bounded by the
    number of compactions ever run."""
    retired: set[str] = set()
    changed = True
    while changed:
        changed = False
        for r, by in pairs:
            if r not in retired and (by in raw or by in retired):
                retired.add(r)
                changed = True
    return retired


def committed_batches(spark: SparkSession, index_path: str) -> set[str]:
    """Batch ids visible to readers: append fully committed (log entry
    exists) and not replaced by a committed compaction."""
    return batch_sets(spark, index_path)[0]


def resolve_as_of(spark: SparkSession, index_path: str,
                  as_of, raw: set[str] | None = None) -> set[str]:
    """Validate a PINNED batch set for a reproducible read.

    Capture ``committed_batches(...)`` once, pass it back as ``as_of``
    to any search, and the read returns identical results no matter
    what appends or compactions commit in between — batch dirs are
    immutable and a replaced-but-unpurged batch remains readable (the
    pin's validity ends exactly when :func:`vacuum`/:func:`purge_replaced`
    reclaims a pinned batch, which the ttl grace delays past any
    reasonably-lived pin; a stale pin then fails HERE, loudly, instead
    of silently returning partial data). Two checks:

    - every pinned id must still have a log row (not purged, not a
      typo, not an id from some other index);
    - the pin must not mix a batch with its own replacement chain
      (e.g. ``{day1, cmp000003}`` where cmp000003 absorbed day1 —
      reading both would double-count day1's rows).
    """
    if isinstance(as_of, str):
        # set("base") would explode into characters and report them as
        # purged batches — the same string-degrades-silently family as
        # the --candidates path guard
        raise ValueError("as_of must be a collection of batch ids, "
                         f"got the single string {as_of!r}")
    pin = set(as_of)
    if not pin:
        raise ValueError("as_of is empty: pin the result of "
                         "committed_batches(...) / log_snapshot(...)")
    raw = _raw_logged(spark, index_path) if raw is None else raw
    missing = sorted(pin - raw)
    if missing:
        raise ValueError(
            f"as_of batches no longer readable (purged, or never "
            f"committed here): {missing}")
    pairs = _replacements(spark, index_path)
    doubled = _retired(pin, pairs) & pin
    if doubled:
        raise ValueError(
            f"as_of mixes batches with their own replacements "
            f"(double-counted rows): {sorted(doubled)}")
    # a purge that crashed between data-dir deletion and log-row
    # deletion leaves a pinned RETIRED batch with a log row but no
    # data — without this check the pin would read silently partial
    # (pinned totals present, pinned rows gone). Only retired pinned
    # ids can be purge victims, so only they pay the glob. A crash
    # mid-deletion can still leave partial dirs briefly; re-running
    # purge finishes the deletion and this check then fails the pin
    # loudly.
    retired_in_pin = _retired(raw, pairs) & pin
    fs = filesystem_for(spark, index_path)
    for bid in sorted(retired_in_pin):
        if not fs.glob(f"{index_path}/*/*/batch={bid}"):
            raise ValueError(
                f"as_of batch {bid!r} was replaced and its data has "
                f"been purged (crashed purge left its log row); the "
                f"pin is no longer readable")
    return pin


def _parse_as_of_ms(as_of: str) -> int:
    """Epoch millis for an ISO-8601 ``as_of`` string (naive timestamps
    are read as UTC — commit times are recorded in UTC epoch millis)."""
    from datetime import datetime, timezone

    try:
        dt = datetime.fromisoformat(as_of)
    except ValueError:
        raise ValueError(
            f"as_of must be a collection of batch ids or an ISO-8601 "
            f"timestamp, got {as_of!r}")
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def resolve_timestamp(spark: SparkSession, index_path: str,
                      as_of: str) -> set[str]:
    """The batch set that was VISIBLE at time T — time-travel for
    callers who did not capture a pin before they needed one.

    T is an ISO-8601 string (``"2026-08-16T12:00:00+00:00"``; naive =
    UTC). Resolution replays the log's own commit times
    (``committed_at_ms``, written by :func:`log_batch`): batches
    committed at or before T, minus those retired by a compaction
    whose replacing batch ALSO committed at or before T — exactly
    :func:`committed_batches` as it would have answered then. The
    result is a plain batch set; pass it through :func:`resolve_as_of`
    (``resolve_batches`` does) so the purged-data checks still apply —
    a view whose data vacuum already reclaimed fails loudly, never
    partially. Log rows predating the commit-time column (older
    engines) carry NULL and count as committed in the unknown past,
    i.e. at-or-before every T.
    """
    t_ms = _parse_as_of_ms(as_of)
    try:
        rows = filesystem_for(spark, index_path).read_rows(
            _log_path(index_path))
        if rows and "committed_at_ms" not in rows[0]:
            raise KeyError("committed_at_ms")
    except Exception:
        raise ValueError(
            f"as_of timestamp given but no batch log (or no "
            f"committed_at_ms column — a pre-commit-time index) at "
            f"{index_path!r}")
    at_ms = {r["batch"]: r["committed_at_ms"] for r in rows}
    view, lost = _view_at(at_ms, _replacements(spark, index_path), t_ms)
    if lost:
        raise ValueError(
            f"cannot reconstruct the view at {as_of!r}: batches purged "
            f"from the log may have been visible then ({sorted(lost)});"
            f" time-travel reaches only unpurged history")
    if not view:
        raise ValueError(
            f"no batch was committed at or before {as_of!r}")
    return view


def _view_at(at_ms: dict, pairs: list[tuple],
             t_ms: int) -> tuple[set[str], set[str]]:
    """The pure core of :func:`resolve_timestamp`:
    ``(visible-at-T, lost)`` from the log's commit times and the
    replacement pairs.

    A batch is in the view iff it had a log row committed at-or-before
    T (NULL commit time = the unknown past, counts as before every T)
    and its replacer CHAIN does not reach a batch committed by T — the
    flip instant is the replacer's commit, and :func:`_retired`
    resolves chains transitively, so a chain through a PURGED
    intermediate (no log row, but its own pair's replacer committed
    <= T) still dates the retirement. ``lost`` is the purged pair
    sources whose retirement cannot be dated at-or-before T: they MAY
    have been visible at T and their rows are gone, so the caller must
    fail loudly rather than return a silently-partial view.
    Property-tested against an event-replay reference
    (tests/test_properties.py)."""
    raw_at_t = {b for b, ms in at_ms.items()
                if ms is None or int(ms) <= t_ms}
    retired_at_t = _retired(raw_at_t, pairs)
    lost = {r for r, _ in pairs
            if r not in at_ms and r not in retired_at_t}
    return raw_at_t - retired_at_t, lost


def resolve_batches(spark: SparkSession, index_path: str,
                    as_of=None) -> set[str]:
    """The batch set a search should read: the validated pin when
    ``as_of`` is given (:func:`resolve_as_of`), else the live
    committed set — the one helper every ``as_of=``-bearing entry
    point shares, so the pin contract lives in exactly one place.
    ``as_of`` may also be an ISO-8601 timestamp STRING — resolved to
    the batch set visible at that instant (:func:`resolve_timestamp`)
    and then validated like any pin."""
    if isinstance(as_of, str):
        as_of = resolve_timestamp(spark, index_path, as_of)
    if as_of is not None:
        return resolve_as_of(spark, index_path, as_of)
    return committed_batches(spark, index_path)


def log_snapshot(spark: SparkSession, index_path: str,
                 *columns: str,
                 as_of=None) -> tuple[set[str], dict[str, int]]:
    """Committed ids AND summed metrics from ONE read of the log.

    A query that derives its corpus stats and its committed-batch
    filter from two separate log reads can straddle a concurrent
    commit (new totals, old postings or vice versa); deriving both
    from a single collect makes the query's view of the index one
    consistent snapshot. The log is one row per batch — collecting it
    is bounded by batch count, not data size. Batches replaced by a
    committed compaction are excluded from ids AND totals (the
    compacted batch's row carries their summed metrics, so totals are
    unchanged by compaction); the compaction-log read happens AFTER
    the log read, so a compaction committing in between is simply not
    seen yet — the snapshot stays the consistent pre-compaction view.

    ``as_of`` (a batch set from an earlier snapshot, validated by
    :func:`resolve_as_of`; or an ISO-8601 timestamp string resolved by
    :func:`resolve_timestamp`) pins the view: ids and totals come from
    exactly those batches' log rows, reproducing the earlier read
    regardless of appends or compactions since.
    """
    if isinstance(as_of, str):
        as_of = resolve_timestamp(spark, index_path, as_of)
    try:
        rows = filesystem_for(spark, index_path).read_rows(
            _log_path(index_path))
        for c in columns:
            if rows and c not in rows[0]:
                raise KeyError(c)  # absent from EVERY log file
    except Exception:
        if as_of is not None:
            raise ValueError("as_of given but the index has no batch "
                             "log")
        return set(), {c: 0 for c in columns}
    if as_of is not None:
        ids = resolve_as_of(spark, index_path, as_of,
                            raw={r["batch"] for r in rows})
        kept = [r for r in rows if r["batch"] in ids]
    else:
        raw = {r["batch"] for r in rows}
        replaced = _retired(raw, _replacements(spark, index_path))
        kept = [r for r in rows if r["batch"] not in replaced]
        ids = {r["batch"] for r in kept}
    totals = {c: sum(int(r[c]) for r in kept) for c in columns}
    return ids, totals


def next_auto_batch_id(committed: set[str]) -> str:
    """Deterministic id for callers that don't name their batches.

    Derived from the committed-log size; prefer
    :func:`claim_auto_batch_id`, which additionally persists an intent
    marker so the id survives a crash even when OTHER batches commit
    before the retry (this bare derivation regenerates the same id only
    if the log has not moved).
    """
    n = len(committed) + 1
    while f"auto{n:06d}" in committed:
        n += 1
    return f"auto{n:06d}"


def _intents_path(index_path: str) -> str:
    return f"{index_path}/intents"


def open_intents(spark: SparkSession, index_path: str) -> set[str]:
    """Batch ids with an intent marker on disk (reserved, possibly
    in-flight or crashed)."""
    return {st.name for st in filesystem_for(spark, index_path).glob(
        f"{_intents_path(index_path)}/*")}


def claim_auto_batch_id(spark: SparkSession, index_path: str,
                        committed: set[str],
                        prefix: str = "auto") -> str:
    """Reserve and return the auto batch id for an un-named append.

    If a previous auto-id attempt IN THIS NAMESPACE crashed (intent
    marker present, no log entry), its id is reused — smallest first,
    deterministically — so the retry deletes exactly that attempt's
    orphan directories no matter how many OTHER batches committed in
    between (the round-6 advice hole in the log-size derivation).
    Otherwise the next free id is derived past every committed AND
    reserved id, and its marker directory is created BEFORE returning,
    i.e. before any data write.

    ``prefix`` namespaces the claim: appends use ``auto``, compaction
    uses :data:`COMPACT_PREFIX`. Adoption of crashed intents never
    crosses namespaces — an append adopting a crashed COMPACTION id
    would activate that attempt's dormant replacement rows when it
    commits (and a compact retry adopting a crashed APPEND id would
    delete an in-flight append's data). This also makes one concurrent
    auto append safe alongside one compaction.
    """
    intents = open_intents(spark, index_path)
    crashed = sorted(i for i in (intents - committed)
                     if i.startswith(prefix))
    if crashed:
        return crashed[0]
    taken = committed | intents
    n = len(taken) + 1
    while f"{prefix}{n:06d}" in taken:
        n += 1
    batch_id = f"{prefix}{n:06d}"
    filesystem_for(spark, index_path).mkdirs(
        f"{_intents_path(index_path)}/{batch_id}")
    return batch_id


def clear_intent(spark: SparkSession, index_path: str,
                 batch_id: str) -> None:
    """Drop a batch's intent marker (call after ``log_batch``; a no-op
    for caller-named batches that never claimed one)."""
    filesystem_for(spark, index_path).glob_delete(
        f"{_intents_path(index_path)}/{batch_id}")


def _lock_path(index_path: str, name: str) -> str:
    # locks live in their own subtree: intents/ names are batch ids
    # (open_intents/claim_auto_batch_id treat every entry as one), and
    # the 2-level batch globs never look here
    return f"{index_path}/locks/{name}.lock"


def acquire_compact_lock(spark: SparkSession, index_path: str,
                         ttl_seconds: float = 86400.0,
                         name: str = "compact") -> None:
    """Claim the index's single-compactor lock, or raise
    :class:`ConcurrentCompactionError`.

    Two compactions racing over the same sources would BOTH commit a
    full copy and readers would then double-count every compacted row —
    the one operational mistake the rest of this module's armor turns
    into silent corruption rather than a loud failure. The lock is an
    atomic ``create_exclusive`` of a well-known marker (``O_EXCL`` on
    the local filesystem): exactly one of any number of racers creates
    it; the losers raise. A crashed holder's stale lock (mtime older
    than ``ttl_seconds``, the same contract vacuum uses: the ttl must
    exceed the longest possible compaction) is broken through
    :func:`dsgrid_spark.filesystem.break_marker` — an atomic RENAME to
    a breaker-unique tombstone, so of two racing breakers exactly one
    proceeds and the loser can never delete the fresh lock the winner
    re-created; a lock re-acquired between the staleness stat and the
    rename is detected by the tombstone's (rename-preserved) mtime and
    handed straight back.
    """
    import time as _time

    fs = filesystem_for(spark, index_path)
    lp = _lock_path(index_path, name)
    if fs.create_exclusive(lp, ""):
        return
    seen = fs.mtime(lp)
    if seen is None:
        # holder released between our create and stat: one retry
        if fs.create_exclusive(lp, ""):
            return
        raise ConcurrentCompactionError(f"another compaction holds {lp}")
    if seen >= _time.time() * 1000.0 - ttl_seconds * 1000.0:
        raise ConcurrentCompactionError(
            f"another compaction holds {lp} (age under "
            f"ttl_seconds={ttl_seconds}); if its holder crashed, retry "
            f"after the ttl or delete the lock")
    if not break_marker(fs, lp, lambda tomb: fs.mtime(tomb) == seen):
        raise ConcurrentCompactionError(
            f"lost the race breaking stale lock {lp} (another breaker "
            f"moved it, or it was re-acquired while being broken)")
    if not fs.create_exclusive(lp, ""):
        raise ConcurrentCompactionError(
            f"lost the race re-claiming stale lock {lp}")


def release_compact_lock(spark: SparkSession, index_path: str,
                         name: str = "compact") -> None:
    """Drop the single-compactor lock (call in a finally around
    :func:`compact` / rebalance work)."""
    filesystem_for(spark, index_path).rm_tree(_lock_path(index_path, name))


#: the well-known append-block marker's lock name (the ``.lock``
#: suffix keeps it under vacuum's stale-lock reaping)
APPEND_BLOCK_NAME = "append-block"


def block_appends(spark: SparkSession, index_path: str) -> None:
    """Raise the index's append-block marker: every subsequent
    :func:`append_batch` fails with :class:`AppendsBlockedError` at its
    start AND at its pre-commit check, turning "schedule rebalances
    during quiescence" from an ops convention into an enforced mode
    (``rebalance_index(..., block_appends=True)``). Idempotent; the
    marker is re-created so a leftover stale marker becomes live again
    for this run."""
    fs = filesystem_for(spark, index_path)
    lp = _lock_path(index_path, APPEND_BLOCK_NAME)
    fs.rm_tree(lp)
    fs.create_exclusive(lp, "")


def unblock_appends(spark: SparkSession, index_path: str) -> None:
    """Drop the append-block marker (call in a finally around the
    blocking maintenance work)."""
    filesystem_for(spark, index_path).rm_tree(
        _lock_path(index_path, APPEND_BLOCK_NAME))


def check_appends_allowed(spark: SparkSession, index_path: str,
                          ttl_seconds: float = 86400.0) -> None:
    """Raise :class:`AppendsBlockedError` while the append-block marker
    is live (younger than ``ttl_seconds`` — a crashed blocking
    rebalance must not block appends forever; vacuum also reaps the
    marker under its lock ttl). ONE filesystem probe — the per-append
    cost of the enforced-quiescence mode."""
    import time as _time

    mtime = filesystem_for(spark, index_path).mtime(
        _lock_path(index_path, APPEND_BLOCK_NAME))
    if mtime is None:
        return  # no marker: appends allowed
    if mtime >= _time.time() * 1000.0 - ttl_seconds * 1000.0:
        raise AppendsBlockedError(
            f"appends to {index_path!r} are blocked by a running "
            f"maintenance pass ({_lock_path(index_path, APPEND_BLOCK_NAME)}"
            f"); retry after it completes")


def check_generation_unchanged(spark: SparkSession, index_path: str,
                               gen: str | None) -> None:
    """Abort an in-flight append whose centroid generation went stale:
    re-resolve the LIVE committed view's generation and raise
    :class:`StaleGenerationError` when it differs from ``gen`` (the
    generation the append assigned against). Called by
    :func:`append_batch` immediately before its ``log_batch`` — the
    pre-commit twin of the rebalance's own visible-set re-check, so an
    append racing a rebalance loses LOUDLY no matter which side
    commits first: if the rebalance flips first, the append aborts
    here; if the append commits first, the rebalance aborts on its
    re-check. The residual window is one log write on each side."""
    now_gen = resolve_generation(spark, index_path,
                                 committed_batches(spark, index_path))
    if now_gen != gen:
        raise StaleGenerationError(
            f"centroid generation of {index_path!r} flipped "
            f"{gen!r} -> {now_gen!r} while this append was in flight "
            f"(a rebalance committed); the append aborted before its "
            f"commit and nothing became visible — retry it (the retry "
            f"re-assigns against the live generation)")


def read_committed(spark: SparkSession, index_path: str, subdir: str,
                   include: tuple[str, ...] = (),
                   ids: set[str] | None = None) -> DataFrame:
    """Read an index subtree filtered to COMMITTED batches (plus any
    explicitly included in-flight ids — the append path aggregates over
    committed + its own batch).

    ``batch`` is a partition column, so the isin filter prunes orphan
    directories from crashed appends at planning time: they are never
    listed into the scan, and readers observe each batch atomically at
    its log commit. Pass ``ids`` (from :func:`log_snapshot`) when the
    caller also reads log metrics, so filter and totals come from the
    same snapshot.
    """
    if ids is None:
        ids = committed_batches(spark, index_path)
    batch_ids = sorted(ids | set(include))
    return (spark.read.parquet(f"{index_path}/{subdir}")
            .filter(F.col("batch").isin(batch_ids)))


def log_batch(spark: SparkSession, index_path: str, batch_id: str,
              **metrics: int) -> None:
    """Record a completed batch (call LAST in the append sequence).

    One row, partitioned by batch id so a crashed half-written log
    attempt is scoped to its own directory and cleaned before rewrite.
    Every row carries ``committed_at_ms`` (epoch millis at commit) —
    the column :func:`resolve_timestamp` turns into time-travel; it is
    excluded from metric summing everywhere (it is a timestamp, not a
    delta).
    """
    import time as _time

    fs = filesystem_for(spark, index_path)
    lp = _log_path(index_path)
    fs.glob_delete(f"{lp}/batch={batch_id}")
    # the constant marker keeps at least one data column next to the
    # batch partition column (Spark rejects all-partition-column writes)
    metrics = {"committed": 1,
               "committed_at_ms": int(_time.time() * 1000), **metrics}
    cols = sorted(metrics)
    fs.write_rows(lp, [tuple(int(metrics[c]) for c in cols)],
                  ", ".join(f"{c} long" for c in cols),
                  partition=("batch", batch_id))


def logged_totals(spark: SparkSession, index_path: str,
                  *columns: str) -> dict[str, int]:
    """Sum the named metric columns across every committed batch.

    Stats derived from the log (plus the in-flight batch's delta) stay
    correct under retries — unlike read-modify-write against the
    previous stats file, which double-counts when a crash lands between
    the stats write and the log write. Batches replaced by a committed
    compaction contribute nothing (their metrics ride the compacted
    batch's row), so totals are invariant under compaction.
    """
    return log_snapshot(spark, index_path, *columns)[1]


def reset_log(spark: SparkSession, index_path: str) -> None:
    """Delete the exactly-once bookkeeping (batch log, intents, and
    compaction log) ahead of a full index REBUILD — called FIRST by
    :func:`build_index` so a crash mid-rebuild cannot leave committed ids
    pointing at vanished data. The compaction log must go too: a stale
    ``(replaced=X, by=Y)`` row would lie dormant until some future
    append commits a NEW batch named ``Y`` and then silently hide a
    healthy batch ``X``."""
    fs = filesystem_for(spark, index_path)
    fs.glob_delete(_log_path(index_path))
    fs.glob_delete(_intents_path(index_path))
    fs.glob_delete(_compactions_path(index_path))
    # a dead compactor's lock must not outlive the index it was
    # compacting (the rebuild is a new lifecycle)
    fs.glob_delete(f"{index_path}/locks")


def fsck(spark: SparkSession, index_path: str,
         lock_ttl_seconds: float = 86400.0) -> dict:
    """Read-only integrity check for any index this package persists —
    the "fsck" an operator runs before trusting a tree that crashed,
    was hand-edited, or predates a fix. NEVER mutates. Verifies the
    invariants the exactly-once machinery maintains and classifies
    everything else:

    ERRORS (reads are or will be wrong/broken — fix before serving):
    unreadable batch log with data present; a payload subtree mixing
    partition columns; a MIXED flat+generation centroid/codebook
    layout (root-level partition discovery fails); a committed view
    whose centroid generation cannot be resolved or whose
    centroid/codebook tables are unreadable; a missing meta/stats row.

    WARNINGS (readable now, needs operator attention): a VISIBLE batch
    with no data directories anywhere (a crashed purge's data-less log
    row — pins into it already fail loudly, but the live view silently
    lacks its rows; also matches a legitimately empty append, which
    only the operator can tell apart); stale locks / breaker
    tombstones / append-block markers older than ``lock_ttl_seconds``.

    INFO (normal lifecycle states): crashed-append orphan dirs (vacuum
    reclaims), open intents, retired-but-unpurged batches (the reader
    grace), dormant compaction rows (a crashed compaction's inert
    replacement pairs), live locks younger than the ttl.

    Cost: filesystem listings plus one read of the one-row-per-batch
    log and the tiny meta/centroid tables — no payload scan. Returns
    ``{"ok": <no errors>, "kind", "errors", "warnings", "info"}``.
    """
    import time as _time

    from dsgrid_spark.pipeline.stream_index import index_kind

    errors: list[str] = []
    warnings: list[str] = []
    info: dict = {}
    kind = index_kind(spark, index_path)  # raises on non-index dirs
    out = {"kind": kind, "path": index_path}

    raw = _raw_logged(spark, index_path)
    pairs = _replacements(spark, index_path)
    visible, ingested = batch_sets(spark, index_path)
    info["visible_batches"] = len(visible)
    info["retired_batches"] = len(ingested - visible)
    fs = filesystem_for(spark, index_path)

    # payload layout sanity (mixed partition columns refuse compaction
    # and signal a foreign write landed in the tree)
    try:
        subs = payload_subdirs(spark, index_path)
        info["payload_subtrees"] = sorted(subs)
    except ValueError as exc:
        errors.append(str(exc))
        subs = {}

    # per-batch data-dir census over every payload subtree
    dirs_of: dict[str, int] = {}
    for st in fs.glob(f"{index_path}/*/*/batch=*"):
        bid = st.name.split("=", 1)[1]
        dirs_of[bid] = dirs_of.get(bid, 0) + 1
    dataless = sorted(b for b in visible if dirs_of.get(b, 0) == 0)
    if dataless and raw:
        warnings.append(
            f"visible batches with no data directories (crashed purge's "
            f"data-less log rows, or legitimately empty appends): "
            f"{dataless}")
    orphans = sorted(set(dirs_of) - ingested)
    if orphans:
        info["orphan_batches"] = orphans  # vacuum's job
    unpurged = sorted(b for b in (ingested - visible)
                      if dirs_of.get(b, 0) > 0)
    if unpurged:
        info["retired_unpurged_batches"] = unpurged  # reader grace
    dormant = sorted({by for r, by in pairs
                      if by not in raw
                      and by not in _retired(raw, pairs)})
    if dormant:
        info["dormant_compaction_ids"] = dormant  # inert by design
    intents = sorted(open_intents(spark, index_path))
    if intents:
        info["open_intents"] = intents

    # generation-dependent tables (vector kinds)
    if kind in ("ivf", "binary", "pq"):
        from dsgrid_spark.pipeline.pq import (_read_centroids,
                                              _read_codebooks,
                                              codebook_generations)
        from dsgrid_spark.pipeline.rebalance import _flat_entries

        gens = centroid_generations(spark, index_path)
        flat_data = [st for st in _flat_entries(
                         spark, _centroids_path(index_path))
                     if not st.name.startswith(("_", "."))]
        if gens and flat_data:
            errors.append(
                f"MIXED centroid layout: flat files "
                f"{[s.name for s in flat_data]} next "
                f"to generation dirs {sorted(gens)} — root-level "
                f"partition discovery fails; a rebalance migrates this "
                f"(or remove the flat files once a committed generation "
                f"marker exists)")
        gen = None
        if visible:
            try:
                gen = resolve_generation(spark, index_path, visible)
            except ValueError as exc:
                errors.append(f"generation resolution failed: {exc}")
            if gen is not None or (not gens and not errors):
                try:
                    cents = _read_centroids(spark, index_path, gen)
                    info["n_clusters"] = len(cents)
                except ValueError as exc:
                    errors.append(str(exc))
        info["centroid_generation"] = gen
        if kind == "pq":
            marked = codebook_generations(spark, index_path)
            cb_flat_data = [st for st in _flat_entries(
                                spark, f"{index_path}/codebooks")
                            if not st.name.startswith(("_", "."))]
            if marked and cb_flat_data:
                # NOT an error: _read_codebooks reads flat-first (flat
                # files are only removed after a retrain verifies both
                # gen-scoped copies complete), so reads stay correct in
                # this state — it's a crashed retrain awaiting retry
                warnings.append(
                    f"MIXED codebook layout: flat files next to "
                    f"generation dirs {sorted(marked)} — a crashed "
                    f"codebook retrain; reads use the flat files "
                    f"(authoritative until a retrain completes); "
                    f"re-run the rebalance to finish the migration")
            if visible and not errors:
                try:
                    _read_codebooks(spark, index_path, gen)
                except Exception as exc:
                    errors.append(f"codebooks unreadable for generation "
                                  f"{gen!r}: {exc}")

    # meta/stats row
    meta_sub = {"term": "stats", "sigs": "meta", "pq": "meta",
                "binary": "meta"}.get(kind)
    if meta_sub is not None:
        try:
            if not fs.read_rows(f"{index_path}/{meta_sub}"):
                raise ValueError("empty meta row set")
        except Exception:
            errors.append(f"missing or unreadable {meta_sub}/ row")

    # locks / tombstones / append-block markers
    cutoff = _time.time() * 1000.0 - lock_ttl_seconds * 1000.0
    held, stale, tombs = [], [], []
    for st in fs.glob(f"{index_path}/locks/*.lock"):
        (stale if st.mtime_ms < cutoff else held).append(st.name)
    for st in fs.glob(f"{index_path}/locks/*.lock.broken-*"):
        tombs.append(st.name)
    if stale:
        warnings.append(f"stale locks past lock_ttl_seconds (a crashed "
                        f"holder; vacuum reaps): {sorted(stale)}")
    if tombs:
        warnings.append(f"breaker tombstones (a crashed stale-lock "
                        f"break; vacuum reaps): {sorted(tombs)}")
    if held:
        info["held_locks"] = sorted(held)

    out["ok"] = not errors
    out["errors"] = errors
    out["warnings"] = warnings
    out["info"] = info
    return out


def _centroids_path(index_path: str) -> str:
    return f"{index_path}/centroids"


def centroid_generations(spark: SparkSession,
                         index_path: str) -> set[str]:
    """Batch ids that ESTABLISHED a centroid generation — the initial
    build (``base``) and every committed rebalance (its ``cmp`` id) —
    i.e. the ``centroids/batch=<id>`` directory names. Empty for
    indexes without centroids (term, sigs) and for the legacy flat
    ``centroids/`` layout (pre-generation builds)."""
    return {st.name.split("=", 1)[1]
            for st in filesystem_for(spark, index_path).glob(
                f"{_centroids_path(index_path)}/batch=*")}


def resolve_generation(spark: SparkSession, index_path: str,
                       batch_ids, validate_pin: bool = False) -> str | None:
    """The centroid generation a batch view reads: the UNIQUE
    generation-establishing batch inside ``batch_ids`` (the committed
    set, or a pin). Cluster numbers are only meaningful within one
    generation — every batch in a consistent view was assigned against
    the same centroids, and the view always contains the batch that
    established them (a rebalance retires EVERY previously-visible
    batch, and :func:`compact` copies the generation marker onto any
    batch that absorbs its establisher). ``None`` means the legacy
    flat ``centroids/`` layout (single implicit generation).

    ``validate_pin=True`` (set by searches for EXPLICIT ``as_of``
    pins) additionally checks each pinned batch's commit instant
    against the generation-establishment timeline: a CAPTURED
    committed set is always consistent, but a hand-assembled pin can
    put a batch assigned under generation B next to generation A's
    marker — its cluster numbers would then be read against the wrong
    centroids, silently mis-pruning (the one generation mix
    :func:`resolve_as_of`'s replacement check cannot see, because
    post-rebalance batches are in nobody's replaced set). Generation
    IDENTITY rides the marker rows' ``gen_src`` column (transfers by
    :func:`compact` preserve it; only build/rebalance establish a new
    one), so the timeline is just the establishment markers' commit
    times."""
    gens = centroid_generations(spark, index_path)
    if not gens:
        return None
    hit = set(batch_ids) & gens
    if len(hit) != 1:
        raise ValueError(
            f"cannot resolve the centroid generation for batch view "
            f"{sorted(batch_ids)}: generation markers {sorted(gens)} "
            f"intersect it as {sorted(hit)} (expected exactly one). "
            f"The view mixes generations or its generation was purged.")
    gen = hit.pop()
    if validate_pin:
        _check_pin_generation(spark, index_path, set(batch_ids), gen)
    return gen


def _check_pin_generation(spark: SparkSession, index_path: str,
                          pin: set[str], gen: str) -> None:
    """Raise when a pinned batch committed under a DIFFERENT centroid
    generation than the pin's marker (see resolve_generation). Best
    effort by construction: batches or markers without recorded commit
    times (pre-commit-time layouts) are skipped rather than guessed."""
    fs = filesystem_for(spark, index_path)
    try:
        src_of = {r["batch"]: r["gen_src"]
                  for r in fs.read_rows(_centroids_path(index_path))}
    except Exception:
        return  # pre-identity marker layout: nothing to key on
    identity = src_of.get(gen)
    if identity is None:
        return
    try:
        at = {r["batch"]: r.get("committed_at_ms")
              for r in fs.read_rows(_log_path(index_path))}
    except Exception:
        return
    # establishment events: markers that INTRODUCED their identity
    # (gen_src == own batch id) — transfers are not identity changes
    events = sorted((int(at[b]), s) for b, s in src_of.items()
                    if s == b and at.get(b) is not None)

    def identity_at(ms: int):
        cur = None
        for t, s in events:
            if t <= ms:
                cur = s
            else:
                break
        return cur

    bad = sorted(
        b for b in pin
        if at.get(b) is not None
        and identity_at(int(at[b])) not in (None, identity))
    if bad:
        raise ValueError(
            f"as_of pin mixes centroid generations: batches {bad} "
            f"committed under a different generation than the pin's "
            f"marker {gen!r} ({identity!r}) — their cluster numbers "
            f"would be read against the wrong centroids. Pin a SET "
            f"captured from committed_batches(...), or a timestamp.")


def payload_subdirs(spark: SparkSession,
                    index_path: str) -> dict[str, str]:
    """Discover the index's payload subtrees: every first-level subdir
    holding the shared ``<subdir>/<col>=K/batch=B`` layout, mapped to
    its partition column name. Derived from the tree itself (the same
    two-level glob :func:`vacuum` trusts), so :func:`compact` needs no
    per-index schema registry — postings/sigs/codes/bits/vectors are
    all found, while ``batches/`` (one level), ``meta/``, and
    ``centroids/`` (no batch dirs) never match."""
    subs: dict[str, str] = {}
    for st in filesystem_for(spark, index_path).glob(
            f"{index_path}/*/*/batch=*"):
        sub, coldir = st.path.rstrip("/").split("/")[-3:-1]
        col = coldir.split("=", 1)[0]
        if subs.setdefault(sub, col) != col:
            raise ValueError(
                f"subtree {sub!r} mixes partition columns "
                f"({subs[sub]!r} and {col!r}); refusing to compact")
    return subs


def clear_attempt(spark: SparkSession, index_path: str,
                  batch_id: str) -> None:
    """Delete a previous crashed attempt's artifacts of one batch id:
    payload dirs, its compaction rows, and its generation-table dirs
    (:data:`GEN_TABLES`)."""
    fs = filesystem_for(spark, index_path)
    for pattern in (f"{index_path}/*/*/batch={batch_id}",
                    f"{_compactions_path(index_path)}/by={batch_id}",
                    *(f"{index_path}/{t}/batch={batch_id}"
                      for t in GEN_TABLES)):
        fs.glob_delete(pattern)


def summed_metrics(spark: SparkSession, index_path: str,
                   sources) -> dict[str, int]:
    """The sources' log metrics summed per column — the replacing
    batch's log row, so :func:`logged_totals` is invariant under
    compaction and rebalance."""
    sources = set(sources)
    metrics: dict[str, int] = {}
    for r in filesystem_for(spark, index_path).read_rows(
            _log_path(index_path)):
        if r["batch"] not in sources:
            continue
        for c, v in r.items():
            if c in ("batch", "committed", "committed_at_ms") \
                    or v is None:
                continue
            metrics[c] = metrics.get(c, 0) + int(v)
    return metrics


def build_index(spark: SparkSession, index_path: str, write) -> None:
    """Build (or rebuild) an index: :func:`reset_log` FIRST, so a crash
    mid-rebuild cannot leave committed ids pointing at vanished data;
    then ``write(BASE_BATCH)`` lands the payload and returns the
    ``base`` row's log metrics (or None); the log row commits LAST, so
    a crashed build leaves no readable index rather than a half-written
    one. Rebuilding over a live index is not reader-safe: build into a
    fresh path and swap."""
    reset_log(spark, index_path)
    log_batch(spark, index_path, BASE_BATCH, **(write(BASE_BATCH) or {}))


def append_batch(spark: SparkSession, index_path: str,
                 batch_id: str | None, write) -> bool:
    """Append one batch exactly once; returns False for a replay.

    ``batch_id=None`` claims an auto id under an intent marker
    (:func:`claim_auto_batch_id`), so a crashed auto-id append retries
    under its original id. A caller id is validated
    (:func:`check_batch_id`; ``base`` is the build's). An id already
    ingested — logged, or absorbed by a compaction — returns False
    untouched. Otherwise: :func:`check_appends_allowed`, delete the
    crashed previous attempt (:func:`clear_attempt`), resolve the
    committed view's centroid generation ``gen`` (None for term and
    signature indexes), ``write(batch_id, gen)`` — the payload, which
    returns the log metrics (or None) — then the two pre-commit guards
    (:func:`check_appends_allowed` again and
    :func:`check_generation_unchanged`: an append racing a rebalance
    loses loudly, crash-equivalent and retryable), the log row, and the
    intent's removal."""
    committed, ingested = batch_sets(spark, index_path)
    if batch_id is None:
        batch_id = claim_auto_batch_id(spark, index_path, ingested)
    check_batch_id(batch_id)
    if batch_id == BASE_BATCH:
        raise ValueError(f"batch_id {BASE_BATCH!r} is reserved for the "
                         "initial build")
    if batch_id in ingested:
        # replayed batch: already fully ingested (possibly since
        # compacted away -- its rows live on in the compacted batch)
        return False
    check_appends_allowed(spark, index_path)
    clear_attempt(spark, index_path, batch_id)
    gen = resolve_generation(spark, index_path, committed)
    metrics = write(batch_id, gen) or {}
    check_appends_allowed(spark, index_path)
    check_generation_unchanged(spark, index_path, gen)
    log_batch(spark, index_path, batch_id, **metrics)
    clear_intent(spark, index_path, batch_id)
    return True


def replace_batches(spark: SparkSession, index_path: str, sources,
                    write) -> str:
    """Replace the ``sources`` batches by ONE new batch; returns its id.

    Claims a ``cmp`` id (:data:`COMPACT_PREFIX`; a crashed attempt's
    intent is adopted), deletes that attempt (:func:`clear_attempt`),
    writes the ``(replaced, by)`` rows — inert until the new batch's
    log row lands, since readers resolve replacements only against
    logged ``by`` ids — then ``write(batch_id)`` lands the replacing
    payload. The log row, carrying the sources' summed metrics
    (:func:`summed_metrics`), is THE COMMIT: the new batch becomes
    visible and the sources invisible at that one write. A callback
    that must re-check state right before the commit does so as its
    last statement."""
    sources = sorted(sources)
    batch_id = claim_auto_batch_id(spark, index_path,
                                   batch_sets(spark, index_path)[1],
                                   prefix=COMPACT_PREFIX)
    clear_attempt(spark, index_path, batch_id)
    filesystem_for(spark, index_path).write_rows(
        _compactions_path(index_path), [(s,) for s in sources],
        "replaced string", partition=("by", batch_id))
    metrics = summed_metrics(spark, index_path, sources)
    write(batch_id)
    log_batch(spark, index_path, batch_id, **metrics)
    clear_intent(spark, index_path, batch_id)
    return batch_id


def compact(spark: SparkSession, index_path: str,
            batches: list[str] | None = None,
            purge: bool = False,
            lock_ttl_seconds: float = 86400.0) -> str | None:
    """Merge committed batch directories into ONE coalesced batch,
    exactly-once and crash-safe — the maintenance pass that keeps a
    daily-append index from drowning in small files (a year of appends
    is 365 ``batch=`` dirs per partition key; scan-task scheduling and
    file listing degrade long before the bytes do).

    Every payload subtree (:func:`payload_subdirs`) is rewritten for
    the source batches into ``batch=<new id>`` with one shuffle per
    subtree (``repartition`` on the partition key — the same file
    shape as a fresh build), the source batches' log metrics are summed
    onto the new batch's log row (so :func:`logged_totals` is invariant
    under compaction), and the replacement is recorded in
    ``compactions/`` BEFORE the commit — the sequence is
    :func:`replace_batches`, so a crashed compaction retries under the
    same ``cmp`` id and cleans its own orphans first.

    Source data/log rows are NOT deleted here unless ``purge=True``
    (safe only when no reader is live); the default leaves them for
    :func:`vacuum`, whose ``ttl_seconds`` contract guarantees any
    reader that planned against the pre-compaction snapshot has
    finished. ONE COMPACTOR AT A TIME per index, ENFORCED: the run
    holds the :func:`acquire_compact_lock` marker for its duration —
    two concurrent compactions over the same sources would both commit
    a full copy and readers would double-count every compacted row, so
    the second compactor raises :class:`ConcurrentCompactionError`
    instead (``lock_ttl_seconds`` is the stale-lock grace; it must
    exceed the longest possible compaction). Concurrent APPENDS are
    safe: an uncommitted batch is not visible, so it is never a
    source, and the ``cmp`` id namespace keeps the compactor's intent
    from ever colliding with an append's (see :data:`COMPACT_PREFIX`).

    ``batches=None`` compacts every visible batch; an explicit list
    must name visible batches only. Returns the new batch id, or None
    when there is nothing to merge (fewer than two sources).
    """
    acquire_compact_lock(spark, index_path,
                         ttl_seconds=lock_ttl_seconds)
    try:
        return _compact_locked(spark, index_path, batches, purge)
    finally:
        release_compact_lock(spark, index_path)


def _compact_locked(spark: SparkSession, index_path: str,
                    batches: list[str] | None,
                    purge: bool) -> str | None:
    visible = committed_batches(spark, index_path)
    if batches is None:
        sources = sorted(visible)
    else:
        sources = sorted(set(batches))
        unknown = set(sources) - visible
        if unknown:
            raise ValueError(
                f"cannot compact non-visible batches: {sorted(unknown)}"
                " (not committed, or already replaced)")
    if len(sources) < 2:
        return None
    subs = payload_subdirs(spark, index_path)
    if not subs:
        # committing a data-less batch while marking sources replaced
        # would purge real data later — refuse loudly instead
        raise ValueError(f"no <subdir>/<col>=K/batch=B payload found "
                         f"under {index_path!r}; not an index tree?")
    fs = filesystem_for(spark, index_path)

    def rewrite(batch_id: str) -> None:
        for sub, col in sorted(subs.items()):
            df = (spark.read.parquet(f"{index_path}/{sub}")
                  .filter(F.col("batch").isin(sources)))
            (df.drop("batch").withColumn("batch", F.lit(batch_id))
               .repartition(F.col(col))
               .write.mode("append").partitionBy(col, "batch")
               .parquet(f"{index_path}/{sub}"))
        # absorbing the batch that ESTABLISHED the current centroid
        # generation transfers its generation tables (centroids, a
        # retrained PQ's codebooks, the drift-calibration record): the
        # compacted batch becomes the establisher of the SAME generation
        # (identical rows under the new batch id), so readers'
        # generation resolution — "the unique gen-marked batch in my
        # view" — keeps working after the source retires. Gen-scoped
        # dirs are read DIRECTLY (pq._read_centroids's convention): a
        # legacy index with a crashed half-migrated centroid layout
        # stays compactable. Tiny payloads (K or m*k rows).
        gen_sources = centroid_generations(spark, index_path) & set(sources)
        for g in sorted(gen_sources):
            for table in GEN_TABLES:
                src = f"{index_path}/{table}/batch={g}"
                if fs.exists(src):
                    (spark.read.parquet(src)
                       .withColumn("batch", F.lit(batch_id))
                       .coalesce(1)
                       .write.mode("append").partitionBy("batch")
                       .parquet(f"{index_path}/{table}"))

    batch_id = replace_batches(spark, index_path, sources, rewrite)
    if purge:
        purge_replaced(spark, index_path)
    return batch_id


def compact_if_fragmented(spark: SparkSession, index_path: str,
                          max_batches: int = 32,
                          purge: bool = False,
                          lock_ttl_seconds: float = 86400.0) -> str | None:
    """The cron-shaped maintenance gate for :func:`compact`: merge only
    when the VISIBLE batch count exceeds ``max_batches`` — one log read
    when healthy, the full rewrite only past the threshold (the
    rebalance_if_skewed convention). A steady daily-append index then
    self-limits to ~max_batches directories per partition key without
    paying a rewrite per cron tick. Returns the new batch id or None.
    """
    if max_batches < 1:
        raise ValueError(f"max_batches must be positive, got "
                         f"{max_batches}")
    if len(committed_batches(spark, index_path)) <= max_batches:
        return None
    return compact(spark, index_path, purge=purge,
                   lock_ttl_seconds=lock_ttl_seconds)


def purge_replaced(spark: SparkSession, index_path: str,
                   older_than_ms: float | None = None) -> dict[str, int]:
    """Delete the data directories and log rows of batches replaced by
    a COMMITTED compaction. ``older_than_ms`` (epoch millis) gives
    readers a grace window measured FROM THE RETIREMENT INSTANT: a
    batch is skipped while the compaction that retired it (its direct
    replacer's ``compactions/by=…`` dir, or the replacer's own log
    row) is younger than the cutoff — the moment the sources became
    invisible, NOT the sources' own write times, which may predate the
    compaction by months (keying on those purged just-replaced data
    out from under a reader seconds after the commit).
    :func:`vacuum` passes its ttl cutoff; ``None`` purges immediately
    (offline maintenance). Deletion order is data first, log row last:
    a crash in between leaves a data-less log row that stays invisible
    (still marked retired — resolution is transitive, :func:`_retired`)
    and is finished by the next purge. Compaction rows themselves are
    never deleted — they are the permanent guard against reuse of
    retired ids."""
    raw = _raw_logged(spark, index_path)
    pairs = _replacements(spark, index_path)
    replaced = _retired(raw, pairs)
    direct_by = {r: by for r, by in pairs}
    fs = filesystem_for(spark, index_path)
    removed_dirs = 0
    removed_log_rows = 0
    for bid in sorted(replaced & raw):
        if older_than_ms is not None:
            by = direct_by.get(bid)
            retired_at = max(
                (t for t in (
                    fs.mtime(f"{_compactions_path(index_path)}/by={by}"),
                    fs.mtime(f"{_log_path(index_path)}/batch={by}"))
                 if t is not None),
                default=None)
            # unknown retirement time (replacer already purged of both
            # artifacts) means the retirement is at least one full
            # purge cycle old — eligible
            if retired_at is not None and retired_at >= older_than_ms:
                continue
        removed_dirs += fs.glob_delete(f"{index_path}/*/*/batch={bid}")
        # a retired generation-establishing batch's centroid (and, for
        # retrained PQ, codebook) dirs go with its data
        # (compact/rebalance already transferred the live generation's
        # marker to the replacing batch); pins into that generation
        # fail loudly at resolve_generation afterwards
        for table in GEN_TABLES:
            removed_dirs += fs.glob_delete(
                f"{index_path}/{table}/batch={bid}")
        removed_log_rows += fs.glob_delete(
            f"{_log_path(index_path)}/batch={bid}")
    return {"data_dirs_removed": removed_dirs,
            "log_rows_removed": removed_log_rows}


def vacuum(spark: SparkSession, index_path: str,
           ttl_seconds: float = 86400.0,
           lock_ttl_seconds: float = 86400.0) -> dict[str, int]:
    """Delete crashed-append debris from an index tree: batch data
    directories whose id never committed, and expired or stale intent
    markers.

    Reader isolation already makes orphans INVISIBLE
    (:func:`read_committed` prunes them at planning time) and intent
    markers make crashed auto-id appends RETRYABLE — but an abandoned
    crashed batch leaks its partition directories forever; vacuum
    closes that lifecycle. Rules:

    - Committed batches are never touched (their ids are in the log).
    - An uncommitted batch is judged as a UNIT: it expires only when
      EVERY artifact it has — its intent marker and all of its data
      directories — is older than ``ttl_seconds``. A single young
      artifact keeps the whole batch (an in-flight append always
      survives, whether auto-id or caller-named), and an intent is
      only ever removed TOGETHER with the batch's data dirs — removing
      the marker while data remained would free the auto id for
      re-claim over leftover rows and strand a crashed retry's own
      orphan cleanup (the intent contract).
    - An intent whose batch COMMITTED (a crash landed between
      ``log_batch`` and ``clear_intent``) is stale bookkeeping and is
      removed regardless of age — the committed data is never touched.
    - Every expired batch is RE-CHECKED immediately before deletion
      (committed? data dirs appeared or rejuvenated? intent mtime
      moved?) so a slow append racing the vacuum's upfront snapshot is
      skipped; the residual check-to-delete window is covered by the
      contract that ``ttl_seconds`` exceeds the longest possible append
      duration.

    Readers racing a vacuum stay consistent: every search filters to
    committed batch ids, so a concurrently deleted orphan was never in
    any reader's plan. Data dirs are matched two levels deep
    (``<subtree>/<col>=K/batch=B`` — the postings/vectors/codes layout
    shared by every index in this package), which can never match the
    ``batches/batch=B`` log itself. Batches replaced by a committed
    compaction are purged under the same cutoff
    (:func:`purge_replaced`); for the orphan rules above, "committed"
    means EVER LOGGED OR REPLACED — a replaced-but-unpurged batch is
    retired bookkeeping handled by the purge pass, never an orphan.
    Stale compactor locks are reaped under ``lock_ttl_seconds`` — a
    ttl INDEPENDENT of the reader-grace ``ttl_seconds``, so shortening
    reader grace can never delete a live compactor's lock. Returns
    removal counts.
    """
    import time as _time

    cutoff = _time.time() * 1000.0 - ttl_seconds * 1000.0
    purged = purge_replaced(spark, index_path, older_than_ms=cutoff)
    committed = batch_sets(spark, index_path)[1]
    fs = filesystem_for(spark, index_path)

    def data_statuses(bid):
        # a crashed rebalance's generation-table dirs are artifacts of
        # its (uncommitted) batch like any payload dir — judged and
        # deleted with the batch as a unit
        return [st for pattern in (
                    f"{index_path}/*/*/batch={bid}",
                    *(f"{index_path}/{t}/batch={bid}" for t in GEN_TABLES))
                for st in fs.glob(pattern)]

    intent_sts = fs.glob(f"{_intents_path(index_path)}/*")
    data_sts = data_statuses("*")

    # group every artifact of each UNCOMMITTED batch; stale intents of
    # committed batches are removable immediately (data never touched)
    stale_committed_intents = []
    intent_of: dict[str, object] = {}
    artifacts: dict[str, list] = {}
    for st in intent_sts:
        bid = st.name
        if bid in committed:
            stale_committed_intents.append(st)
        else:
            intent_of[bid] = st
            artifacts.setdefault(bid, []).append(st)
    data_of: dict[str, list] = {}
    for st in data_sts:
        bid = st.name.split("=", 1)[1]
        if bid in committed:
            continue
        data_of.setdefault(bid, []).append(st)
        artifacts.setdefault(bid, []).append(st)

    removed_dirs = 0
    removed_intents = 0
    for bid, sts in artifacts.items():
        if any(st.mtime_ms >= cutoff for st in sts):
            continue  # some artifact is young: the batch may be live
        # TOCTOU re-check immediately before deletion: the upfront
        # snapshot may predate a slow in-flight append's FIRST data
        # write (an intent claimed > ttl ago whose append only now
        # started writing would otherwise lose its marker mid-append,
        # freeing the auto id for re-claim over its rows). The batch is
        # skipped if it committed since the snapshot, if its data-dir
        # set changed or grew young entries, or if its intent marker's
        # mtime moved. The residual window between this re-check and
        # the deletes is bounded by ``ttl_seconds``, which must exceed
        # the longest possible append duration (the intent contract).
        if bid in batch_sets(spark, index_path)[1]:
            continue
        fresh = data_statuses(bid)
        snap = {st.path for st in data_of.get(bid, [])}
        if ({st.path for st in fresh} != snap
                or any(st.mtime_ms >= cutoff for st in fresh)):
            continue
        if bid in intent_of and fs.mtime(
                intent_of[bid].path) != intent_of[bid].mtime_ms:
            continue
        for st in data_of.get(bid, []):
            fs.rm_tree(st.path)
            removed_dirs += 1
        # marker removed LAST, and only with its data gone: a crash
        # mid-vacuum leaves the id reserved over the remaining orphans
        if bid in intent_of:
            fs.rm_tree(intent_of[bid].path)
            removed_intents += 1
    for st in stale_committed_intents:
        fs.rm_tree(st.path)
        removed_intents += 1
    # a compactor that died holding the single-compactor lock would
    # otherwise block compaction until someone notices. Staleness is
    # judged on ``lock_ttl_seconds`` — a SEPARATE ttl from the
    # reader-grace ``ttl_seconds``: an operator shortening the reader
    # grace (its documented purpose) must not thereby delete a LIVE
    # compactor's lock and re-enable the concurrent-compaction
    # double-count the lock exists to prevent. Crashed breakers'
    # tombstones (``*.lock.broken-*``) are reaped under the same ttl.
    lock_cutoff = _time.time() * 1000.0 - lock_ttl_seconds * 1000.0
    removed_locks = 0
    for pattern in (f"{index_path}/locks/*.lock",
                    f"{index_path}/locks/*.lock.broken-*"):
        for st in fs.glob(pattern):
            if st.mtime_ms < lock_cutoff:
                fs.rm_tree(st.path)
                removed_locks += 1
    return {"data_dirs_removed": removed_dirs + purged["data_dirs_removed"],
            "intents_removed": removed_intents,
            "replaced_log_rows_removed": purged["log_rows_removed"],
            "stale_locks_removed": removed_locks}
