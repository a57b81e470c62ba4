"""Multi-table transactions for the lake catalog.

The reference pipeline publishes related tables independently (one MERGE
per topic, ``src/utils/cdc_pipeline.py:221-237``), which exposes readers
to torn states across tables — e.g. an ``orders`` batch visible while
the matching ``order_events`` rollup is still the old version. This
module adds the Iceberg-REST-catalog analogue of a multi-table commit:
stage any number of single-table operations (every DML and DDL path that
funnels through ``LakeTable._commit`` — append / merge / delete_keys /
update_where / create_or_replace / set_properties / schema DDL), then
publish all of them together.

Commit protocol (two-phase with a write-ahead intent log):

1. **Build + reserve.** For every staged table, re-run its builder
   against the CURRENT parent (the same optimistic-rebase closures the
   direct commit path uses, so per-operation conflict detection —
   bucket overlap, fork-base drift — fires exactly as it would outside
   a transaction), then ``write_exclusive`` the new ``v{N}.json``
   manifest. A reservation race anywhere rolls back every manifest
   reserved so far and retries the whole build; nothing was published,
   because no ``_current`` pointer moved.
2. **Intent log.** Once every manifest is reserved, write one
   ``{warehouse}/_txn/txn-{uuid}.json`` record naming every
   ``(table_location, version, parent)`` flip. This is the commit
   point.
3. **Flip.** Atomically replace each table's ``_current``; delete the
   intent record last.

Crash safety: a crash before step 2 leaves only reserved manifests and
staged data dirs — invisible to readers (``_current`` never moved).
Staged data dirs are reclaimed by ``remove_orphan_files``; the reserved
``v{N}.json`` manifests are NOT (they sit above ``_current``, which GC
never touches) and, left in place, would make every later commit to the
table lose its reservation race forever. Two defenses: in-process
failures roll the reservations back in a ``try/except`` before
propagating, and :func:`reclaim_reserved_manifests` (also run by
``recover_transactions``) age-gate-deletes reserved manifests that no
intent record names — covering hard crashes. A crash after step 2 is
ROLLED FORWARD by :meth:`LakeCatalog.recover_transactions`: every flip
whose table still sits at the recorded parent is completed (the
manifests are all on disk — that was the reservation invariant), flips
that already happened are recognized as done, and the record is then
dropped. A record containing a flip that can no longer be resolved
(table dropped or renamed after the crash — intent records hold
absolute locations) is RETAINED and reported, never silently consumed:
finalizing a torn multi-table state must be an operator decision. So
the transaction is atomic to any reader that runs recovery first, and
repairable-forward for everyone else; the torn window is bounded by
crash-to-recovery, never by data rewrite time.

Scale note: both phases move manifests only (KBs), never data — staged
operations write their data files at stage time through the normal
bucketed writers, so a 100-table transaction costs 100 small metadata
writes at publish, independent of table sizes.

Scope: one mutation per table per transaction. A second mutation would
have to read its own uncommitted predecessor (a merge rewrites buckets
from table state), which the stage-time writers cannot see — the guard
raises instead of producing a silently-wrong rewrite.
"""

from __future__ import annotations

import json
import re
import time
import uuid

from datalake_iceberg_spark.tables import (
    COMMIT_RETRIES,
    COMMIT_RETRY_WAIT_S,
    CommitConflict,
    LakeTable,
    Snapshot,
    _AlreadyApplied,
    _txn_wrap,
    evolve,
    manifest_text_for,
)


class _StagedTable(LakeTable):
    """A ``LakeTable`` whose commits are captured instead of published.

    Every public operation (merge / append / DDL ...) runs exactly as
    usual — data files land under the table's own ``data/`` dirs — but
    the final ``_commit`` records the builder closure for the owning
    :class:`CatalogTransaction` to publish later. The snapshot returned
    at stage time is a PREVIEW built against the pre-transaction
    parent; the publish re-runs the builder against the then-current
    parent (same contract as the direct path's optimistic retry).
    """

    def __init__(self, spark, location, fs, txn):
        super().__init__(spark, location, fs=fs)
        self._txn = txn
        self._staged = None  # (build, operation)

    def _commit(
        self, build, operation: str,
        txn_app: str | None = None, txn_version: int | None = None,
    ) -> Snapshot:
        if self._staged is not None:
            raise ValueError(
                f"transaction already stages {self._staged[1]!r} on "
                f"{self.location}; one mutation per table per transaction "
                "— a second would need to read its own uncommitted "
                "predecessor. Commit first, or use a second transaction."
            )
        build = _txn_wrap(build, txn_app, txn_version)
        parent = self.snapshot() if self.exists() else None
        preview = evolve(parent, operation, build(parent), self._pending_stats)
        self._staged = (build, operation)
        return preview


class CatalogTransaction:
    """Context manager staging commits across tables of one catalog.

    >>> with catalog.transaction() as txn:
    ...     txn.table("default.orders").merge(batch)
    ...     txn.table("default.order_rollup").append(delta)
    ... # both visible now, or neither
    """

    def __init__(self, catalog):
        self.catalog = catalog
        self.fs = catalog.fs
        self._tables: dict[str, _StagedTable] = {}
        self._done = False

    # ------------------------------------------------------------ staging
    def table(self, name: str) -> _StagedTable:
        loc = self.catalog._loc(name)
        if loc not in self._tables:
            self._tables[loc] = _StagedTable(
                self.catalog.spark, loc, self.fs, self
            )
        return self._tables[loc]

    def create_or_replace(self, name: str, df, **kw) -> _StagedTable:
        t = self.table(name)
        t.create_or_replace(df, **kw)
        return t

    # ------------------------------------------------------------ publish
    def _staged_ops(self):
        return [
            (t, *t._staged) for t in self._tables.values() if t._staged is not None
        ]

    def commit(self) -> dict[str, Snapshot]:
        """Publish every staged operation all-or-nothing. Returns
        ``{table_location: committed snapshot}``."""
        if self._done:
            raise ValueError("transaction already committed or aborted")
        staged = self._staged_ops()
        self._done = True
        if not staged:
            return {}
        for attempt in range(COMMIT_RETRIES + 1):
            built: list[tuple[_StagedTable, Snapshot, Snapshot | None]] = []
            for t, build, op in staged:
                parent = t.snapshot() if t.exists() else None
                # per-op conflict detection (bucket overlap etc.) raises
                # CommitConflict here and aborts the transaction — the
                # staged rewrite is against stale data, retrying the
                # metadata alone cannot fix it
                try:
                    built.append(
                        (t, evolve(parent, op, build(parent), t._pending_stats), parent)
                    )
                except _AlreadyApplied:
                    # idempotent write already landed (txn_app/version
                    # replay) — this table needs no flip; the rest of
                    # the transaction proceeds
                    continue
            if not built:  # every staged write was an already-applied replay
                return {}
            reserved: list[tuple[_StagedTable, Snapshot]] = []
            race = False
            try:
                for t, snap, parent in built:
                    try:
                        t.fs.makedirs(t.meta_dir)
                        t.fs.write_exclusive(
                            t.fs.join(t.meta_dir, f"v{snap.version}.json"),
                            manifest_text_for(t.fs, t.meta_dir, snap, parent),
                        )
                        reserved.append((t, snap))
                    except FileExistsError:
                        race = True
                        break
                if race:
                    # roll back every reservation; _current never moved,
                    # so nothing was published
                    self._unreserve(reserved)
                    if attempt == COMMIT_RETRIES:
                        raise CommitConflict(
                            f"transaction lost {COMMIT_RETRIES} commit races"
                        )
                    time.sleep(COMMIT_RETRY_WAIT_S)
                    continue
                # ---- commit point: write-ahead intent record ----
                txn_dir = self.fs.join(self.catalog.warehouse, "_txn")
                self.fs.makedirs(txn_dir)
                record = {
                    "txn_id": uuid.uuid4().hex,
                    "flips": [
                        {
                            "location": t.location,
                            "version": snap.version,
                            "parent": snap.parent,
                        }
                        for t, snap, _parent in built
                    ],
                }
                rec_path = self.fs.join(txn_dir, f"txn-{record['txn_id']}.json")
                self.fs.write_exclusive(rec_path, json.dumps(record))
                # Re-verify every reservation now that the intent record
                # protects them from reserved-manifest GC: a driver that
                # stalled past the reclaim age gate between reserving and
                # writing the record may find a v{N}.json gone — flipping
                # _current to it would leave that table unreadable. The
                # record hasn't flipped anything yet, so withdrawing it
                # and retrying is still a clean pre-commit-point abort.
                missing = [
                    (t, snap)
                    for t, snap, _parent in built
                    if not t.fs.exists(
                        t.fs.join(t.meta_dir, f"v{snap.version}.json")
                    )
                ]
                if missing:
                    try:
                        self.fs.remove(rec_path)
                    except FileNotFoundError:
                        pass
                    self._unreserve(reserved)
                    if attempt == COMMIT_RETRIES:
                        raise CommitConflict(
                            "transaction reservations were reclaimed before "
                            "publish (commit exceeded the reserved-manifest "
                            "GC age gate) on: "
                            + ", ".join(t.location for t, _ in missing)
                        )
                    time.sleep(COMMIT_RETRY_WAIT_S)
                    continue
            except CommitConflict:
                raise  # race path above already unreserved
            except BaseException:
                # any other failure before the intent record is durable
                # (fs error mid-reservation, intent-log write failure,
                # KeyboardInterrupt) must not leak reservations: a
                # leaked v{N}.json above _current would make every later
                # commit to that table collide forever
                self._unreserve(reserved)
                raise
            # ---- roll-forward region: flip every pointer ----
            # Past the commit point failures roll FORWARD (recovery
            # completes the flips from the intent record) — never
            # unreserve here.
            for t, snap, _parent in built:
                t.fs.replace_atomic(
                    t.fs.join(t.meta_dir, "_current"), str(snap.version)
                )
                t._pending_stats = {}
            try:
                self.fs.remove(rec_path)
            except FileNotFoundError:
                # a concurrent recover_transactions() saw the record,
                # re-applied the (already-done) flips and consumed it —
                # the transaction is durably committed either way
                pass
            return {t.location: snap for t, snap, _parent in built}
        raise AssertionError("unreachable")

    @staticmethod
    def _unreserve(reserved) -> None:
        """Best-effort rollback of reserved manifests; a path already
        gone (e.g. reclaimed concurrently) is not an error."""
        for t, snap in reserved:
            try:
                t.fs.remove(t.fs.join(t.meta_dir, f"v{snap.version}.json"))
            except FileNotFoundError:
                pass

    def abort(self) -> None:
        """Drop staged operations. Data files already written by staged
        ops become unreferenced and are reclaimed by each table's
        ``remove_orphan_files``."""
        self._done = True
        self._tables.clear()

    # ------------------------------------------------------------ with
    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if exc_type is not None:
            self.abort()
            return False
        if not self._done:
            self.commit()
        return False


def recover_transactions(
    catalog, reclaim_reserved_after_s: float | None = 3600.0
) -> list[dict]:
    """Roll forward transactions interrupted between intent-log write
    and the last pointer flip. Safe to run at any time (idempotent;
    concurrent writers unaffected — a flip is applied only if the table
    still sits at the recorded parent, i.e. the interrupted transaction
    is still the next commit in line). Returns the processed records,
    each annotated with ``"unresolved": [...]`` listing flips that could
    not be applied or confirmed done (reserved manifest gone AND the
    table not at/past the recorded version — e.g. the table was dropped
    or renamed after the crash; intent records hold absolute locations).
    A record with unresolved flips is RETAINED on disk so the torn state
    stays visible instead of being silently finalized; resolve it (e.g.
    rename the table back, or delete the record deliberately) and rerun.

    Afterwards, reserved ``v{N}.json`` manifests above ``_current`` that
    no surviving intent record names and that are older than
    ``reclaim_reserved_after_s`` are deleted (see
    :func:`reclaim_reserved_manifests`); pass ``None`` to skip."""
    txn_dir = catalog.fs.join(catalog.warehouse, "_txn")
    processed = []
    if catalog.fs.isdir(txn_dir):
        for name in sorted(catalog.fs.listdir(txn_dir)):
            if not (name.startswith("txn-") and name.endswith(".json")):
                continue
            path = catalog.fs.join(txn_dir, name)
            try:
                record = json.loads(catalog.fs.read_text(path))
                record["flips"]  # torn if absent
            except FileNotFoundError:
                continue  # live commit finished and consumed its record
            except (ValueError, KeyError, TypeError):
                # Torn record: write_exclusive creates the file before
                # writing content, so a crash in that window leaves an
                # empty/truncated txn-*.json. The commit point was never
                # durably reached — there is nothing to roll forward —
                # but it must not wedge recovery of the OTHER records.
                # Report it, and age-gate-delete it (a fresh torn file
                # may be a live commit mid-write; the reserved manifests
                # it would have named age out via reclaim regardless).
                rec = {"path": path, "torn": True, "flips": [], "unresolved": []}
                try:
                    age = time.time() - catalog.fs.mtime(path)
                    if (
                        reclaim_reserved_after_s is not None
                        and age >= reclaim_reserved_after_s
                    ):
                        catalog.fs.remove(path)
                        rec["removed"] = True
                except FileNotFoundError:
                    continue  # the live writer finished (or removed) it
                processed.append(rec)
                continue
            unresolved = []
            for flip in record["flips"]:
                t = LakeTable(catalog.spark, flip["location"], fs=catalog.fs)
                manifest = catalog.fs.join(t.meta_dir, f"v{flip['version']}.json")
                if t.exists() and t.current_version() >= flip["version"]:
                    continue  # flip already applied (manifest may since
                    # have been expired by snapshot retention)
                if not catalog.fs.exists(manifest):
                    # can neither apply nor confirm — table dropped,
                    # renamed, or manifest lost
                    unresolved.append(flip)
                    continue
                if not t.exists():
                    # table created INSIDE the interrupted transaction:
                    # the v0 manifest is reserved but _current was never
                    # written — completing the flip IS creating it
                    if flip["parent"] is None:
                        catalog.fs.replace_atomic(
                            catalog.fs.join(t.meta_dir, "_current"),
                            str(flip["version"]),
                        )
                    else:
                        unresolved.append(flip)
                    continue
                if t.current_version() == flip["parent"]:
                    catalog.fs.replace_atomic(
                        catalog.fs.join(t.meta_dir, "_current"),
                        str(flip["version"]),
                    )
                # current != parent and < version: a different commit
                # superseded the parent — the staged rewrite is stale and
                # must not be force-flipped; the reserved manifest will
                # age out via reclaim. Not "unresolved": the outcome is
                # decided (this flip lost its race), record it as such.
            record = {**record, "unresolved": unresolved}
            if unresolved:
                processed.append(record)
                continue
            try:
                catalog.fs.remove(path)
            except FileNotFoundError:
                pass
            processed.append(record)
    if reclaim_reserved_after_s is not None:
        reclaim_reserved_manifests(catalog, older_than_s=reclaim_reserved_after_s)
    return processed


def reclaim_reserved_manifests(
    catalog, older_than_s: float = 3600.0, dry_run: bool = False
) -> list[str]:
    """Delete reserved ``v{N}.json`` manifests that leaked from a commit
    that crashed BEFORE its intent record was written (the pre-commit-
    point window of both the transactional and the direct commit path).

    A manifest above ``_current`` is never committed state — ``_current``
    is always the table's max committed version (rollback commits a NEW
    version; branches/WAP keep their metadata in their own namespaces) —
    so it is either (a) a reservation of an IN-FLIGHT commit, (b) named
    by a surviving ``_txn`` intent record awaiting roll-forward, or
    (c) a leak. The age gate (default 1 h, far above any commit's
    reserve-to-publish window) excludes (a); intent-record flips exclude
    (b); the rest is (c) and, left in place, would make every future
    commit to that table lose its reservation race forever.

    Returns the reclaimed (or, under ``dry_run``, reclaimable) paths.
    """
    fs = catalog.fs
    keep: set[tuple[str, int]] = set()
    txn_dir = fs.join(catalog.warehouse, "_txn")
    if fs.isdir(txn_dir):
        for name in fs.listdir(txn_dir):
            if not (name.startswith("txn-") and name.endswith(".json")):
                continue
            try:
                rec = json.loads(fs.read_text(fs.join(txn_dir, name)))
            except FileNotFoundError:
                continue
            except ValueError:
                # torn record (crash between create and content write):
                # names nothing, so it protects nothing — the manifests
                # its commit reserved are exactly the leak this GC exists
                # for. recover_transactions reports/ages-out the record.
                continue
            for flip in rec.get("flips", []):
                keep.add((flip["location"], flip["version"]))
    now = time.time()
    reclaimed: list[str] = []
    if not fs.isdir(catalog.warehouse):
        return reclaimed
    for schema in sorted(fs.listdir(catalog.warehouse)):
        sdir = fs.join(catalog.warehouse, schema)
        if schema == "_txn" or not fs.isdir(sdir):
            continue
        for tname in sorted(fs.listdir(sdir)):
            loc = fs.join(sdir, tname)
            meta = fs.join(loc, "metadata")
            if not fs.isdir(meta):
                continue
            cur_path = fs.join(meta, "_current")
            try:
                current = int(fs.read_text(cur_path).strip())
            except FileNotFoundError:
                # no _current at all: every v*.json here is either a
                # mid-creation reservation (age gate) or a leak from a
                # crashed CREATE
                current = -1
            for mname in sorted(fs.listdir(meta)):
                m = re.fullmatch(r"v(\d+)\.json", mname)
                if not m or int(m.group(1)) <= current:
                    continue
                if (loc, int(m.group(1))) in keep:
                    continue
                mpath = fs.join(meta, mname)
                try:
                    if now - fs.mtime(mpath) < older_than_s:
                        continue
                    reclaimed.append(mpath)
                    if not dry_run:
                        fs.remove(mpath)
                except FileNotFoundError:
                    continue  # concurrent rollback/reclaim got it first
    return reclaimed
