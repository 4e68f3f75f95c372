"""Cross-table atomic publish for KeyedTables — the warehouse-level
commit the reference's per-sink transactions approximate: one DWS
micro-batch updates several serving tables, and a crash between their
individual commits must not leave a reader seeing table A's new batch
next to table B's old one.

Two-phase with ROLL-FORWARD recovery (the same intent-journal shape as
a filesystem redo log or Iceberg's multi-table catalog commit):

  1. PREPARE — every table's next snapshot is written as an UNCOMMITTED
     version dir + manifest (``KeyedTable.prepare``): full data on disk,
     CURRENT untouched, invisible to readers and to ``_history`` (which
     only trusts HISTORY + CURRENT).
  2. INTENT — one journal file listing (table path, version) pairs is
     written and fsync-renamed into place.  This is the commit point.
  3. FLIP — each table's CURRENT pointer flips to its prepared version
     (the same atomic tmp+rename every normal merge uses).
  4. CLEAN — the journal is removed.

Crash before INTENT: no journal → nothing flips; orphan version dirs
are GC'd by each table's next commit.  Crash after INTENT: the journal
survives, and ``recover()`` (called by ``publish_all`` and safe to call
at every pipeline start) re-applies the remaining flips — readers see
either no table flipped or, after recovery, all of them.  If a flip
CONFLICTS instead (a concurrent single-table commit slipped into the
check→journal window), the journal's recorded pre-flip ``prev``
pointers roll the applied flips BACK, the journal is removed, and
``CommitConflictError`` propagates — all-or-nothing holds in either
direction and the warehouse is never wedged on an unfinishable
journal.  Flink's
equivalent is the checkpoint-coordinated two-phase-commit sink
(TwoPhaseCommitSinkFunction); Spark-side this is the batch-boundary
restatement of the same idea.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .upsert import CommitConflictError, KeyedTable


def _flip(table_path: str, version: str) -> None:
    # optimistic-concurrency check: a staged manifest records the
    # snapshot version it was computed against — if CURRENT moved since
    # (e.g. a normal commit interleaved between staging and the intent
    # journal), flipping would drop the interleaved writer's buckets.
    with open(KeyedTable.manifest_path_of(table_path, version)) as fh:
        base = json.load(fh)["base"]
    cur = KeyedTable.current_pointer_of(table_path)
    if cur != base:
        raise CommitConflictError(
            f"table {table_path}: staged version {version!r} was "
            f"computed against snapshot {base!r} but CURRENT "
            f"is now {cur!r} — the publish lost the race; restage "
            "against the new snapshot"
        )
    cur = os.path.join(table_path, "CURRENT")
    tmp = f"{cur}.tmp_txn_{version}"
    with open(tmp, "w") as fh:
        fh.write(version)
    os.replace(tmp, cur)
    with open(os.path.join(table_path, "HISTORY"), "a") as fh:
        fh.write(version + "\n")
    # the version is committed (manifest-referenced) now — drop the
    # staging sentinel that protected it from GC before the flip
    sentinel = os.path.join(table_path, version, "_STAGED")
    if os.path.exists(sentinel):
        os.remove(sentinel)


def _unflip(table_path: str, version: str, prev: str | None) -> None:
    """Reverse one ``_flip``: restore the previous CURRENT pointer, drop
    the HISTORY line the flip appended (atomic rewrite), and re-mark the
    version dir ``_STAGED`` so the staged-dir GC ages it out normally."""
    cur = os.path.join(table_path, "CURRENT")
    if prev is None:
        if os.path.exists(cur):
            os.remove(cur)
    else:
        tmp = f"{cur}.tmp_untxn_{version}"
        with open(tmp, "w") as fh:
            fh.write(prev)
        os.replace(tmp, cur)
    hist = os.path.join(table_path, "HISTORY")
    if os.path.exists(hist):
        with open(hist) as fh:
            lines = fh.read().splitlines()
        for i in range(len(lines) - 1, -1, -1):
            if lines[i] == version:
                del lines[i]
                break
        tmp_h = f"{hist}.tmp_untxn_{version}"
        with open(tmp_h, "w") as fh:
            fh.write("".join(ln + "\n" for ln in lines))
        os.replace(tmp_h, hist)
    vdir = os.path.join(table_path, version)
    if os.path.isdir(vdir):
        with open(os.path.join(vdir, "_STAGED"), "w"):
            pass


class _RollForwardImpossible(RuntimeError):
    """A journaled flip can neither be verified nor re-applied."""


class TableTxn:
    """Atomic all-or-nothing publish across multiple KeyedTables rooted
    under one warehouse directory (where the journal lives)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _journal(self) -> str:
        return os.path.join(self.root, "TXN_INTENT")

    def recover(self) -> bool:
        """Roll forward an interrupted publish.  Returns True if a
        journal was found and completed.

        If roll-forward hits an OCC conflict (a concurrent single-table
        merge flipped CURRENT between the publisher's conflict check and
        its journal write — the unavoidable check→journal window) or a
        missing staged dir, the publish is rolled BACK instead: every
        already-applied flip is reversed via the journal's recorded
        ``prev`` pointers, the journal is removed, and
        ``CommitConflictError`` propagates — readers see NONE of the
        publish, atomicity holds, and the warehouse is immediately
        usable (no wedged journal).  Only when neither direction can
        restore atomicity (a table's CURRENT moved beyond both the
        journaled version and its predecessor) does the journal stay in
        place and every later publish keep failing loud."""
        j = self._journal()
        if not os.path.exists(j):
            return False
        with open(j) as fh:
            entries = json.load(fh)
        try:
            self._apply_flips(entries)
        except (CommitConflictError, _RollForwardImpossible) as exc:
            self._roll_back(entries, exc)  # always raises
        os.remove(j)
        return True

    @staticmethod
    def _apply_flips(entries: list[dict]) -> None:
        for e in entries:
            cur = KeyedTable.current_pointer_of(e["path"])
            if cur == e["version"]:
                continue  # this flip already happened
            if not os.path.exists(os.path.join(e["path"], e["version"])):
                raise _RollForwardImpossible(
                    f"journaled version {e['version']!r} for table "
                    f"{e['path']!r} is missing and CURRENT does not point "
                    "at it"
                )
            _flip(e["path"], e["version"])

    def _roll_back(self, entries: list[dict], cause: Exception) -> None:
        """All-or-NOTHING: reverse every applied flip, drop the journal,
        raise.  Only entries whose CURRENT equals the journaled version
        actually flipped (a landed journal blocks normal merges, so any
        other CURRENT value predates the commit point and is someone
        else's legitimate commit — nothing of ours to reverse there);
        a flipped entry is reversed via the journal's recorded ``prev``
        pointer.  Reversibility is verified for EVERY entry before any
        is touched, so the rollback itself is never left half-done by a
        precondition failure."""
        flipped = [
            e
            for e in entries
            if KeyedTable.current_pointer_of(e["path"]) == e["version"]
        ]
        for e in flipped:
            if "prev" not in e:
                raise RuntimeError(
                    f"TableTxn: cannot roll forward ({cause}) and cannot "
                    f"roll back (table {e['path']} flipped to "
                    f"{e['version']!r} but the journal carries no "
                    "predecessor pointer); cross-table atomicity cannot "
                    "be restored automatically — the intent journal was "
                    "left in place."
                ) from cause
        for e in flipped:
            _unflip(e["path"], e["version"], e.get("prev"))
        os.remove(self._journal())
        raise CommitConflictError(
            "cross-table publish lost a race to a concurrent commit after "
            "its intent journal landed; every already-applied flip was "
            "rolled back (readers saw none of the publish) — restage and "
            f"retry. Cause: {cause}"
        ) from cause

    def publish_all(
        self, updates: dict[KeyedTable, DataFrame], spark: SparkSession | None = None
    ) -> None:
        """MERGE every table's batch and commit all results atomically.

        Each table's merge result is computed with the NORMAL merge
        logic but staged uncommitted (``prepare_merge``); the intent
        journal then makes the set of flips all-or-nothing under
        roll-forward recovery."""
        self.recover()  # never stack a new txn on an unfinished one
        prepared: list[dict] = []
        for table, batch in updates.items():
            sp = spark or batch.sparkSession
            version = table.prepare_merge(sp, batch)
            prepared.append({"path": table.path, "version": version})
        # conflict check BEFORE the commit point: once the journal lands,
        # recovery must always be able to roll forward, so a publish that
        # lost a race to an interleaved commit aborts HERE (staged dirs
        # age out via their _STAGED sentinels) instead of journaling a
        # flip that would drop the winner's buckets.
        for table, e in zip(updates, prepared):
            base = table._load_manifest(e["version"])["base"]
            if table._current_version() != base:
                raise CommitConflictError(
                    f"table {table.path}: snapshot {base!r} was "
                    "superseded while the publish was staging — re-read "
                    "and retry the whole publish"
                )
        # record each table's pre-flip CURRENT in the journal: if a
        # concurrent commit slips into the check→journal window above,
        # _flip's OCC check fires AFTER the commit point — the recorded
        # `prev` pointers are what let _roll_back reverse the applied
        # flips instead of wedging the warehouse on an unfinishable
        # journal (the old behavior: partially flipped tables + recover()
        # re-raising forever).
        for e in prepared:
            e["prev"] = KeyedTable.current_pointer_of(e["path"])
        tmp = self._journal() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(prepared, fh)
        os.replace(tmp, self._journal())  # commit point
        try:
            for e in prepared:
                _flip(e["path"], e["version"])
        except CommitConflictError as exc:
            self._roll_back(prepared, exc)  # always raises
        os.remove(self._journal())
