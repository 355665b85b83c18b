"""Multi-table atomic transactions over LakeTables.

Reference analog: ``PostgresDB.execute_transaction``
(``system/system/database_connections/pg_db.py:440-475``) runs N
operations in one database transaction. The lake commits per table, so a
multi-table change (e.g. the J5 FK-CASCADE delete: parent delete + child
tombstones) needs its own protocol. This is the classic two-phase
pointer swap with a roll-forward intent log — the same shape an Iceberg
catalog uses for multi-table commits:

1. **Stage**: ``txn.stage(table)`` enlists a table, and each operation
   on it runs fully (data files + next manifest written) but the
   table's ``meta/_current`` pointer is NOT flipped — readers keep the
   old snapshot.
2. **Commit point**: one intent file listing every (table, version) is
   atomically written to the transaction log dir.
3. **Publish**: each pointer is flipped; the intent file is removed.

Crash before the intent write → nothing published; the staged manifests
are inert (the next commit simply overwrites them). Crash after →
``recover()`` rolls every listed pointer FORWARD, so the transaction is
all-or-nothing across tables. Readers between publish flips can observe
one table new / one old for an instant — per-table snapshot isolation is
preserved; cross-table atomicity is crash-atomic, as with any catalog
that swaps pointers sequentially.

Single-writer per table is assumed (as elsewhere in the lake); the
intent log dir is the coordinator.

This module owns the pointer protocol of a staged commit:
``begin_staged`` holds a table's pointer back, ``publish_staged`` flips
it and ``abort_staged`` discards the staged manifests. A one-table
staged commit with no intent log (``lake.wap.audit_staged``) and
``LakeTransaction`` are the two users.
"""

from __future__ import annotations

import json
import os
import uuid

from tiger_etl_spark.lake.table import LakeTable, _atomic_write


def begin_staged(table: LakeTable) -> LakeTable:
    """Open a staged commit on `table`: its commits write their
    manifests but withhold the pointer flip until ``publish_staged`` or
    ``abort_staged`` ends the deferral. Returns `table`."""
    table._defer_pointer = True
    return table


def publish_staged(table: LakeTable) -> None:
    """Publish `table`'s staged snapshot: the atomic pointer flip to the
    handle's version, then the end of the deferral. A crash before the
    flip leaves the staged manifest inert; the next commit overwrites
    it."""
    LakeTable._write_pointer(table.path, table.manifest["version"])
    table._defer_pointer = False


def abort_staged(table: LakeTable) -> int:
    """Discard `table`'s staged (written but unpublished) snapshots:
    end the pointer deferral, delete the manifests above the published
    pointer and reload the handle at the published state. Readers never
    saw the staged state. Its data files become unreferenced orphans —
    harmless: the next commit reuses the version slots and ``vacuum``
    removes the files. Returns the published version."""
    table._defer_pointer = False
    with open(os.path.join(table.path, "meta", "_current")) as f:
        published = int(f.read().strip())
    for v in range(published + 1, table.manifest["version"] + 1):
        mp = os.path.join(table.path, "meta", f"v{v}.json")
        if os.path.exists(mp):
            os.remove(mp)
    fresh = LakeTable.load(table.path)
    table.manifest, table._seg_cache = fresh.manifest, fresh._seg_cache
    return published


class LakeTransaction:
    def __init__(self, txn_dir: str):
        self.txn_dir = txn_dir
        os.makedirs(txn_dir, exist_ok=True)
        self._tables: list[LakeTable] = []
        self._done = False

    def stage(self, table: LakeTable) -> LakeTable:
        """Enlist `table`: every commit on it until ``commit`` or
        ``abort`` is staged (manifest written, pointer held back).
        Returns `table`, as in ``txn.stage(t).merge(spark, batch)``."""
        if table not in self._tables:
            self._tables.append(begin_staged(table))
        return table

    # ----------------------------------------------------------- lifecycle
    def commit(self) -> None:
        """Atomically publish every staged table's snapshot (see module
        docstring for the crash windows)."""
        if self._done:
            raise RuntimeError("transaction already finished")
        intent_path = os.path.join(self.txn_dir, f"txn-{uuid.uuid4().hex}.json")
        intent = {
            "tables": [
                {"path": t.path, "version": t.manifest["version"]}
                for t in self._tables
            ]
        }
        _atomic_write(intent_path, json.dumps(intent))  # ← COMMIT POINT
        for t in self._tables:
            publish_staged(t)
        os.remove(intent_path)
        self._done = True

    def abort(self) -> None:
        """Discard staged state: pointers were never flipped, so readers
        saw nothing (see ``abort_staged``)."""
        if self._done:
            return
        for t in self._tables:
            abort_staged(t)
        self._done = True

    def __enter__(self) -> "LakeTransaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit()
        else:
            self.abort()

    # ----------------------------------------------------------- recovery
    @staticmethod
    def _roll_forward(intent: dict) -> None:
        for entry in intent["tables"]:
            cur_path = os.path.join(entry["path"], "meta", "_current")
            with open(cur_path) as f:
                published = int(f.read().strip())
            if published < entry["version"]:
                LakeTable._write_pointer(entry["path"], entry["version"])

    @staticmethod
    def recover(txn_dir: str) -> int:
        """Roll forward any committed-but-unpublished transactions (run
        at startup, like checkpoint recovery). Returns the number of
        intents applied. Idempotent: already-published pointers are left
        alone."""
        if not os.path.isdir(txn_dir):
            return 0
        n = 0
        for fn in sorted(os.listdir(txn_dir)):
            if not (fn.startswith("txn-") and fn.endswith(".json")):
                continue
            p = os.path.join(txn_dir, fn)
            with open(p) as f:
                intent = json.load(f)
            LakeTransaction._roll_forward(intent)
            os.remove(p)
            n += 1
        return n
