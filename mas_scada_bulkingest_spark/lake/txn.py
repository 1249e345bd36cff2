"""Multi-table atomic transactions over staged (write-audit-publish) epochs.

A single-table MERGE commit is atomic, but a CDC deployment routinely keeps
SEVERAL tables mutually consistent per source epoch: the facts table plus a
registry dimension, a projection index, or a routed fan-out. The reference
has the miniature (non-atomic) analog — it registers devices AND uploads
their rows in one cycle with nothing tying the two together
(Connector.java:136-146, Device.java:120-170); a crash between them leaves a
registered device with no data, repaired only by the next cycle. Lakehouse
catalogs grew real multi-table commits for exactly this gap (Iceberg
REST-catalog multi-table transactions, Project Nessie's commit tree).

Spark-first form here, built from the two primitives this engine already
trusts: per-table **staged snapshots** (write-audit-publish — the full merge
is materialized but invisible and uncommitted) and the **hard-link
create-exclusive CAS** used by every snapshot commit. The transaction is a
presumed-abort two-phase commit whose decision record is one manifest file:

1. **stage** — each participant table runs its full merge with
   ``stage=True`` (``apply_changes`` / ``merge_changes``). Nothing is
   visible; the epoch is not committed; a crash leaves only
   vacuum-reclaimable orphans.
2. **decide** — ONE manifest ``txn-<id>.json`` listing every
   ``(table_path, staged_ref, epoch_id)`` is hard-linked into the
   transaction log directory (atomic create-exclusive, fsync'd — the same
   durability contract as a snapshot commit). Before this instant the
   transaction is PENDING and presumed aborted; from this instant it is
   COMMITTED and *will* complete.
3. **publish** — ``publish_staged`` per participant, in enlist order.
   Publish is idempotent (an already-committed epoch no-ops) and
   merge-on-read stages REBASE over commits that landed in between, so
   completion can be retried from the manifest any number of times.
   When every participant has published, the manifest is renamed to
   ``txn-<id>.done.json`` (atomic; pure bookkeeping — recovery re-running
   a completed transaction is all no-ops).

Crash matrix (:func:`recover` is the single repair entry point):

========================================  =====================================
crash point                               outcome
========================================  =====================================
during stage                              no manifest → presumed abort; staged
                                          refs + files are orphans, reclaimed
                                          by ``abort_staged``/``vacuum``
after decide, before/during publish       ``recover()`` re-publishes the
                                          remainder from the manifest
after all publishes, before done-rename   ``recover()`` re-runs (all no-op)
                                          and renames
========================================  =====================================

Isolation: each table's readers never observe a partial epoch (staged bytes
are invisible by construction). CROSS-table visibility is sequential during
the publish phase — a reader racing the commit can see participant A's
epoch before participant B's for a moment (read-committed, not snapshot
isolation across tables; Nessie's single commit tree is the design that
removes even that window, at the price of one shared catalog for all
tables). Durability of the *decision* is the manifest, so that window never
ends in divergence: either every participant's epoch eventually commits, or
(no manifest) none does.

Concurrency caveat, stated plainly: copy-on-write stages cannot rebase —
an intervening commit on a CoW participant makes its publish raise
:class:`~.snapshot_table.ConcurrentCommitError` and the transaction sticks
in COMMITTED until the stage is rebuilt (``abort_staged`` + re-stage with
the SAME epoch id, then ``recover()``). Multi-table transactions under
concurrent writers should use merge-on-read participants, which is the
engine's scale default anyway.
"""

from __future__ import annotations

import json
import os
import uuid

from .snapshot_table import MergeStats, SnapshotTable, _durable_write

__all__ = ["MultiTableTransaction", "TransactionError", "recover"]


class TransactionError(RuntimeError):
    """Transaction protocol violation (duplicate id, enlist after decide,
    missing stage at decide time)."""


def _manifest_name(txn_id: str) -> str:
    return f"txn-{txn_id}.json"


class MultiTableTransaction:
    """One atomic commit spanning staged epochs on several tables.

    Usage::

        txn = MultiTableTransaction(log_dir)
        st_a = apply_changes(table_a, batch_a, epoch_id=e, stage=True)
        st_b = apply_changes(table_b, batch_b, epoch_id=e, stage=True)
        txn.enlist(table_a, st_a.staged_ref)
        txn.enlist(table_b, st_b.staged_ref)
        stats = txn.commit()          # all-or-nothing across both tables

    ``txn_id`` defaults to a fresh UUID; supply one to make the decision
    record deterministic/auditable (e.g. ``f"epoch-{e}"``). Ids are
    create-exclusive in ``log_dir`` — reusing one raises rather than
    silently double-deciding.
    """

    def __init__(self, log_dir: str, txn_id: str | None = None):
        self.log_dir = log_dir
        self.txn_id = txn_id or uuid.uuid4().hex
        os.makedirs(log_dir, exist_ok=True)
        self._participants: list[tuple[SnapshotTable, str, str]] = []
        self._decided = False

    # ------------------------------------------------------------ build-up
    def enlist(self, table: SnapshotTable, staged_ref: str) -> None:
        """Add one staged epoch to the transaction. Order is publish order
        (within one table, enlist older epochs first)."""
        if self._decided:
            raise TransactionError(
                f"txn {self.txn_id}: cannot enlist after the decision record "
                "was written"
            )
        staged = table._load_staged(staged_ref)  # raises if the ref is gone
        self._participants.append(
            (table, staged_ref, str(staged["staged_epoch"]))
        )

    # ------------------------------------------------------------- control
    def commit(self) -> dict[str, MergeStats]:
        """Decide, then complete. Returns ``{f"{path}::{epoch}": stats}``.

        The atomicity point is the manifest hard-link inside
        :meth:`_decide`; everything after is idempotent completion that
        :func:`recover` can equally perform after a crash.
        """
        self._decide()
        return self._complete()

    def abort(self) -> int:
        """Presumed-abort a PENDING transaction: discard every enlisted
        stage (data files + staged marker). Refuses after the decision
        record exists — a decided transaction must complete (use
        :func:`recover`). Returns files removed."""
        if self._decided or os.path.exists(
            os.path.join(self.log_dir, _manifest_name(self.txn_id))
        ):
            raise TransactionError(
                f"txn {self.txn_id} is already decided; a committed "
                "transaction cannot abort — run recover() to complete it"
            )
        removed = 0
        for table, ref, _epoch in self._participants:
            try:
                removed += table.abort_staged(ref)
            except FileNotFoundError:
                continue  # already gone (e.g. abort retried)
        self._participants.clear()
        return removed

    # ----------------------------------------------------------- internals
    def _decide(self) -> None:
        """Write the decision record: one fsync'd manifest, hard-link
        create-exclusive (the same CAS idiom as ``_write_snapshot``)."""
        if not self._participants:
            raise TransactionError(f"txn {self.txn_id}: nothing enlisted")
        # verify every stage still exists BEFORE deciding — a decided
        # transaction with a missing stage is unrecoverable divergence,
        # a pending one with a missing stage is a plain error
        for table, ref, epoch in self._participants:
            if not os.path.exists(table._staged_path(ref)) and not (
                table.is_epoch_committed(epoch)
            ):
                raise TransactionError(
                    f"txn {self.txn_id}: staged ref {ref!r} vanished from "
                    f"{table.path} before the decision — aborting"
                )
        manifest = {
            "txn_id": self.txn_id,
            "participants": [
                {"path": t.path, "ref": ref, "epoch": epoch}
                for t, ref, epoch in self._participants
            ],
        }
        final = os.path.join(self.log_dir, _manifest_name(self.txn_id))
        try:
            # atomic decision: COMMITTED from here on
            _durable_write(final, json.dumps(manifest), exclusive=True)
        except FileExistsError:
            raise TransactionError(
                f"txn id {self.txn_id!r} already decided in {self.log_dir} "
                "— transaction ids are single-use"
            ) from None
        self._decided = True

    def _complete(self) -> dict[str, MergeStats]:
        out: dict[str, MergeStats] = {}
        for table, ref, epoch in self._participants:
            out[f"{table.path}::{epoch}"] = _publish_one(table, ref, epoch)
        final = os.path.join(self.log_dir, _manifest_name(self.txn_id))
        os.rename(final, final[: -len(".json")] + ".done.json")
        return out


def _publish_one(table: SnapshotTable, ref: str, epoch: str) -> MergeStats:
    """Idempotent single-participant completion."""
    if os.path.exists(table._staged_path(ref)):
        return table.publish_staged(ref)
    # stage already consumed: fine IFF the epoch actually committed
    # (publish removes the staged marker only after / atomically with
    # commit), otherwise the stage was lost and the decision cannot be
    # honored — loud failure, never silent divergence
    table._snapshot = table._read_current_snapshot()
    if table.is_epoch_committed(epoch):
        return MergeStats(epoch, 0, 0, 0, None, was_noop=True)
    # repair path: the prescribed fix for a lost stage is re-staging the
    # SAME epoch id — honor the decision through the replacement ref
    for other in table.staged_refs():
        if str(table._load_staged(other)["staged_epoch"]) == epoch:
            return table.publish_staged(other)
    raise TransactionError(
        f"decided transaction references staged epoch {epoch!r} (ref "
        f"{ref!r}) on {table.path}, but the stage is gone and the epoch "
        "never committed — re-stage the SAME epoch id and run recover()"
    )


def recover(spark, log_dir: str) -> list[str]:
    """Complete every decided-but-unfinished transaction in ``log_dir``.

    Run at process start (the streaming driver's restart path, or any
    maintenance entry point). For each ``txn-*.json`` decision record,
    re-publishes whatever remains (idempotent per participant) and renames
    the manifest to ``.done``. PENDING work — stages never decided — leaves
    no record here by design (presumed abort); each table's
    ``staged_refs()`` + ``abort_staged``/``vacuum`` reclaim those.

    Returns the completed txn ids, oldest manifest first (completion order
    is deterministic across crashes: participants publish in manifest
    order, manifests in mtime-then-name order).
    """
    if not os.path.isdir(log_dir):
        return []
    pending = [
        f
        for f in os.listdir(log_dir)
        if f.startswith("txn-")
        and f.endswith(".json")
        and not f.endswith(".done.json")
        and not ".tmp-" in f
    ]
    pending.sort(
        key=lambda f: (os.path.getmtime(os.path.join(log_dir, f)), f)
    )
    done: list[str] = []
    for name in pending:
        path = os.path.join(log_dir, name)
        with open(path) as f:
            manifest = json.load(f)
        for part in manifest["participants"]:
            table = SnapshotTable(spark, part["path"])
            _publish_one(table, part["ref"], str(part["epoch"]))
        os.rename(path, path[: -len(".json")] + ".done.json")
        done.append(manifest["txn_id"])
    return done
