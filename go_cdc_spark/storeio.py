"""Crash-safe parquet store swap, shared by every driver-side store
(materializer state, checkpoint meta, txn-gate pending store).

Pattern: write the new contents to a ``.tmp-`` sibling, demote the live
dir to ``.old-``, promote the tmp, sweep the old. A crash between the
two renames leaves only the ``.old-`` dir; :func:`recover` promotes it
back, losing at most the batch in flight — which the streaming
checkpoint redelivers. Redelivery is safe in one of two ways: the
consumer's merge is idempotent (max-pos latest-wins / keyed upsert),
OR the consumer is replay-GUARDED — non-idempotent folds (IVM deltas,
SCD2 interval derivation) pass ``batch_id`` so the swap stamps the
applied batch atomically with the state (``_applied_batch.json`` is
written into the tmp dir BEFORE the rename; parquet readers ignore
underscore files), and skip any batch at or below the stamp on replay.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid as uuidlib

from pyspark.sql import DataFrame

_MARKER = "_applied_batch.json"


def _read_stamp(path: str) -> dict | None:
    try:
        with open(os.path.join(path, _MARKER)) as f:
            stamp = json.load(f)
        if "batch_id" not in stamp:
            return None
        return stamp
    except (OSError, ValueError):
        return None


def applied_batch(path: str, run_id: str | None = None) -> int | None:
    """The replay stamp: id of the last batch folded into ``path``.

    Batch ids are only monotone WITHIN one streaming checkpoint; a
    state dir re-pointed at a fresh/reset checkpoint (ids restart at 0)
    must not let the old stamp silently skip every new batch. Callers
    that know their checkpoint identity pass it as ``run_id``: a stamp
    carrying a DIFFERENT run_id is ignored (returns None, so the new
    run folds from its first batch). Stamps without a run_id (legacy
    dirs written before run scoping) stay valid for any caller — new
    writers always stamp with one (the IVM consumers fall back to a
    per-instance id before start() knows the checkpoint), so a dir
    seeded by direct process_batch calls is never silently honored by
    an unrelated run. Corollary, stated once: re-pointing an existing
    state dir at a FRESH checkpoint makes the new run fold from batch
    0, which double-folds unless the new run's source offset also
    starts past the data already folded into the state — reattach
    state only together with its checkpoint, or reset both.
    """
    stamp = _read_stamp(path)
    if stamp is None:
        return None
    if run_id is not None and stamp.get("run_id") not in (None, run_id):
        return None
    return stamp["batch_id"]


def swap_in(
    df: DataFrame,
    path: str,
    batch_id: int | None = None,
    keep_stamp: bool = False,
    run_id: str | None = None,
) -> None:
    """Atomically replace the parquet dir at ``path`` with ``df``.

    ``batch_id`` stamps the swap for replay-guarded consumers
    (``run_id`` — normally the checkpoint dir — rides along so a later
    run under a different checkpoint ignores the stamp, see
    :func:`applied_batch`); ``keep_stamp`` carries an existing stamp
    forward for out-of-band rewrites (repair/compaction) that must not
    reopen the replay window. Crash before the rename → old state + old
    stamp (replay folds once); crash after → new stamp (replay
    skipped)."""
    stamp: dict | None = None
    if batch_id is not None:
        stamp = {"batch_id": batch_id}
        if run_id is not None:
            stamp["run_id"] = run_id
    elif keep_stamp:
        stamp = _read_stamp(path)
    tmp = f"{path}.tmp-{uuidlib.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    if stamp is not None:
        with open(os.path.join(tmp, _MARKER), "w") as f:
            json.dump(stamp, f)
    promote_tmp(tmp, path)


def _require_local(path: str) -> None:
    """The swap protocol is built on POSIX directory rename — atomic,
    O(1), and exclusive. Object stores (s3/gs/abfs/...) emulate rename
    as copy+delete: neither atomic (a reader can see BOTH dirs, or
    neither) nor cheap (O(bytes)), so the crash contract silently
    breaks. Refuse loudly instead of corrupting state at 3am — on an
    object-store deployment, point stores at a posix-rename filesystem
    (local disk, HDFS, EFS/NFS) or front them with a transactional
    table format; see SURVEY §7's MERGE-without-Delta stance."""
    if "://" in path:
        scheme = path.split("://", 1)[0]
        hint = (
            "pass the plain filesystem path instead"
            if scheme == "file"
            else "object-store rename is emulated copy+delete — neither "
            "atomic (a reader can see both dirs, or neither) nor O(1). "
            "Point engine state, meta, and pending stores at a "
            "posix-rename filesystem (local disk, HDFS, NFS/EFS)"
        )
        raise ValueError(
            f"storeio requires a posix-rename filesystem; got {scheme!r} "
            f"URI {path!r}: {hint}."
        )


def promote_tmp(tmp: str, path: str) -> None:
    """The two-rename promotion shared by every swap flavor: demote the
    live dir to ``.old-``, promote ``tmp``, sweep the old. Callers that
    write their tmp dir WITHOUT Spark (driver-side pyarrow stores) get
    the identical crash window: a crash between the renames leaves only
    ``.old-``, which :func:`recover` promotes back. POSIX rename is the
    load-bearing primitive — non-local URIs are refused loudly
    (:func:`_require_local`)."""
    _require_local(path)
    if os.path.exists(path):
        old = f"{path}.old-{uuidlib.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(tmp, path)


def _siblings(path: str, kind: str) -> list[str]:
    d = os.path.dirname(path) or "."
    base = os.path.basename(path) + f".{kind}-"
    if not os.path.isdir(d):
        return []
    return sorted(os.path.join(d, n) for n in os.listdir(d) if n.startswith(base))


def recover(path: str) -> None:
    """Promote a demoted ``.old-`` store back if a torn swap left no
    live dir; sweep stale ``.tmp-``/``.old-`` leftovers either way."""
    olds = _siblings(path, "old")
    if not os.path.exists(path) and olds:
        os.rename(olds[-1], path)
        olds = olds[:-1]
    for stale in olds + _siblings(path, "tmp"):
        shutil.rmtree(stale, ignore_errors=True)
