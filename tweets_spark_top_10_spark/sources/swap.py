"""Whole-directory publish for maintained tables: stage → aside → live.

The maintained Misra-Gries summaries (``streaming/heavy_hitters``) are
the only owner: each summary table is replaced as a whole directory:

1. ``write(<path>__stage)`` produces the new content;
2. the live dir is renamed to ``<path>__old``;
3. the stage is renamed to ``<path>``;
4. the aside is deleted.

A crash leaves one of three on-disk states, and :func:`recover` maps
each back to a single live copy: only the aside exists (crash between
the two renames) — it is the only valid state, restore it; live and
aside both exist (crash before the aside was deleted) — live is the new
state, drop the aside; a stage exists — it is half-written or was never
published, drop it.  Recovery must run before a caller first checks
for, reads or writes the live dir: a merge that reads an empty live dir
before recovering silently drops the state it was meant to extend.

A foreachBatch caller passes its ``batch_id`` to :func:`swap_in`, which
stamps it inside the stage so the marker publishes atomically with the
state it describes; :func:`already_merged` then turns the at-least-once
redelivery of that batch into a no-op.
"""

from __future__ import annotations

import os
import shutil

_BATCH_MARKER = "_mg_last_batch_id"


def _stage_and_aside(path: str) -> tuple[str, str]:
    base = path.rstrip("/")
    return base + "__stage", base + "__old"


def recover(path: str) -> bool:
    """Restore or clean up after a crashed swap; True when live state
    exists at ``path`` afterwards."""
    staging, aside = _stage_and_aside(path)
    if os.path.exists(aside):
        if not os.path.exists(path):
            os.rename(aside, path)
        else:
            shutil.rmtree(aside)
    if os.path.exists(staging):
        shutil.rmtree(staging)
    return os.path.exists(path)


def swap_in(path: str, write, batch_id: int | None = None) -> None:
    """Replace the live dir at ``path`` with whatever ``write(staging)``
    produced, stamping ``batch_id`` (when given) inside it first."""
    staging, aside = _stage_and_aside(path)
    recover(path)
    write(staging)
    if batch_id is not None:
        with open(os.path.join(staging, _BATCH_MARKER), "w") as fh:
            fh.write(str(int(batch_id)))
    if os.path.exists(path):
        os.rename(path, aside)
    os.rename(staging, path)
    if os.path.exists(aside):
        shutil.rmtree(aside)


def already_merged(path: str, batch_id: int | None) -> bool:
    """True when ``batch_id`` is the last batch published into ``path``
    (call after :func:`recover`).

    Equality, not ``<=``: within one checkpoint ids are monotonic and
    the only redelivery Structured Streaming performs is the last
    committed id, so ``==`` covers the crash-replay window, while
    ``<=`` would discard the first batches of a new checkpoint pointed
    at existing state (fresh checkpoints restart ids at 0).  Residual
    caveat, shared with Spark's documented batchId-dedup pattern: a new
    checkpoint whose first id equals the stored marker skips that one
    batch — delete the state (or the marker file) when re-pointing a
    stream at old state."""
    if batch_id is None:
        return False
    marker = os.path.join(path, _BATCH_MARKER)
    if not os.path.exists(marker):
        return False
    with open(marker) as fh:
        return int(batch_id) == int(fh.read().strip())
