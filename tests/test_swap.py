"""Crash recovery of the whole-directory swap (``sources/swap.py``).

A crash between the swap's two renames leaves the only valid state in
``<path>__old``; a crash after them but before the aside is deleted
leaves ``<path>__old`` beside the new live dir.  Each maintained table
must recover before it first checks for, reads or writes its directory,
or it merges against an empty table, publishes a partial one, or fails
its own rename.
"""

from __future__ import annotations

import os

import pytest


def _make(path, name: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as fh:
        fh.write(name)


@pytest.mark.parametrize(
    "dirs, survivor",
    [
        ({"__old": "old"}, "old"),  # crash between the two renames
        ({"": "new", "__old": "old"}, "new"),  # crash before the aside delete
        ({"": "live", "__stage": "half"}, "live"),  # crash mid stage write
    ],
    ids=["aside_only", "live_and_aside", "live_and_stage"],
)
def test_recover_restores_one_live_dir(tmp_path, dirs, survivor):
    from tweets_spark_top_10_spark.sources.swap import recover

    path = str(tmp_path / "t")
    for suffix, name in dirs.items():
        _make(path + suffix, name)
    assert recover(path)
    assert os.listdir(path) == [survivor]
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_swap_in_publishes_marker_and_keeps_live_on_failed_write(tmp_path):
    from tweets_spark_top_10_spark.sources.swap import already_merged, recover, swap_in

    path = str(tmp_path / "t")
    assert not recover(path)
    swap_in(path, lambda staging: _make(staging, "v1"), batch_id=7)
    assert already_merged(path, 7) and not already_merged(path, 8)
    assert not already_merged(path, None)

    def failing(staging: str) -> None:
        _make(staging, "partial")
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError):
        swap_in(path, failing, batch_id=8)
    assert sorted(os.listdir(path)) == ["_mg_last_batch_id", "v1"]
    assert recover(path)
    assert sorted(os.listdir(tmp_path)) == ["t"]
