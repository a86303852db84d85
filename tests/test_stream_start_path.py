"""Every streaming query in the engine starts through ``streaming/sinks.py``,
and every whole-directory swap goes through ``sources/swap.py``.

``sinks.start_query`` sizes a query's stateful shuffle to the cores when it
starts; a ``writeStream`` anywhere else in the package would start a query
at the session's batch default instead.  ``swap.recover`` is the one crash
recovery for the ``__stage``/``__old`` directories; a second copy of the
suffixes is a second protocol that can drift from it.
"""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "tweets_spark_top_10_spark"
START_PATH = PACKAGE / "streaming" / "sinks.py"
SWAP_OWNERS = {PACKAGE / "sources" / "swap.py"}


def test_write_stream_only_in_sinks():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != START_PATH
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.writeStream\b", line)
    ]
    assert not offenders, f"start these through streaming.sinks: {offenders}"
    assert ".writeStream" in START_PATH.read_text()


def test_swap_suffixes_only_in_swap_owners():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path not in SWAP_OWNERS
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"""["'](__stage|__old)["']""", line)
    ]
    assert not offenders, f"swap directories through sources.swap: {offenders}"
    assert '"__stage"' in (PACKAGE / "sources" / "swap.py").read_text()
