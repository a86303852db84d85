"""Every streaming query in the engine starts through ``streaming/sinks.py``.

``sinks.start_query`` sizes a query's stateful shuffle to the cores when it
starts; a ``writeStream`` anywhere else in the package would start a query
at the session's batch default instead.
"""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "tweets_spark_top_10_spark"
START_PATH = PACKAGE / "streaming" / "sinks.py"


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
