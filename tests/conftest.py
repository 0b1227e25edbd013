import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from textchunking_and_knowledgegraph_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="tckg-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def pytest_terminal_summary(terminalreporter):
    """Reference-pinned tests skip without a reference checkout; name that
    in the summary so the skips are never read as evidence."""
    n = sum(
        1 for rep in terminalreporter.stats.get("skipped", [])
        if isinstance(rep.longrepr, tuple) and "reference" in rep.longrepr[2]
    )
    if n:
        terminalreporter.write_line(f"reference pins: not exercised ({n} skipped)")
