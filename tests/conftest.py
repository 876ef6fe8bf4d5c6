import os

import pytest

from py3dtiles_spark.session import get_spark

# the py3dtiles reference checkout: $PY3DTILES_REF, else a sibling of this repo
REFERENCE = os.environ.get("PY3DTILES_REF", os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
        __file__)))), "reference"))
REFERENCE_SKIP = "reference fixtures unavailable"


def reference_path(*parts: str) -> str:
    return os.path.join(REFERENCE, *parts)


def needs_reference(*parts: str):
    """Skip marker for a test that reads reference_path(*parts)."""
    return pytest.mark.skipif(not os.path.exists(reference_path(*parts)),
                              reason=REFERENCE_SKIP)


def pytest_terminal_summary(terminalreporter):
    # a green run without the fixtures is not a parity run: say so
    n = sum(1 for rep in terminalreporter.stats.get("skipped", [])
            if isinstance(rep.longrepr, tuple)
            and REFERENCE_SKIP in rep.longrepr[2])
    if n:
        terminalreporter.write_line(
            f"{n} tests skipped: {REFERENCE_SKIP} (PY3DTILES_REF={REFERENCE})")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("py3dtiles-spark-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()
