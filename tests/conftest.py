from __future__ import annotations

import pytest

from big_data_trend_analysis_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"

#: Marks the default ``-m`` of pyproject's addopts leaves out; the
#: terminal summary says how many tests it deselected.
OPT_IN_MARKS = ("parity", "slow")
_OPT_IN_DESELECTED = pytest.StashKey[int]()


def pytest_deselected(items):
    for item in items:
        if any(item.get_closest_marker(m) for m in OPT_IN_MARKS):
            stash = item.config.stash
            stash[_OPT_IN_DESELECTED] = stash.get(_OPT_IN_DESELECTED, 0) + 1


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    addopts = config.getini("addopts")
    default = addopts[addopts.index("-m") + 1] if "-m" in addopts else None
    n = config.stash.get(_OPT_IN_DESELECTED, 0)
    if n and config.getoption("markexpr") == default:
        terminalreporter.write_line(
            f"{n} parity/slow tests deselected by the default "
            f"-m {default!r}; run them with -m parity, -m slow or -m ''"
        )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("bdta-tests", master="local[4]")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
