from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_FULL_TIER_FILE = os.path.join(os.path.dirname(__file__), "full_tier.txt")


def _full_tier_ids() -> set[str]:
    ids: set[str] = set()
    try:
        with open(_FULL_TIER_FILE) as fh:
            for line in fh:
                entry = line.split("#", 1)[0].strip()
                if entry:
                    # store without the tests/ prefix so node ids match
                    # regardless of the invocation directory
                    ids.add(entry.removeprefix("tests/"))
    except OSError:
        pass
    return ids


def pytest_collection_modifyitems(config, items):
    """r15 (VERDICT r14 ask #1): apply the `full` marker to the
    measured heavy tail listed in tests/full_tier.txt. Data-driven so
    the tier can be regenerated from a --durations=0 log without
    editing dozens of test files; pytest.ini's `-m "not full"` addopts
    deselect the tier from the default run."""
    tier = _full_tier_ids()
    if not tier:
        return
    for item in items:
        nodeid = item.nodeid
        if nodeid.startswith("tests/"):
            nodeid = nodeid.removeprefix("tests/")
        if nodeid in tier:
            item.add_marker(pytest.mark.full)


_deselected_full: list = []


def pytest_deselected(items):
    _deselected_full.extend(i for i in items if i.get_closest_marker("full"))


def pytest_report_collectionfinish(config, items):
    """Name the heavy tier a default run leaves out, so it never goes
    missing silently."""
    if _deselected_full:
        return (
            f"{len(_deselected_full)} heavy-tier (full) tests deselected; "
            'run all with: pytest tests/ -m "full or not full"'
        )


@pytest.fixture(scope="session")
def spark():
    from onehouse_demos_spark import get_spark

    s = get_spark(app_name="onehouse-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmp_base():
    d = tempfile.mkdtemp(prefix="oh_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
