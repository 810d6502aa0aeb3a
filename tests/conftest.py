from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CSVB_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from csvb_spark.session import get_session

    # FAIR matches the production SERVE path (cli._session) — the
    # pgwire concurrency tests exercise per-connection pool fairness,
    # which needs it, and scheduler mode is fixed at JVM start so one
    # shared test session must pick a side. Batch sessions default to
    # FIFO (round-12 A/B: FAIR costs 4-22%/query — session.py); that
    # default is pinned by test_session_scheduler_defaults.
    s = get_session(
        app_name="csvb_spark_tests", shuffle_partitions=8, scheduler_mode="FAIR"
    )
    yield s


def _new_session(spark):
    from csvb_spark.functions import register_all

    s = spark.newSession()
    register_all(s)
    return s


@pytest.fixture()
def fresh_spark(spark):
    """A new session on the shared SparkContext, with the csvb functions
    registered. A session whose registered tables are all one cached
    partition evaluates interpreted (csv_source.choose_evaluation), and
    registry entries outlive ``dropTempView``, so a test whose
    registrations may leave every table so runs here, not on ``spark``."""
    return _new_session(spark)


@pytest.fixture(autouse=True)
def _cli_command_gets_its_own_session(monkeypatch):
    """A ``csvb`` command runs in a process of its own, so its tables
    are the only ones in its session's registry. Here ``cli.main`` gets
    a new session per command, not the shared ``spark``, whose registry
    would carry one command's tables into the next one's evaluation
    rule. A test that sets ``cli._session`` itself overrides this."""
    from pyspark.sql import SparkSession

    import csvb_spark.cli as cli

    shared = cli._session

    def own_session(args):
        s = shared(args)  # a test may stub get_session with a non-session
        return _new_session(s) if isinstance(s, SparkSession) else s

    monkeypatch.setattr(cli, "_session", own_session)


@pytest.fixture(autouse=True)
def _shared_session_stays_on_codegen(request):
    """Every test leaves the shared ``spark`` on code generation, so no
    test's evaluation mode depends on which tests ran before it."""
    yield
    if "spark" in request.fixturenames:
        from csvb_spark.sql import evaluation_mode

        mode = evaluation_mode(request.getfixturevalue("spark"))
        assert mode == "codegen", "a test left the shared session interpreted"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
