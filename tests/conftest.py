"""Shared fixtures: one session-scoped SparkSession + a DuckDB connection
with the testdata tables registered as views (mirroring the driver)."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from kafka_streaming_spark.session import build_session
from kafka_streaming_spark.schemas import TESTDATA_TABLES

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TMP_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


def replace_rows(prior, rows):
    """An ``upsert_state`` combine that replaces each key's row."""
    return rows


class Crash(Exception):
    """The fault :func:`_arm` injects."""


def _arm(monkeypatch, owner, name, should_crash):
    """Make ``owner.name`` raise ``Crash`` at the first call whose
    arguments satisfy ``should_crash(args, calls_so_far)``."""
    inner = getattr(owner, name)
    calls: list = []

    def hooked(*args, **kwargs):
        if should_crash(args, calls):
            raise Crash(name)
        calls.append(args)
        return inner(*args, **kwargs)

    monkeypatch.setattr(owner, name, hooked)


@pytest.fixture(scope="session")
def spark():
    session = build_session(
        app_name="kss-tests",
        master="local[4]",
        shuffle_partitions=8,
        streaming=True,
        extra_conf={"spark.ui.enabled": "false", "spark.sql.warehouse.dir": f"{TMP_ROOT}/warehouse"},
    )
    yield session
    session.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture()
def tmp_table_root(request):
    path = os.path.join(TMP_ROOT, request.node.name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)
