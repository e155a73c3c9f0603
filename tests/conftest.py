import pytest

from data_quality_monitoring_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="dqm_tests",
        cores=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    # a catalog table outlives the run under ./spark-warehouse; every test
    # that makes one must drop it
    left = [
        f"{db.name}.{t.name}"
        for db in s.catalog.listDatabases()
        for t in s.catalog.listTables(db.name)
        if not t.isTemporary
    ]
    assert not left, f"tests left catalog tables behind: {left}"
