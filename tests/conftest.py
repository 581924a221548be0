import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from superstore_data_pipeline_analytics_dashboard__spark.session import get_spark

REFERENCE_CSV = "/root/reference/Project1/superstore.csv"
SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    s = get_spark(
        app_name="superstore-tests",
        master="local[8]",
        shuffle_partitions=8,
        warehouse_dir=str(tmp_path_factory.mktemp("warehouse")),
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def reference_csv():
    """The reference CSV's path. Without the file every dependent test fails
    with one precondition message (not skipped: the BASELINE.md and
    SURVEY.md anchors stay unchecked)."""
    if not Path(REFERENCE_CSV).is_file():
        pytest.fail(
            f"precondition: the reference CSV {REFERENCE_CSV} is missing; the "
            "reference-file anchor tests need it",
            pytrace=False,
        )
    return REFERENCE_CSV


@pytest.fixture(scope="session")
def superstore_layers(spark, reference_csv):
    """The full reference-CSV pipeline, built once per test session."""
    from superstore_data_pipeline_analytics_dashboard__spark.plans import (
        superstore_pipeline as P,
    )

    return P.run(spark, reference_csv)
