import datetime as dt
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from financial_data_ingestion_pipeline_spark.schemas import WAREHOUSE_SCHEMA  # noqa: E402
from financial_data_ingestion_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="fdip-tests",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS) * 2,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def tick(sym: str, ts: str, price: float):
    """One warehouse-schema tick row (fixed quote fields)."""
    t = dt.datetime.fromisoformat(ts)
    return (sym, t, price, 5.0, 1000.0, price - 0.5, 10.0, price + 0.5, 12.0)


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    """Warehouse-schema parquet landing dir with duplicate ticks."""
    root = tmp_path_factory.mktemp("stream_landing")
    rows = []
    for sym, base in (("ALPHA", 100.0), ("BETA", 50.0)):
        for h in (9, 10):
            for i in range(6):
                rows.append(tick(sym, f"2022-04-04 {h:02d}:{i*7:02d}:00", base + h + i))
    dup = tick("ALPHA", "2022-04-04 09:00:00", 109.0)  # exact key duplicate
    df = spark.createDataFrame(rows + [dup, dup], schema=WAREHOUSE_SCHEMA)
    df.coalesce(2).write.mode("overwrite").parquet(str(root))
    return str(root)
