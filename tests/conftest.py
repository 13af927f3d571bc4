import datetime
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from nyc_etl_pipeline_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The reference repo's real TLC data (public trip records), read in
# place from a checkout beside this repo by the tests marked
# ``requires_reference``; they skip where it is absent.
_REFERENCE_DATA = os.path.join(os.path.dirname(REPO_ROOT), "reference", "data")
GREEN_DIR = os.path.join(_REFERENCE_DATA, "green_data")
ZONE_CSV = os.path.join(_REFERENCE_DATA, "taxi_zone.csv")

requires_reference = pytest.mark.skipif(
    not os.path.isdir(GREEN_DIR), reason="reference green data not present"
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="nyc-etl-pipeline-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def ts(s):
    return datetime.datetime.fromisoformat(s)


@pytest.fixture(scope="session")
def green_raw(spark):
    """NYC-shaped green fixture exercising: exact duplicates (A1), null
    datetimes (P18), null IDs (Q4), out-of-2023 timestamps (Q10), an
    unseen VendorID (J3 upsert path). Columns per FIXTURES.md §1."""
    from nyc_etl_pipeline_spark.schemas import GREEN_RAW

    def row(vendor=2, pu="2023-01-05 08:00:00", do="2023-01-05 08:15:00", rate=1.0,
            pul=74, dol=75, pax=1.0, dist=2.5, fare=12.0, extra=0.5, mta=0.5,
            tip=2.0, tolls=0.0, imp=1.0, total=16.0, pay=1.0, cong=2.5):
        return (
            vendor,
            ts(pu) if pu else None,
            ts(do) if do else None,
            "N",
            rate,
            pul,
            dol,
            pax,
            dist,
            fare,
            extra,
            mta,
            tip,
            tolls,
            None,  # ehail_fee (all-null in source)
            imp,
            total,
            pay,
            1.0,
            cong,
        )

    rows = [
        row(),
        row(),  # exact duplicate -> dedup keeps one
        row(vendor=1, pu="2023-02-10 12:00:00", do="2023-02-10 12:30:00", fare=20.0, total=25.0),
        row(pu=None),  # null pickup -> dropna
        row(do=None),  # null dropoff -> dropna
        row(rate=None, pax=None, pay=None),  # null IDs -> 0 (Q4)
        row(pu="2008-12-31 23:00:00", do="2008-12-31 23:10:00"),  # out-of-2023 (Q10)
        row(vendor=6, pu="2023-03-01 09:00:00", do="2023-03-01 09:20:00"),  # unseen vendor (J3)
        row(cong=None),  # null surcharge component -> total_surcharges 0 (ref semantics)
    ]
    return spark.createDataFrame(rows, GREEN_RAW)


@pytest.fixture(scope="session")
def yellow_raw(spark):
    from nyc_etl_pipeline_spark.schemas import YELLOW_RAW

    rows = [
        (
            1,
            ts("2023-01-07 10:00:00"),
            ts("2023-01-07 10:40:00"),
            "N",
            2.0,
            132,
            230,
            2.0,
            17.0,
            52.0,
            0.0,
            0.5,
            10.0,
            6.55,
            1.0,
            71.3,
            1.0,
            2.5,
            1.25,
        ),
        (
            2,
            ts("2023-06-15 22:00:00"),
            ts("2023-06-15 22:05:00"),
            "N",
            1.0,
            48,
            68,
            1.0,
            0.9,
            6.5,
            1.0,
            0.5,
            0.0,
            0.0,
            1.0,
            9.0,
            2.0,
            0.0,
            None,  # null airport_fee
        ),
    ]
    return spark.createDataFrame(rows, YELLOW_RAW)


@pytest.fixture(scope="session")
def zone_csv(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("zone") / "taxi_zone.csv"
    lines = ["LocationID,Borough,Zone,service_zone"]
    for lid in [48, 68, 74, 75, 132, 230]:
        lines.append(f"{lid},Manhattan,Zone {lid},Boro Zone")
    p.write_text("\n".join(lines) + "\n")
    return str(p)


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn's result, Spark jobs fn launched), read
    from ``statusTracker()`` under a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
