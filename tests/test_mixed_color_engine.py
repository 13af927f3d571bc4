"""Mixed-color e2e: real green 2023 + synthetic real-schema yellow
through ONE Engine run — the unified-silver path (reference quirk Q2:
its yellow silver diverged schema-wise and the positional union at
gold would throw; here both colors share clean_trips and a by-name
union)."""

import importlib.util
import os

from conftest import GREEN_DIR, ZONE_CSV, requires_reference
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.engine import Engine

pytestmark = requires_reference


def _load_synth():
    spec = importlib.util.spec_from_file_location(
        "yellow_scale_run",
        os.path.join(os.path.dirname(__file__), "..", "examples", "yellow_scale_run.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_engine_mixed_green_and_yellow(spark, tmp_path):
    import shutil

    green = tmp_path / "green"
    green.mkdir()
    shutil.copy(os.path.join(GREEN_DIR, "2023-01.parquet"), green / "2023-01.parquet")

    synth = _load_synth()
    yellow_dir = str(tmp_path / "yellow")
    synth.synth_yellow_year(spark, yellow_dir, 2023, rows_per_month=40_000, months=1)

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.run_all(green_dir=str(green), yellow_dir=yellow_dir, zone_csv=ZONE_CSV)

    silver = eng.wh.read("trips_silver")
    by_color = {r["taxi_type"]: r["n"] for r in
                silver.groupBy("taxi_type").agg(F.count("*").alias("n")).collect()}
    assert by_color.get("Green", 0) > 50_000
    assert by_color.get("Yellow", 0) > 35_000

    fact = eng.wh.read("fact_nyc")
    # fact joins dim_type on color, so both colors must survive the star build
    dtype = eng.wh.read("dim_type")
    fact_by_color = {
        r["typeName"]: r["n"]
        for r in fact.join(dtype, on="typeID").groupBy("typeName").agg(F.count("*").alias("n")).collect()
    }
    assert set(fact_by_color) == {"Green", "Yellow"}
    assert eng.wh.read("monthly_report").count() > 0
    # idempotent re-run with both colors
    n = fact.count()
    eng.run_all(green_dir=str(green), yellow_dir=yellow_dir, zone_csv=ZONE_CSV)
    assert eng.wh.read("fact_nyc").count() == n
