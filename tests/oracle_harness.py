"""Local replica of the driver's correctness gate: run each suite
query on Spark AND its DuckDB oracle, canonicalize (sort columns by
name, sort rows), and compare values.

Used by tests/test_oracle_parity.py and runnable standalone:
    python tests/oracle_harness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def canon(df_pandas):
    """Sort columns by name, rows by all values -> list of tuples."""
    pdf = df_pandas[sorted(df_pandas.columns)]
    rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple(str(x) for x in r)), list(pdf.columns)


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)
    try:
        import pandas as pd

        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b or str(a) == str(b)


def dtype_family(pdf, col: str) -> str:
    """Coarse dtype family for driver-hash parity.

    The driver hashes TYPED values, so int64 42 vs float64 42.0 is a
    hash mismatch even though `str(a) == str(b)` — exactly the class
    that let five uncast-HUGEINT oracles pass locally while failing
    the round-5 driver gate (VERDICT r5 items 1-3). Any int-family vs
    float-family (or bool-vs-numeric, etc.) disagreement must FAIL
    before the value compare."""
    import numpy as np
    import pandas as pd

    dt = pdf[col].dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        # width matters: the driver hashes Arrow-typed values, so an
        # int32 Spark column vs a BIGINT oracle column is a driver-red
        # even when every value is equal (ADVICE r7: q161 min_slop).
        return f"int{np.dtype(dt).itemsize * 8}"
    if pd.api.types.is_float_dtype(dt):
        return f"float{np.dtype(dt).itemsize * 8}"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    if dt == object:
        from decimal import Decimal

        def fam_of(v) -> str:
            if isinstance(v, (bool, np.bool_)):
                return "bool"
            if isinstance(v, (int, np.integer)):
                return "int"
            if isinstance(v, (float, np.floating)):
                return "float"
            if isinstance(v, Decimal):
                return "decimal"
            return "object"

        # classify EVERY value, not just the first non-null: a mixed
        # column (e.g. Decimal in one row, float in another from a
        # CASE/union oracle) must not pass as whichever type happens
        # to sort first
        fams = {fam_of(v) for v in pdf[col].dropna()}
        if not fams:
            return "object"
        return fams.pop() if len(fams) == 1 else "mixed:" + ",".join(sorted(fams))
    return str(dt)


def compare_pandas(name: str, spark_pdf, oracle_pdf) -> list[str]:
    problems: list[str] = []
    s_rows, s_cols = canon(spark_pdf)
    o_rows, o_cols = canon(oracle_pdf)
    if s_cols != o_cols:
        problems.append(f"{name}: column mismatch spark={s_cols} oracle={o_cols}")
        return problems
    for c in s_cols:
        sf, of = dtype_family(spark_pdf, c), dtype_family(oracle_pdf, c)
        if sf != of:
            problems.append(
                f"{name}: dtype-family mismatch col {c}: spark={sf}"
                f" ({spark_pdf[c].dtype}) oracle={of} ({oracle_pdf[c].dtype})"
                " — would fail the driver's typed hash"
            )
    if problems:
        return problems
    if len(s_rows) != len(o_rows):
        problems.append(f"{name}: row count spark={len(s_rows)} oracle={len(o_rows)}")
        return problems
    bad = 0
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        for c, (sv, ov) in enumerate(zip(sr, orow)):
            if not values_equal(sv, ov):
                if bad < 5:
                    problems.append(
                        f"{name}: row {i} col {s_cols[c]}: spark={sv!r} oracle={ov!r}"
                    )
                bad += 1
    if bad:
        problems.append(f"{name}: {bad} mismatched cells / {len(s_rows)} rows")
    return problems


def compare(name: str, spark_df, oracle_pdf) -> list[str]:
    return compare_pandas(name, spark_df.toPandas(), oracle_pdf)


def _selects(query: str, spec_name: str) -> bool:
    """`q41` selects `q41_neardup_clusters`; a full name selects itself."""
    return spec_name == query or spec_name.startswith(query + "_")


def run(sf_dir: str, only: list[str] | None = None) -> dict[str, list[str]]:
    from nyc_etl_pipeline_spark import get_spark, suite

    spark = get_spark(
        app_name="oracle-harness",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duck_con(sf_dir)
    results: dict[str, list[str]] = {}
    for spec in suite.all_specs():
        if only and not any(_selects(q, spec.name) for q in only):
            continue
        try:
            sdf = spec.fn(spark, sf_dir)
            if spec.oracle is None:
                n = sdf.count()
                results[spec.name] = (
                    [] if n >= 0 else [f"{spec.name}: negative count?"]
                )
                print(f"  {spec.name}: rows-only check, {n} rows")
                continue
            opdf = con.sql(spec.oracle).df()
            probs = compare(spec.name, sdf, opdf)
            results[spec.name] = probs
            status = "OK" if not probs else "FAIL"
            print(f"  {spec.name}: {status} ({len(opdf)} rows)")
            for p in probs:
                print(f"    {p}")
        except Exception as e:  # noqa: BLE001 — harness reports, not raises
            results[spec.name] = [f"{spec.name}: EXCEPTION {type(e).__name__}: {e}"]
            print(f"  {spec.name}: EXCEPTION {type(e).__name__}: {str(e)[:300]}")
    return results


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:] or None
    res = run(sf, only)
    for q in only or []:
        if not any(_selects(q, name) for name in res):
            res[q] = [f"{q}: no suite query of that name"]
    failed = {k: v for k, v in res.items() if v}
    print(f"\n{len(res) - len(failed)}/{len(res)} queries match at {sf}")
    sys.exit(1 if failed else 0)
