"""Property-based tests (hypothesis): operator invariants that must
hold for ANY input, not just the fixtures — the SURVEY §5 strategy's
robustness layer.

Spark session startup is expensive, so examples are batched: each
property materializes one DataFrame per example set via
hypothesis-generated rows.
"""

import math

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from nyc_etl_pipeline_spark.functions import round_half_up, sql_double, sql_round_half_up

# parity contract bound: |x * 10^d| < 2^53 (see functions/__init__);
# with digits <= 6 that caps |x| at ~9e9
finite_doubles = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e9, max_value=1e9
)


def _duck_round_half_up(con, values, digits):
    """Round `values` through DuckDB's runtime double path.

    Values are injected as STRING-cast doubles (correctly-rounded
    strtod), never as bare numeric literals: DuckDB types a numeric
    literal as DECIMAL, and a 17-significant-digit literal whose
    decimal mantissa exceeds 2^53 can't round-trip decimal->double
    exactly (e.g. -900719925.5546875 -> DECIMAL(16,7) -> ...876).
    That literal-injection artifact — not the rounding arithmetic —
    was the round-5 "1-ulp engine divergence" (VERDICT r5 item 4);
    real oracle queries read doubles from parquet and never hit it.
    """
    expr = sql_round_half_up("x", digits)
    return [
        con.sql(
            f"SELECT {expr} AS y FROM (SELECT CAST('{v!r}' AS DOUBLE) AS x)"
        ).fetchone()[0]
        for v in values
    ]


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(), min_size=1, max_size=20))
def test_sql_double_round_trips_through_spark(spark, values):
    """sql_double parses back to the same double, ±Inf and NaN included,
    and keeps the ``repr`` + D form for finite values."""
    got = spark.sql("SELECT " + ", ".join(map(sql_double, values))).collect()[0]
    for v, g in zip(values, got):
        assert (g == v) or (math.isnan(g) and math.isnan(v)), (v, g)
        if math.isfinite(v):
            assert sql_double(v) == repr(v) + "D"


@settings(max_examples=20, deadline=None)
@given(st.lists(finite_doubles, min_size=1, max_size=50), st.integers(0, 6))
def test_round_half_up_matches_duckdb_everywhere(spark, values, digits):
    """The cross-engine rounding contract: identical results in Spark
    and DuckDB for arbitrary doubles (this is what makes every
    aggregate query oracle-comparable)."""
    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = [
        r["y"]
        for r in df.select(round_half_up(df.x, digits).alias("y")).collect()
    ]
    con = duckdb.connect()
    want = _duck_round_half_up(con, values, digits)
    for g, w in zip(got, want):
        assert (g == w) or (math.isnan(g) and math.isnan(w)), (g, w)


def test_round_half_up_r5_falsifying_example(spark):
    """Pinned regression for VERDICT r5 item 4: x=-900719925.5546875,
    digits=6. The Spark/Python/DuckDB-runtime answer is
    -900719925.554687; the old test harness injected the value as a
    bare DECIMAL literal and read back ...688 (see _duck_round_half_up
    docstring for the mechanism)."""
    x, digits = -900719925.5546875, 6
    df = spark.createDataFrame([(x,)], "x double")
    got = df.select(round_half_up(df.x, digits).alias("y")).collect()[0]["y"]
    con = duckdb.connect()
    # string-cast injection: engines agree
    assert _duck_round_half_up(con, [x], digits) == [got] == [-900719925.554687]
    # the DECIMAL-literal injection artifact that caused the original
    # failure: checked only while the DuckDB version still exhibits it
    # (a DuckDB upgrade fixing big-mantissa literal parsing must NOT
    # turn this test red — the string-cast parity above is the
    # product contract; this block just documents the mechanism)
    bad = con.sql(f"SELECT CAST({x!r} AS DOUBLE)").fetchone()[0]
    if bad == x:
        return  # DuckDB fixed the literal path; nothing left to pin
    assert math.floor(bad * 1e6 + 0.5) != math.floor(x * 1e6 + 0.5) or bad != x


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 10_000), st.text("ab ", max_size=8)),
        min_size=1,
        max_size=60,
    )
)
def test_asof_join_invariants(spark, rows):
    """For random (key, ts) data: every matched right ts is <= left ts,
    is the max such ts in the key group, and unmatched lefts have no
    earlier right row."""
    from nyc_etl_pipeline_spark.operators.joins import asof_join_backward

    left = spark.createDataFrame(
        [(i, k, float(t)) for i, (k, t, _) in enumerate(rows)],
        "id long, k long, ts double",
    )
    right = spark.createDataFrame(
        [(k, float(t) + 0.5, s) for (k, t, s) in rows], "k long, ts double, tag string"
    )
    out = asof_join_backward(left, right, by="k", ts="ts", right_value_cols=["tag"]).collect()
    rights = {}
    for k, t, s in [(k, t + 0.5, s) for (k, t, s) in rows]:
        rights.setdefault(k, []).append(t)
    assert len(out) == left.count()
    for r in out:
        cand = [t for t in rights.get(r["k"], []) if t <= r["ts"]]
        if r["asof_ts"] is None:
            assert not cand
        else:
            assert math.isclose(r["asof_ts"], max(cand))


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 9),                       # VendorID
            st.one_of(st.none(), st.integers(0, 2_000_000)),  # pickup offset s (None -> null ts)
            st.integers(0, 90_000),                  # trip duration s
            st.one_of(st.none(), st.floats(0, 99, allow_nan=False)),  # RatecodeID
            st.one_of(st.none(), st.floats(0, 9, allow_nan=False)),   # passenger_count
            st.one_of(st.none(), st.floats(-50, 500, allow_nan=False)),  # fare
        ),
        min_size=1,
        max_size=30,
    )
)
def test_clean_trips_total_on_random_raw(spark, rows):
    """The silver transform is total over arbitrary raw rows: output
    schema is stable, datetimes are non-null, sentinel coercion (Q4)
    leaves no null IDs, and trip_duration is exactly the dropoff-pickup
    second difference."""
    import datetime

    from nyc_etl_pipeline_spark.pipeline import clean_trips
    from nyc_etl_pipeline_spark.schemas import GREEN_RAW

    base = datetime.datetime(2023, 1, 1)
    raw = []
    for v, off, dur, rate, pax, fare in rows:
        pu = base + datetime.timedelta(seconds=off) if off is not None else None
        do = (pu + datetime.timedelta(seconds=dur)) if pu is not None else None
        raw.append(
            (v, pu, do, "N", rate, 1, 2, pax, 1.0, fare, 0.5, 0.5, 0.0, 0.0, None,
             1.0, 10.0, 1.0, 1.0, None)
        )
    df = spark.createDataFrame(raw, GREEN_RAW)
    out = clean_trips(df, "Green").collect()
    n_valid_ts = len({r for r in rows if r[1] is not None})
    assert len(out) <= len(rows)
    for r in out:
        assert r["pickup_datetime"] is not None and r["dropoff_datetime"] is not None
        assert r["RatecodeID"] is not None and r["passenger_count"] is not None
        delta = (r["dropoff_datetime"] - r["pickup_datetime"]).total_seconds()
        assert r["trip_duration"] == int(delta)
        assert r["taxi_type"] == "Green" and r["airport_fee"] == 0.0


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text("abcd e", min_size=0, max_size=40), min_size=1, max_size=40))
def test_fingerprint_and_tokens_total_functions(spark, texts):
    """Text operators are total: any string (empty, whitespace-only,
    repeated separators) produces a row, token counts are
    non-negative, fingerprints are within the modulus."""
    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.operators.text import (
        FINGERPRINT_MOD,
        fingerprint_rolling,
        whitespace_token_count,
    )

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = df.select(
        whitespace_token_count(F.col("text")).alias("n"),
        fingerprint_rolling(F.col("text")).alias("fp"),
    ).collect()
    assert len(out) == len(texts)
    for r in out:
        assert r["n"] >= 0
        assert 0 <= r["fp"] < FINGERPRINT_MOD


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=60
        ),
        min_size=1,
        max_size=30,
    )
)
def test_md5_long_matches_duckdb_and_python(spark, texts):
    """The oracle-expressible hash contract: md5_long is bit-identical
    in Spark, DuckDB, and plain Python for arbitrary unicode strings —
    this is what makes the MinHash/SimHash/LSH chains (q23/q24/q27)
    replicable by the DuckDB oracle."""
    from nyc_etl_pipeline_spark.functions import md5_long, py_md5_long, sql_md5_long

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = [
        (r["h15"], r["lo"], r["hi"])
        for r in df.select(
            md5_long("s").alias("h15"),
            md5_long("s", 1, 8).alias("lo"),
            md5_long("s", 9, 8).alias("hi"),
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in texts])
    duck = con.execute(
        f"SELECT {sql_md5_long('s')}, {sql_md5_long('s', 1, 8)}, {sql_md5_long('s', 9, 8)} FROM t"
    ).fetchall()
    py = [(py_md5_long(t), py_md5_long(t, 1, 8), py_md5_long(t, 9, 8)) for t in texts]
    assert got == [tuple(r) for r in duck] == py
    for h15, _, _ in got:
        assert 0 <= h15 < 1 << 60


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),                     # key
            st.one_of(st.none(), st.floats(allow_nan=False,
                                           allow_infinity=False,
                                           min_value=-1e6, max_value=1e6)),
            st.integers(0, 2),                                    # batch assignment
        ),
        min_size=1,
        max_size=40,
    )
)
def test_partial_merge_equals_direct_for_any_split(spark, rows):
    """merge(partials of ANY 3-way split) == partial(whole) — for
    arbitrary keys, nullable measures, and arbitrary batch routing
    (the algebraic-aggregate identity q120 gates on one fixed split)."""
    from nyc_etl_pipeline_spark.operators import incremental as INC

    df = spark.createDataFrame(
        [(k, v, b) for k, v, b in rows], "k string, x double, b int"
    )
    direct = sorted(
        map(tuple, INC.finalize(INC.partial_aggregate(df, ["k"], ["x"]), ["x"]).collect())
    )
    parts = [
        INC.partial_aggregate(df.filter(df.b == i).drop("b"), ["k"], ["x"])
        for i in range(3)
    ]
    merged = sorted(
        map(tuple, INC.finalize(INC.merge_partials(parts, ["k"], ["x"]), ["x"]).collect())
    )
    # min/max/count are exact; sums/avgs are rounded by finalize, and
    # the 3-way regrouping can differ in the last ulp before rounding —
    # compare with a half-up-boundary-aware tolerance
    assert len(direct) == len(merged)
    for d, m in zip(direct, merged):
        for dv, mv in zip(d, m):
            if isinstance(dv, float) and isinstance(mv, float):
                assert math.isclose(dv, mv, rel_tol=1e-9, abs_tol=1e-3), (d, m)
            else:
                assert dv == mv, (d, m)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(-100, 100),
            st.integers(1, 50),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_median_matches_bruteforce(spark, rows):
    """Lower weighted median == the smallest value whose cumulative
    weight (ascending order) reaches half the total — brute-forced in
    plain Python over random (group, value, weight) rows."""
    from nyc_etl_pipeline_spark.operators.quality import weighted_median

    df = spark.createDataFrame(rows, ["g", "v", "w"])
    got = {
        r["g"]: (r["w_median"], r["total_weight"])
        for r in weighted_median(df, "g", "v", "w").collect()
    }
    from collections import defaultdict

    per_g = defaultdict(list)
    for g, v, w in rows:
        per_g[g].append((v, w))
    for g, vw in per_g.items():
        total = sum(w for _, w in vw)
        cum = 0
        want = None
        for v, w in sorted(vw):
            cum += w
            if 2 * cum >= total:
                want = v
                break
        assert got[g] == (want, total), f"group {g}"


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 15), st.integers(0, 5)), min_size=0, max_size=25),
    st.lists(st.tuples(st.integers(0, 15), st.integers(0, 5)), min_size=0, max_size=25),
)
def test_diff_tables_partition_identities(spark, old_rows, new_rows):
    """On key-unique tables: added + changed + unchanged == |new|,
    removed + changed + unchanged == |old|, and col-change counts
    never exceed 'changed'."""
    from nyc_etl_pipeline_spark.operators.scd import diff_tables

    old_rows = list({k: (k, v) for k, v in old_rows}.values())
    new_rows = list({k: (k, v) for k, v in new_rows}.values())
    schema = "k int, v int"
    old = spark.createDataFrame(old_rows, schema) if old_rows else spark.createDataFrame([], schema)
    new = spark.createDataFrame(new_rows, schema) if new_rows else spark.createDataFrame([], schema)
    m = {r["metric"]: r["n"] for r in diff_tables(old, new, ["k"], ["v"]).collect()}
    assert m["added"] + m["changed"] + m["unchanged"] == len(new_rows)
    assert m["removed"] + m["changed"] + m["unchanged"] == len(old_rows)
    assert m["col_v"] == m["changed"]  # single compare column


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.sampled_from([f"t{i}" for i in range(12)]),
        min_size=1,
        max_size=300,
    ),
    st.integers(2, 6),  # k_threshold
    st.integers(1, 5),  # partitions
)
def test_exact_heavy_hitters_property(spark, toks, k, parts):
    """For ANY token stream, threshold, partitioning, and the MINIMUM
    legal summary size (k_summary = k_threshold, the tightest the
    superset theorem allows), the MG two-pass output equals brute
    force exactly — the end-to-end statement of the certificate."""
    from collections import Counter

    from nyc_etl_pipeline_spark.operators.sketches import exact_heavy_hitters

    df = spark.createDataFrame([(t,) for t in toks], "token string").repartition(parts)
    got = {
        (r.token, r.cnt)
        for r in exact_heavy_hitters(df, k, k_summary=k).collect()
    }
    n = len(toks)
    want = {(t, c) for t, c in Counter(toks).items() if c * k > n}
    assert got == want


# ---------------------------------------------------------------------------
# strip_boilerplate_lines: Spark output == brute-force Python for ANY
# corpus shape (repeated lines within a doc, blank lines, all-boiler
# docs, any threshold)
# ---------------------------------------------------------------------------

_line = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "", "common banner", "x y z"]
)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(  # corpus: each doc is a non-empty list of lines
        st.lists(_line, min_size=1, max_size=5), min_size=1, max_size=8
    ),
    st.integers(0, 4),  # max_doc_freq
)
def test_boilerplate_strip_matches_bruteforce(spark, corpus, max_df):
    from collections import Counter

    from nyc_etl_pipeline_spark.operators import dedup as D

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_kept"])
        for r in D.strip_boilerplate_lines(df, max_doc_freq=max_df).collect()
    }

    doc_freq = Counter()
    for lines in corpus:
        for ln in set(lines):
            doc_freq[ln] += 1
    boiler = {ln for ln, c in doc_freq.items() if c > max_df}
    for i, lines in enumerate(corpus):
        kept = [ln for ln in lines if ln not in boiler]
        assert got[i] == ("\n".join(kept), len(lines), len(kept)), (
            i, lines, boiler, got[i],
        )


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["apple", "pear", "plum", "kiwi", "fig"]),
                 min_size=0, max_size=8),
        min_size=2,
        max_size=8,
    )
)
def test_sparse_cosine_matches_bruteforce(spark, token_lists):
    """sparse_cosine_pairs vs a plain-Python replica of its exact
    arithmetic contract (6-dp idf quantization, per-product
    DECIMAL(28,6) half-up casts, exact decimal sums): the PAIR SET
    must match exactly at a near-zero threshold and cosines agree to
    the output rounding (the one ln() call is the documented 1-ulp
    class, absorbed by the 1e-4 comparison)."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from nyc_etl_pipeline_spark.operators.retrieval import sparse_cosine_pairs

    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["a_id"], r["b_id"]): r["cosine"]
        for r in sparse_cosine_pairs(df, threshold=1e-9).collect()
    }

    def dec6(x: float) -> Decimal:
        return Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)

    n_docs = len(docs)
    tf = {i: Counter(t.split()) for i, t in ((i, t) for i, t in docs) if t.strip()}
    dfreq = Counter(term for c in tf.values() for term in c)
    w = {
        i: {
            t: c * (math.floor(math.log(n_docs / dfreq[t]) * 1e6 + 0.5) / 1e6)
            for t, c in cnt.items()
        }
        for i, cnt in tf.items()
    }
    norms = {
        i: math.sqrt(float(sum(dec6(x * x) for x in ws.values()) or 0))
        for i, ws in w.items()
        if ws
    }
    norms = {i: n for i, n in norms.items() if n > 0.0}  # zero-norm: no pairs
    want = {}
    ids = sorted(norms)
    for ai in ids:
        for bi in ids:
            if ai < bi:
                shared = set(w[ai]) & set(w[bi])
                if not shared:
                    continue
                dot = float(sum(dec6(w[ai][t] * w[bi][t]) for t in shared))
                cos = dot / (norms[ai] * norms[bi])
                if cos >= 1e-9:
                    want[(ai, bi)] = math.floor(cos * 1e4 + 0.5) / 1e4
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) <= 1e-4 for k in want), (got, want)
