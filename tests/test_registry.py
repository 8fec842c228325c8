"""Registry-level tests: every query runs at sf0.001 and returns a stable,
non-degenerate frame; oracle coverage is near-total; entry() works."""

from __future__ import annotations

import os
import sys

import pytest

from bigdata_homed_spark.plans import ORACLES, QUERIES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
import check_correctness  # noqa: E402 - the oracle gate's comparison

# queries whose legitimate sf0.001 result can be empty (small-sample effects)
MAY_BE_EMPTY = {"embedding_ann_pairs", "ngram_jaccard_pairs", "minhash_lsh_pairs"}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    rows = df.collect()
    assert df.columns, name
    if name not in MAY_BE_EMPTY:
        assert len(rows) > 0, f"{name} returned no rows"


# genuinely non-SQL-expressible results (different sketch implementations);
# the driver records a rows-only check for these
ROWS_ONLY = {
    "distinct_users_approx_daily",
    "stream_online_user_state",
    "value_percentiles_approx",
    "label_top_direction",
}


# the ops of the benchmark's homed_reports workload
HOMED_REPORTS = ["channel_report_full", "video_play_report", "gap_sessions", "halfhour_activity"]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = check_correctness.duck_catalog(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", HOMED_REPORTS)
def test_homed_report_matches_oracle(spark, sf_dir, duck, name):
    """Full-result parity with the DuckDB oracle, compared the way the
    oracle gate compares: column names, row count, order-insensitive
    value hash."""
    df = QUERIES[name](spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    res = duck.sql(ORACLES[name])
    problems = check_correctness.compare(
        df.columns, rows, [d[0] for d in res.description], res.fetchall()
    )
    assert not problems, problems


def test_oracle_coverage():
    missing = set(QUERIES) - set(ORACLES) - ROWS_ONLY
    assert not missing, f"queries without oracle: {missing}"


def test_approx_distinct_within_rsd(spark, sf_dir):
    from pyspark.sql import functions as F

    from bigdata_homed_spark.plans.homed_behavior import events_sec

    ev = events_sec(spark, sf_dir).withColumn("day_num", F.expr("sec div 86400"))
    exact = {
        r.day_num: r.n
        for r in ev.groupBy("day_num").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    rows = QUERIES["distinct_users_approx_daily"](spark, sf_dir).collect()
    got = {r.day_num: r for r in rows}
    assert set(got) == set(exact)
    for day, n in exact.items():
        # the query itself carries the tolerance assertion the oracle gate
        # hash-verifies; pin both halves here too
        assert got[day].users_exact == n, (day, n, got[day].users_exact)
        assert got[day].approx_within_5pct is True, (day,)


def test_entry(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"slot_start", "n_name", "n_sessions", "n_users", "online_sec"}
    assert set(m.queries()) == set(QUERIES)
    assert set(m.oracle_sql()) == set(ORACLES)


def test_oracles_use_correctly_rounded_decimal_to_double():
    """DuckDB's native decimal->double cast double-rounds (int128->double,
    then /10^scale) and came out 1 ulp off Spark's correctly-rounded
    BigDecimal conversion on a 30x-scale sum (pricing_summary at sf3,
    round 6).  Every decimal-sum oracle must bridge through varchar
    (`cast(cast(sum(..decimal..) as varchar) as double)`); this guard
    fails if the native-cast spelling reappears."""
    import re

    bad = re.compile(r"as decimal\(27,\d+\)\)\)\s+as double", re.I)
    offenders = {
        name
        for name, sql in ORACLES.items()
        if any(
            not sql[max(0, m.start() - 200):m.start()].rstrip().endswith("as varchar)")
            and "as varchar) as double" not in sql[m.start():m.end() + 40]
            for m in bad.finditer(sql)
        )
    }
    assert not offenders, f"native decimal->double casts in oracles: {sorted(offenders)}"
