"""The seeded TopCV batch generator: determinism, coverage of the parsing
branches it is meant to exercise, and its expected counts.

The end-to-end check of the expected counts against ``run_day`` is the
benchmark itself (``warehouse_daily`` fails an operation on any
mismatch); here the counts are checked for internal consistency and the
parsed text against the package's column functions.
"""

from __future__ import annotations

import os
import sys
from collections import Counter
from datetime import date

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import topcv_gen  # noqa: E402

START = date(2026, 1, 30)


def _days(seed=3, n_days=4, postings=300):
    return topcv_gen.generate_days(seed, n_days, postings, START)


def test_same_seed_same_batches_other_seed_differs():
    a, b, c = _days(3), _days(3), _days(4)
    assert [d.rows for d in a] == [d.rows for d in b]
    assert [d.expected for d in a] == [d.expected for d in b]
    assert [d.rows for d in a] != [d.rows for d in c]


def test_days_cross_a_month_and_churn_within_gate_thresholds():
    days = _days()
    assert {d.as_of.month for d in days} == {1, 2}
    prev = None
    for d in days:
        e = d.expected
        ids = [r[0] for r in d.rows]
        assert e["raw_rows"] == len(d.rows)
        assert e["staging_rows"] == len(set(ids)) == 300
        # duplicates stay under the 5 % data-loss gate
        assert 0 < e["raw_rows"] - e["staging_rows"] < 0.05 * e["raw_rows"]
        # empty titles stay under the 95 % staging valid-rate gate
        assert sum(1 for r in d.rows if r[1] == "") < 0.05 * len(d.rows)
        assert e["fact_rows"] >= e["staging_rows"]
        if prev is not None:
            # new postings replace removed ones; edits add SCD2 history
            assert e["dim_job_current"] > prev["dim_job_current"]
            assert e["dim_job_history"] > prev["dim_job_history"]
        prev = e


def test_text_covers_every_parsing_branch():
    rows = [r for d in _days() for r in d.rows]
    branches = Counter(b for d in _days() for b in d.salary_branches)
    assert sorted(branches) == list(range(len(topcv_gen.SALARY_BRANCHES)))
    locations = {r[7] for r in rows}
    assert any(" & " in loc for loc in locations)
    assert any("Nơi khác" in loc for loc in locations)
    assert any("(mới)" in loc for loc in locations)
    deadlines = {r[8] for r in rows}
    assert any(x is not None and x.isdigit() for x in deadlines)
    assert any(x is None or not x.isdigit() for x in deadlines)
    units = {r[10].split()[-2] for r in rows}
    assert units == set(topcv_gen.LAST_UPDATE_UNITS)


@pytest.fixture(scope="module")
def spark():
    from jobinsight_data_pipeline_v2_spark.session import get_spark

    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_salary_branches_parse_to_their_salary_type(spark):
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_v2_spark.functions.salary import normalize_salary

    sim = topcv_gen.TopCVSimulator(5, 10, START)
    cases = [
        (i, sim._salary(i), want)
        for i, (want, texts) in enumerate(topcv_gen.SALARY_BRANCHES)
        for _ in range(4 * len(texts))
    ]
    df = spark.createDataFrame(cases, "branch int, salary string, want string")
    got = df.select(
        "branch", "salary", "want",
        normalize_salary(F.col("salary"))["salary_type"].alias("got"),
    ).collect()
    assert [(r.branch, r.salary) for r in got if r.got != r.want] == []


def test_batch_roundtrips_through_parquet(spark, tmp_path):
    from pyspark.sql import functions as F

    from jobinsight_data_pipeline_v2_spark.schemas import RAW_JOBS

    day = _days(n_days=1, postings=60)[0]
    path = str(tmp_path / "day" / "part-0.parquet")
    topcv_gen.write_batch(day, path)
    df = spark.read.schema(RAW_JOBS).parquet(str(tmp_path / "day"))
    assert df.count() == day.expected["raw_rows"]
    assert df.select("job_id").distinct().count() == day.expected["staging_rows"]
    crawled = df.select(
        F.date_format("crawled_at", "yyyy-MM-dd HH:mm").alias("t")
    ).distinct().collect()
    assert [r.t for r in crawled] == [f"{day.as_of.isoformat()} 06:00"]
