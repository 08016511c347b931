"""Config differential for a catalog sample: the same query, collected
under two session settings, must give the same rows (the
``assert_gpu_and_cpu_are_equal_collect`` pattern, here over settings
the caller controls). The sample spans the benchmark's catalog
shapes: a grouped aggregate (q01), a top-k window (q08), session
windows (q36), percentiles (q52) and an as-of join (q54). Each runs at
``SF_SMOKE`` under 1 vs 4 shuffle partitions and AQE on vs off, and is
compared through ``tools.compare.rows_key``, the oracle gate's
order-insensitive key. None of the five depends on partitioning;
``tests/test_nsl_generated.py`` holds the NSL stages' differential and
says why the random forests are left out of it."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tools.compare import rows_key

SAMPLE = (
    "q01_pricing_summary",
    "q08_topk_per_group",
    "q36_session_window",
    "q52_percentiles",
    "q54_asof_join",
)
DEFAULT = {"spark.sql.shuffle.partitions": "4", "spark.sql.adaptive.enabled": "true"}
CONFIGS = {
    "shuffle_partitions_1": {"spark.sql.shuffle.partitions": "1"},
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
}


def _collect(spark, conf: dict[str, str]) -> dict[str, tuple[list[str], list[tuple]]]:
    """(columns, rows_key) per sample query under ``conf``; the shared
    session's settings are restored afterwards."""
    import __spark_entry__ as entry

    queries = entry.queries()
    old = {k: spark.conf.get(k) for k in {**DEFAULT, **conf}}
    try:
        for k, v in {**DEFAULT, **conf}.items():
            spark.conf.set(k, v)
        out = {}
        for name in SAMPLE:
            df = queries[name](spark, SF_SMOKE)
            out[name] = (df.columns, rows_key(df.collect()))
        return out
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.fixture(scope="module")
def default_results(spark):
    return _collect(spark, {})


@pytest.mark.parametrize("conf", list(CONFIGS.values()), ids=list(CONFIGS))
def test_catalog_sample_ignores_session_config(spark, default_results, conf):
    got = _collect(spark, conf)
    for name in SAMPLE:
        assert got[name] == default_results[name], name
    assert all(rows for _, rows in default_results.values())
