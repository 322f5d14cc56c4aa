"""Generated-code cache sizing: a repeated plan must reuse its compiled
classes instead of recompiling them with Janino on every call."""

from __future__ import annotations

import pytest

from streaming_forex_data_pipeline_spark import plans
from streaming_forex_data_pipeline_spark.session import codegen_counters

# the default cache holds 100 classes; the working set below compiles
# more than that before the first query is re-run
DEFAULT_CACHE_ENTRIES = 100
REPEATED = ("sma", "pricing_summary", "near_dup_clusters", "knn_graph_topk")
# cheap queries over other operator modules, run before falling back to
# the rest of the registry
FILLERS = (
    "atr_native",
    "aroon",
    "outlier_zscore_iqr",
    "patterns",
    "signals_sma",
    "vwap_daily",
    "minhash_near_dups",
)


def _compiled(spark, sf_dir: str, name: str) -> int:
    before = codegen_counters(spark)[0]
    plans.spark_queries()[name](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    return codegen_counters(spark)[0] - before


@pytest.mark.parametrize("name", REPEATED)
def test_second_call_compiles_nothing(spark, sf_dir, name):
    _compiled(spark, sf_dir, name)
    assert _compiled(spark, sf_dir, name) == 0


def test_cache_outlives_a_working_set_larger_than_the_default(spark, sf_dir):
    first, *rest = REPEATED
    _compiled(spark, sf_dir, first)
    # the builders need not compile anything new when an earlier test
    # already ran them, so count from first principles: keep running
    # registry queries until more than the default capacity has been
    # compiled since the first query last ran
    compiled = 0
    for name in [*rest, *FILLERS, *sorted(plans.spark_queries())]:
        if compiled > DEFAULT_CACHE_ENTRIES:
            break
        if name != first:
            compiled += _compiled(spark, sf_dir, name)
    assert compiled > DEFAULT_CACHE_ENTRIES
    assert _compiled(spark, sf_dir, first) == 0
