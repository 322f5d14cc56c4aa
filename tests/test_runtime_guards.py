"""Runtime guards: the package ship runs once per application even under
concurrent first calls, the connected-components scale knobs are read
on every call rather than at import, ``lit_double_array`` admits only
finite literals, and ``dot``/``norm`` resolve struct-field paths."""

from __future__ import annotations

import math
import threading
import time
from types import SimpleNamespace

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_forex_data_pipeline_spark.llm import dedup as DD
from streaming_forex_data_pipeline_spark.llm import similarity as SIM
from streaming_forex_data_pipeline_spark.sources import tables as T


def test_ship_package_concurrent_first_calls_ship_once(monkeypatch):
    monkeypatch.setattr(T, "_SHIPPED", set())
    shipped: list[str] = []

    def add_py_file(path: str) -> None:
        shipped.append(path)
        time.sleep(0.2)  # hold the window a racing caller would slip into

    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(
            applicationId="app-ship-race", addPyFile=add_py_file
        )
    )
    n = 8  # more first callers than cores
    start = threading.Barrier(n, timeout=30)

    def first_call() -> None:
        start.wait()
        T._ship_package(spark)

    threads = [threading.Thread(target=first_call) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    assert len(shipped) == 1
    T._ship_package(spark)
    assert len(shipped) == 1


def _pairs(spark):
    # two components, {1, 2, 3} and {10, 11}: 4 edges, 8 symmetric rows
    return spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11)], ["doc_a", "doc_b"]
    ).repartition(4)


def _clusters(df: DataFrame) -> set[tuple[int, int]]:
    return {(r["node"], r["cluster_id"]) for r in df.collect()}


WANT = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def _spy(monkeypatch, owner, attr: str, skip: int = 0) -> list:
    calls: list = []
    real = getattr(owner, attr)

    def spy(*args):
        calls.append(args[skip:])
        return real(*args)

    monkeypatch.setattr(owner, attr, spy)
    return calls


def test_cc_broadcast_gate_read_per_call(spark, monkeypatch):
    bcasts = _spy(monkeypatch, F, "broadcast")
    assert _clusters(DD.connected_components(_pairs(spark))) == WANT
    assert bcasts, "a 5-node graph is under the default broadcast gate"

    monkeypatch.setenv("SFDP_CC_BROADCAST_MAX_NODES", "0")
    bcasts.clear()
    assert _clusters(DD.connected_components(_pairs(spark))) == WANT
    edges = _pairs(spark).withColumn("modality", F.lit("text"))
    docs = spark.createDataFrame(
        [(d, 100 + d) for d in (1, 2, 3, 10, 11)], ["doc_id", "n_chars"]
    )
    rows = DD.cross_modal_clusters(edges, docs, modalities=("text",)).collect()
    assert [(r["cluster_id"], r["n_docs"], r["keep_doc"]) for r in rows] == [
        (1, 3, 3),
        (10, 2, 11),
    ]
    assert bcasts == []


def test_cc_edge_partition_target_read_per_call(spark, monkeypatch):
    # the concrete session class overrides coalesce: spy on it, skipping self
    coalesced = _spy(monkeypatch, type(spark.range(1)), "coalesce", skip=1)
    assert _clusters(DD.connected_components(_pairs(spark))) == WANT
    assert coalesced == [(1,)]  # 8 rows under the 2M default: one partition

    monkeypatch.setenv("SFDP_CC_EDGE_ROWS_PER_PARTITION", "2")
    coalesced.clear()
    assert _clusters(DD.connected_components(_pairs(spark))) == WANT
    assert coalesced == [(4,)]  # ceil(8 / 2)


def test_lit_double_array_rejects_non_finite():
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="finite"):
            SIM.lit_double_array([1.0, bad])


def test_lit_double_array_roundtrips_finite(spark):
    vals = [0.1, -2.5, 1e-300, 123456.789]
    got = spark.range(1).select(
        SIM.lit_double_array(vals).alias("a")
    ).collect()[0]["a"]
    assert got == vals


def test_dot_norm_fall_back_for_struct_field_paths(spark):
    """ADVICE r14: dot('payload.v', ...) must resolve the struct field
    via the Column path (the backtick fast path would mis-quote it)."""
    df = spark.createDataFrame([([3.0, 4.0],)], ["v"]).select(
        F.struct(F.col("v")).alias("payload")
    )
    row = df.select(
        SIM.dot("payload.v", "payload.v").alias("d"),
        SIM.norm("payload.v").alias("n"),
    ).collect()[0]
    assert row["d"] == pytest.approx(25.0)
    assert row["n"] == pytest.approx(5.0)


def test_dot_fast_path_matches_column_path(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], ["a", "b"]
    )
    fast = df.select(SIM.dot("a", "b").alias("d")).collect()[0]["d"]
    slow = df.select(
        SIM.dot(F.col("a"), F.col("b")).alias("d")
    ).collect()[0]["d"]
    assert fast == slow == pytest.approx(32.0)
    assert math.isfinite(fast)
