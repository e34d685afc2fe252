"""Tests of the benchmark's own machinery.

Run from the repository root: ``python -m pytest perfbench -q``.

The Spark test checks that each layer wrapper fires where the layer is
known to act: ``checkpoint.count`` on ``graph_kcore``,
``session_cache.misses`` on ``dedup_near``, ``persistence.saves`` on
``quality_lr_persisted`` and ``streaming.batches`` on
``stream_foreach_batch``, and that the job-id window sees the micro-batch
jobs.
"""

from __future__ import annotations

import os
import threading

import pytest

from run import percentile_tail
from tracing import Span, Tracer, self_times_by_span


def _span(i, layer, start, end, parent=None):
    return Span(i, f"s{i}", layer, start, end, parent, 1)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, "op", 0.0, 10.0),
        _span(2, "queries", 1.0, 6.0, parent=1),
        _span(3, "checkpoint", 2.0, 4.0, parent=2),
        _span(4, "checkpoint", 3.0, 5.0, parent=2),  # overlaps span 3
        _span(5, "exec", 7.0, 9.0, parent=1),
    ]
    own = self_times_by_span(spans)
    assert own == pytest.approx({1: 3.0, 2: 2.0, 3: 2.0, 4: 2.0, 5: 2.0})
    assert sum(own.values()) == pytest.approx(10.0 + 1.0)  # 3 and 4 overlap by 1


def test_tail_has_ten_samples_beyond_it():
    lat = [float(i) for i in range(1, 31)]
    value, pct, n = percentile_tail(lat)
    assert (value, n) == (20.0, 30)
    assert sum(x > value for x in lat) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_with_too_few_samples_is_the_maximum():
    value, pct, n = percentile_tail([3.0, 1.0, 2.0])
    assert (value, pct, n) == (3.0, 100.0, 3)


def test_callback_thread_spans_nest_under_the_blocked_operation():
    tracer = Tracer()
    tracer.enabled = True
    with tracer.operation("op"):
        with tracer.span("streaming", "awaitTermination"):
            done = []

            def callback():
                with tracer.span("checkpoint", "cb"):
                    done.append(True)

            t = threading.Thread(target=callback)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive() and done
    spans, _ = tracer.take()
    by_name = {sp.name: sp for sp in spans}
    assert by_name["cb"].parent == by_name["awaitTermination"].id
    assert by_name["awaitTermination"].parent == by_name["op"].id


@pytest.fixture(scope="module")
def traced_session(tmp_path_factory):
    """A Spark session with every wrapper installed before ``load_all()``."""
    from corpus import write_corpus
    from tracing import ExecAccounting

    work = tmp_path_factory.mktemp("perfbench")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    tracer = Tracer()
    tracer.install()
    from dataframe_differ_spark.queries import load_all
    from dataframe_differ_spark.session import get_spark

    registry = load_all()
    tracer.rebind()
    spark = get_spark("perfbench-tests")
    sf_dir = str(work / "sf")
    write_corpus(sf_dir, seed=11, sf=0.001)
    acct = ExecAccounting(spark)
    yield spark, registry, tracer, acct, sf_dir
    acct.close()
    tracer.uninstall()


def _traced(traced_session, name):
    from dataframe_differ_spark.operators import session_cache

    spark, registry, tracer, acct, sf_dir = traced_session
    session_cache._CACHE.pop(spark, None)
    tracer.enabled = True
    acct.start()
    try:
        with tracer.operation(name):
            with tracer.span("queries", name):
                df = registry[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
    finally:
        tracer.enabled = False
    tracer.add(acct.finish())
    return tracer.take()


@pytest.mark.parametrize(
    "query, counter",
    [
        ("graph_kcore", "checkpoint.count"),
        ("dedup_near", "session_cache.misses"),
        ("quality_lr_persisted", "persistence.saves"),
        ("stream_foreach_batch", "streaming.batches"),
    ],
)
def test_wrapper_fires_where_layer_acts(traced_session, query, counter):
    spans, counters = _traced(traced_session, query)
    assert counters[counter] > 0, dict(counters)
    assert counters["exec.jobs"] > 0
    assert counters["tables.calls"] > 0
    layers = {sp.layer for sp in spans}
    assert {"op", "queries", "tables"} <= layers


def test_job_window_counts_micro_batch_jobs(traced_session):
    _, counters = _traced(traced_session, "stream_foreach_batch")
    # 4 micro-batches, each merging into the sink with its own jobs.
    assert counters["streaming.batches"] >= 2
    assert counters["exec.jobs"] > counters["streaming.batches"]


def test_metric_names_match_benchmark_json():
    import json

    import run

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]), m
