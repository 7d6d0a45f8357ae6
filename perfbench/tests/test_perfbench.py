"""The benchmark's own checks. No Spark session is started:

    python3 -m pytest perfbench/tests -q
"""

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen
import metrics
import run
import spans
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_meta_inputs_are_deterministic():
    for name in ("wide", "compact"):
        a, b = gen.meta_table_spec(7, name), gen.meta_table_spec(7, name)
        assert a == b
        assert gen.meta_queries(7, a) == gen.meta_queries(7, b)
    assert gen.meta_table_spec(7, "wide") != gen.meta_table_spec(8, "wide")


def test_meta_shape_straddles_the_parallel_threshold():
    from iceberg_tools_spark.iceberg.manifest_io import PARALLEL_THRESHOLD

    shapes = gen.META_SHAPES
    for prefix in ("", "warm_"):
        assert shapes[prefix + "wide"][0] >= PARALLEL_THRESHOLD > shapes[prefix + "compact"][0]
    spec = gen.meta_table_spec(3, "wide")
    # each manifest (one per snapshot) holds a single partition value
    assert all(len({f["region"] for f in s}) == 1 for s in spec["snapshots"])


def test_churn_inputs_and_predicates_are_deterministic(tmp_path):
    runs = []
    for sub in ("a", "b"):
        batches = gen.churn_batches(5, str(tmp_path / sub))
        model = gen.ChurnModel(batches)
        for b in range(4):
            model.ingest(b)
        rng = np.random.default_rng([5, 11])
        preds = [model.delete_predicate(rng) for _ in range(3)]
        tables = [pq.read_table(x["path"]) for x in batches[:4]]
        runs.append((preds, model.live_rows, model.live_quantity, tables))
    (pa_, la, qa, ta), (pb, lb, qb, tb) = runs
    assert pa_ == pb and la == lb and qa == qb
    assert all(x.equals(y) for x, y in zip(ta, tb))
    assert all(n > 0 for _, n in pa_)
    assert la == 4 * gen.BATCH_ROWS - sum(n for _, n in pa_)


def test_curate_corpus_is_deterministic(tmp_path):
    gen.curate_corpus(9, str(tmp_path / "a"))
    gen.curate_corpus(9, str(tmp_path / "b"))
    a = pq.read_table(tmp_path / "a" / "documents.parquet")
    b = pq.read_table(tmp_path / "b" / "documents.parquet")
    assert a.equals(b) and a.num_rows == gen.N_DOCS


class _Rows:
    def __init__(self, rows):
        self._rows = rows

    def select(self, *cols):
        return self

    def collect(self):
        return self._rows


class _Row:
    def __init__(self, **kw):
        self.__dict__.update(kw)


@pytest.mark.parametrize("drop_one", [False, True])
def test_wrong_plan_result_is_counted_as_failure(monkeypatch, drop_one):
    from iceberg_tools_spark.iceberg import snapshots

    root = "/warehouse/t"
    spec = gen.meta_table_spec(1, "compact")
    q = gen.meta_queries(1, spec)
    want = q["plans"]["region"]["files"]
    rows = [
        _Row(manifest_name="m.avro", file_path=f"file://{root}/{p}", selected=True)
        for p in want[: len(want) - drop_one]
    ]
    monkeypatch.setattr(snapshots, "plan_scan", lambda *a, **k: _Rows(rows))

    wl = workloads.MetaPlan()
    wl.spark = None
    wl.tables = {"compact": (root, "unused", q)}
    wl.cycle = 1
    samples = run.measure(wl, iter([wl._plan("compact", "region")]), 0, 0)
    assert len(samples) == 1
    assert (samples[0].error is not None) == drop_one


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    doc = _benchmark()
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in doc["workloads"]] == list(workloads.WORKLOADS)
    assert doc["paths"] == ["perfbench"]


def test_layer_metrics_emit_every_per_layer_name():
    s = metrics.Sample(0, "plan", "plan", 0.0, 10.0, None, {"entries_read": 5})
    out = {
        **metrics.latency_metrics([s]),
        **metrics.layer_metrics(spans.Tracer(), [s], []),
    }
    # run.py adds the raw throughput, the host probe, the session
    # timings and the tracing overhead
    extra = {
        "ops_per_s", "host.probe_ms", "session.start_ms", "session.warmup_ms",
        "trace.overhead_pct",
    }
    assert set(out) | extra == set(metrics.PER_LAYER)


def test_tail_needs_ten_samples_beyond_it():
    assert metrics.tail([1.0] * 10) == (0.0, 0.0, 10)
    v, pct, n = metrics.tail([float(i) for i in range(200)])
    assert pct == 95.0 and n == 200 and 188 < v < 190


def test_ops_per_s_uses_the_mix_of_the_first_cycle():
    mk = lambda i, name, ms: metrics.Sample(i, "plan", name, 0.0, ms, None)  # noqa: E731
    samples = [mk(0, "a", 1000.0), mk(1, "b", 3000.0), mk(2, "a", 1000.0)]
    # one a and one b per cycle: 2 operations per 4 s
    assert metrics.ops_per_s(samples, 2) == pytest.approx(0.5)
    # the same, on a host running at half speed: every probe doubles
    for s, probe in zip(samples, (0.5, 0.5, 0.5)):
        s.probe_s = probe
    slow = [metrics.Sample(s.op_id, s.cls, s.name, 0.0, 2 * s.ms, None) for s in samples]
    for s in slow:
        s.probe_s = 1.0
    assert metrics.ops_per_probe(samples, 2) == pytest.approx(metrics.ops_per_probe(slow, 2))
