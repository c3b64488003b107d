"""Pure-function tests for the benchmark's measurement code."""

import json
import os

import pytest

import datagen
import measure
from workloads import END_TO_END, PER_LAYER, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def test_percentile_needs_ten_samples_beyond_it():
    assert measure.supports_percentile(20, 0.5)
    assert not measure.supports_percentile(19, 0.5)
    assert measure.supports_percentile(100, 0.9)
    assert not measure.supports_percentile(99, 0.9)
    assert measure.supports_percentile(1000, 0.99)
    assert not measure.supports_percentile(999, 0.99)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert measure.percentile(xs, 0.9) == 90
    assert measure.percentile(xs, 0.5) == 50
    assert measure.percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        measure.percentile([], 0.5)


def _span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "name": name, "start": start,
            "end": end}


def test_self_time_subtracts_children_once_and_clips():
    spans = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 1.0, 4.0, "build"),
        _span(2, 0, 3.0, 6.0, "action"),     # overlaps build: 1..6 covered
        _span(3, 0, 9.0, 12.0, "cleanup"),   # runs past the parent: 9..10
        _span(4, 1, 1.5, 2.0, "inner"),
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    by_name = measure.self_time_by_name(spans)
    assert by_name["op"] == pytest.approx(4.0)


def test_tracer_nests_and_shares_op_id():
    tr = measure.Tracer()
    with tr.span("op", op="p0:q1"):
        with tr.span("build"):
            pass
        with tr.span("action"):
            pass
    op, build, action = tr.spans
    assert build["parent"] == op["id"] and action["parent"] == op["id"]
    assert {s["op"] for s in tr.spans} == {"p0:q1"}
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_core_busy_share():
    assert measure.core_busy_share(4.0, 2.0, 4) == pytest.approx(0.5)
    assert measure.core_busy_share(0.0, 1.0, 4) == 0.0
    with pytest.raises(ValueError):
        measure.core_busy_share(1.0, 0.0, 4)


def test_fold_stages_counts_skipped_and_sums_the_rest():
    st = {v: 1 for v in measure.STAGE_FIELDS.values()}
    d = measure.fold_stages([st, st, {"skipped": True}])
    assert d["stages"] == 3 and d["skipped"] == 1 and d["run_ms"] == 2
    d["jobs"] = 2
    m = measure.exec_metrics([d], [1.0], cores=2)
    assert m["exec.stage_reuse_share"] == pytest.approx(1 / 3)
    assert m["exec.core_busy_share"] == pytest.approx(0.002 / 2)


def _take(gen, n):
    return [next(gen) for _ in range(n)]


def test_changesets_are_a_function_of_the_seed():
    a = _take(datagen.changesets(7, 1000), 3)
    b = _take(datagen.changesets(7, 1000), 3)
    c = _take(datagen.changesets(8, 1000), 3)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not a[0].equals(c[0])


def test_changesets_shape():
    batches = _take(datagen.changesets(1, 10_000, n_inserts=100), 3)
    seqs = [s for b in batches for s in b.column("seq").to_pylist()]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    first = batches[0].column("o_orderkey").to_pylist()
    assert len(first) - len(set(first)) == 30        # duplicate keys in-batch
    assert sum(k >= 10_000 for k in first) == 100    # inserts
    assert batches[0].schema == datagen.CHANGESET_SCHEMA


def test_base_tables_are_deterministic():
    a, b = datagen.base_tables(0.001), datagen.base_tables(0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == [p[:3] for p in PER_LAYER]
