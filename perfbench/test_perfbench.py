"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re

import pytest

import corpus
import eventlog
import report
from checks import check_ranked

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


SMALL = corpus.CorpusSpec(n_docs=40, n_entities=200, n_queries=4)


def test_same_seed_same_inputs():
    a, b = corpus.generate(SMALL, 7), corpus.generate(SMALL, 7)
    assert a.digest() == b.digest()
    assert a.properties() == b.properties()
    assert corpus.generate(SMALL, 8).digest() != a.digest()


def test_inputs_have_the_declared_shape():
    inp = corpus.generate(corpus.CorpusSpec(n_docs=400, n_entities=300), 3)
    props = inp.properties()
    assert props["docs"] == 400
    assert 150 <= props["words_per_doc_min"] <= props["words_per_doc_max"] <= 450
    assert 0.25 <= props["hot_entity_doc_share"] <= 0.35
    gaz = dict(inp.gazetteer)
    assert len(gaz) == 300 and all(" " not in w for w in gaz)
    # filler never collides with an entity surface form
    filler = {w for _, t in inp.docs for w in t.split(" ") if w not in gaz}
    assert filler and not any(w[0].isupper() for w in filler)
    assert inp.oracle_docs()[0][0] == "doc_0"


def _write_log(tmp_path) -> str:
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    def task(stage, cpu_ns, run_ms, py_ms, sent, shuffle):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            },
            "Task Info": {"Accumulables": [
                {"ID": 1, "Name": eventlog.PY_RUN, "Update": str(py_ms)},
                {"ID": 2, "Name": eventlog.PY_SENT, "Update": str(sent)},
                {"ID": 3, "Name": eventlog.PY_RETURNED, "Update": str(2 * sent)},
                {"ID": 4, "Name": "number of output rows", "Update": "9"},
            ]},
        }
    part1 = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 1000, "Properties": {"spark.jobGroup.id": "ner"}},
        task(0, 2_000_000, 5, 3, 100, 0),
        task(1, 1_000_000, 4, 0, 0, 50),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
    ]
    part2 = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Submission Time": 1500, "Properties": {"spark.jobGroup.id": "retrieval"}},
        task(2, 4_000_000, 7, 0, 0, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Submission Time": 1700, "Properties": {}},
        task(3, 1_000_000, 1, 0, 0, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1750},
    ]
    # parts are read in numeric order, not name order
    for n, events in ((2, part1), (10, part2)):
        with open(d / f"events_{n}_local-1", "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in events)
    return str(tmp_path)


def test_fold_attributes_tasks_to_job_groups(tmp_path):
    groups = eventlog.fold(_write_log(tmp_path))
    ner, ret = groups["ner"], groups["retrieval"]
    assert (ner.jobs, ner.tasks) == (1, 2)
    assert ner.task_cpu_ms == pytest.approx(3.0)
    assert ner.python_ms == 3 and ner.arrow_bytes == 300
    assert ner.shuffle_write_bytes == 50
    assert ner.job_intervals == [(1000, 1400)]
    # stage 1 belongs to the first job that listed it
    assert (ret.jobs, ret.tasks, ret.task_cpu_ms) == (1, 1, pytest.approx(4.0))
    assert groups["untagged"].tasks == 1


def test_uncovered_ms():
    assert eventlog.uncovered_ms(0, 100, []) == 100
    assert eventlog.uncovered_ms(0, 100, [(10, 30), (20, 40), (90, 200)]) == 60
    assert eventlog.uncovered_ms(50, 60, [(0, 1000)]) == 0


def _fake_tour() -> report.Tour:
    t = report.Tour(docs=10, raw_hits=10, mentions=9, re_chunks=4, gated_chunks=3,
                    parsed_relations=8, relations=7, session_start_s=1.0, index_s=0.5,
                    sinks_s=0.2, ingest_fresh_s=1.0, ingest_resume_s=0.3, input_bytes=100)
    for layer in report.STAGE_LAYERS:
        t.stage_wall_s[layer], t.stage_rows[layer] = 0.1, 5
    t.checkpoint_wall_s = {s: 0.1 for s in report.CHECKPOINT_STAGES}
    t.retrieval_s = t.ann_s = t.pagerank_s = t.answer_s = [0.2, 0.3]
    t.query_spans = [(1.0, 1.2), (2.0, 2.3)]
    return t


def test_every_declared_metric_is_emitted_with_a_valid_name():
    spec = _spec()
    window = report.Window([1.0, 2.0, 3.0], [1.0, 1.0, 1.0])
    e2e = report.e2e_metrics([3.0, 1.0, 2.0], window, 100.0)
    layers = report.layer_metrics(_fake_tour(), {}, window)
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert set(e2e) == set(e2e_units) and e2e_units == report.E2E_UNITS
    assert set(layers) == set(layer_units) and layer_units == report.layer_units()
    for name in [*e2e_units, *layer_units]:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name) and len(name) <= 64
    out = report.with_units(e2e, e2e_units)
    assert out["setup_s"] == {"value": 2.0, "unit": "s"}
    assert out["op_ms_p50"]["value"] == 2000.0
    assert layers["retrieval.driver_ms"] == pytest.approx(250.0)


def test_window_reports_medians_over_every_timed_op():
    w = report.Window([1.0, 1.1, 9.0, 1.2], [2.0, 2.0, 9.0, 3.0], [0.1, 0.0, 8.0, 0.5])
    assert w.op_ms_p50() == pytest.approx(1150.0)
    assert w.cpu_s_op() == pytest.approx(2.5)
    assert w.done(12.2) and not w.done(12.4)


def test_benchmark_json_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(spec["workloads"]) <= 8
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))


def test_check_ranked():
    ref = [("d1", 0.5), ("d2", 0.4), ("d3", 0.3)]
    assert check_ranked([("d1", 0.5), ("d2", 0.4)], ref, 2, "q") == []
    assert check_ranked([("d1", 0.5)], ref, 2, "q")
    assert check_ranked([("d1", 0.5), ("d3", 0.3)], ref, 2, "q")  # left out d2
    assert check_ranked([("d2", 0.4), ("d1", 0.5)], ref, 2, "q")  # order
