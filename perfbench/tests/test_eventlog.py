"""Stage classification and folding on a recorded event-log fragment.

``data/events_fragment.jsonl`` is one fused ``extract_docs`` execution into
the noop sink (16k docs, local[4], Spark 4.1.2), trimmed to its SQL, job,
stage and first task events, with the job description relabelled as the
benchmark span that launched it.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog as E  # noqa: E402
import metrics as M  # noqa: E402
from tracing import covered, self_times  # noqa: E402


def _fragment() -> list[dict]:
    with open(os.path.join(HERE, "data", "events_fragment.jsonl")) as f:
        return [json.loads(line) for line in f]


def test_classify_by_operators_not_stage_name():
    cases = {
        "kernel": {"Exchange", "MapInArrow", "ObjectHashAggregate"},
        "write": {"InMemoryTableScan", "WriteFiles"},
        "explode": {"Scan parquet", "Generate", "Exchange"},
        "merge": {"AQEShuffleRead", "ObjectHashAggregate", "Exchange"},
        "broadcast": {"Scan parquet", "BroadcastExchange"},
        "scan": {"Scan parquet", "HashAggregate", "Exchange"},
        "tail": {"AQEShuffleRead", "BroadcastHashJoin"},
        "other": {"mapPartitions", "parallelize"},
    }
    for layer, ops in cases.items():
        assert E.classify(ops) == layer, (layer, ops)
    # the write of a cached extraction still counts as the write
    assert E.classify({"Execute InsertIntoHadoopFsRelationCommand",
                       "InMemoryTableScan"}) == "write"


def test_fold_fragment_into_layers_under_the_launching_span():
    folded = E.fold(_fragment())
    stages = folded["stages"]
    # every stage name is the same uninformative call site
    assert {s["stage_id"] for s in stages} == {13, 14, 16, 19, 21}
    assert {s["span"] for s in stages} == {10}
    by_layer = {s["layer"]: s for s in stages}
    assert sorted(by_layer) == ["explode", "kernel", "merge", "scan", "tail"]

    kernel = by_layer["kernel"]
    assert kernel["tasks"] == 3 and kernel["task_ms"] == [722, 762, 876]
    for name in ("time to initialize Python workers",
                 "time to run Python workers", "data sent to Python workers",
                 "data returned from Python workers"):
        assert kernel["sql"][name] > 0, name
    # the explode stage writes one exchange record per span row
    assert by_layer["explode"]["shuffle_write_records"] == 37664
    assert by_layer["merge"]["shuffle_read_bytes"] > 0

    (ex,) = folded["executions"].values()
    assert "MapInArrow" in ex["nodes"]
    # docs scanned twice (kernel path + doc-id spine), four exchanges
    assert E.plan_counts(ex["final_plan"]) == {"scans": 2, "exchanges": 4}


def test_self_time_subtracts_children_and_stages():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    spans = [{"id": 0, "parent": None, "start": 0.0, "end": 10.0},
             {"id": 1, "parent": 0, "start": 1.0, "end": 4.0}]
    stages = [{"span": 0, "submit_ms": 3000, "complete_ms": 6000},
              {"span": 1, "submit_ms": 1000, "complete_ms": 2000}]
    got = self_times(spans, stages)
    assert got == {0: 5.0, 1: 2.0}


def test_benchmark_json_matches_the_metric_registry():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                           "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert M.UNITS[m["name"]] == m["unit"], m
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])
