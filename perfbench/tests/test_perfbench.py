"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload end to end on the ``tiny`` inputs,
one Spark session each (about 40 s per run on 4 cores).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
LISTED = [w["name"] for w in SPEC["workloads"]]


def _run(*args, cwd=ROOT, script=os.path.join(BENCH, "run.py")):
    proc = subprocess.run(
        [sys.executable, script, *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines


def _result(lines):
    res = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    return res, detail


def _files(d):
    return sorted(
        os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs
    )


@pytest.mark.parametrize("kind", ["corpus", "small", "star"])
def test_generator_is_deterministic_per_seed(tmp_path, kind):
    a, b, c = (str(tmp_path / n) for n in ("a", "b", "c"))
    pa = gen.BUILDERS[kind](7, "tiny", a)
    pb = gen.BUILDERS[kind](7, "tiny", b)
    gen.BUILDERS[kind](8, "tiny", c)
    assert pa == pb
    names = _files(a)
    assert names == _files(b) and names
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert mismatch, "a different seed must give different inputs"


def test_corpus_has_the_stated_properties(tmp_path):
    props = gen.build_corpus(3, "tiny", str(tmp_path))
    assert props["docs"] == gen.CORPUS_SIZES["tiny"][0]
    assert props["distinct_texts"] < props["docs"]  # planted exact duplicates
    assert 0 < props["exact_dup_share"] < 0.1 and 0 < props["near_dup_share"] < 0.1
    q1, q2, q3 = props["doc_tokens_quartiles"]
    assert gen.MIN_TOKENS <= q1 < q2 < q3 <= gen.MAX_TOKENS


def test_metric_names_equal_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert set(LISTED) <= set(run.WORKLOADS)


def test_query_floor_takes_one_query_per_module():
    sys.path.insert(0, ROOT)
    from wikipedia_data_pipeline_spark import registry
    from workloads import QueryFloor

    fns, oracles = registry.spark_queries(), registry.oracle_queries()
    picked = [fns[n].__module__.rsplit(".", 1)[1] for n in QueryFloor.names]
    assert len(picked) == len(set(picked)) >= 12
    assert all(n in oracles for n in QueryFloor.names)
    assert set(QueryFloor.names) & registry.eager_queries()
    assert "streaming_queries" in picked


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_end_to_end(workload):
    code, lines = _run("--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "0", "--size", "tiny")
    res, detail = _result(lines)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert set(res["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert res["attempted"] == len(detail["ops"]) and res["failed"] == 0
    if workload not in LISTED and not res["correct"]:
        pytest.xfail(
            "wiki_corpus: the engine's tf/tf_idf rounding (Spark round) differs from the tfidf_full "
            "oracle (DuckDB round) at binary near-ties; see CHANGES.md"
        )
    assert res["correct"] and code == 0, detail["mismatches"]


def test_traced_run_reports_every_layer():
    code, lines = _run("--workload", "query_floor", "--seed", "5", "--seconds", "2", "--trace", "1", "--size", "tiny")
    res, detail = _result(lines)
    assert code == 0 and res["correct"]
    assert set(res["metrics"]) == set(run.PER_LAYER)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.tasks"] >= m["spark.stages"] > 0
    assert m["queries.build_s"] > 0 and m["plans.plan_s"] > 0 and m["trace.overhead_ratio"] > 0
    assert detail["per_op"] and os.path.exists(
        os.path.join(BENCH, ".out", "spans-query_floor-s5.json")
    )


def test_injected_failure_raises_error_rate():
    code, lines = _run(
        "--workload", "star_analytics", "--seed", "5", "--seconds", "1", "--trace", "0", "--size", "tiny",
        "--inject-fail", "q3_shipping_priority",
    )
    res, detail = _result(lines)
    assert code == 1 and not res["correct"]
    # the operation fails in every pass, the untimed ones too
    assert res["failed"] == sum(o["op"] == "q3_shipping_priority" for o in detail["ops"]) > 1
    assert detail["error_rate"] == res["failed"] / res["attempted"] > 0


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".*", "__pycache__"))
    code, lines = _run(
        "--workload", LISTED[0], "--seed", "1", "--seconds", "1", "--trace", "0",
        cwd=tmp_path, script=str(tmp_path / "perfbench" / "run.py"),
    )
    assert code != 0 and not lines
