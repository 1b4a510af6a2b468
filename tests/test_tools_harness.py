"""Guards for the one-session, one-timing-loop design of bench.py and
tools/: every script gets its SparkSession from ``session.get_spark``,
imports the engine of its own checkout, every A/B experiment declares
pairs that tools/ab.py can check, and every A/B decision the code cites
is a row of artifacts/ab/DECISIONS.md. Guards on the shape of the
package and tools/: no block is written twice, and no parameter goes
unset. Needs no 100x replica."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import re
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "wikipedia_data_pipeline_spark")
TOOLS = os.path.join(ROOT, "tools")
SESSION_PY = os.path.join(PACKAGE, "session.py")
DECISIONS_MD = os.path.join(ROOT, "artifacts", "ab", "DECISIONS.md")
BUILDER = "SparkSession" + ".builder"  # split so this file does not match


def _python_files():
    for sub in ("wikipedia_data_pipeline_spark", "tools", "tests"):
        yield from glob.glob(os.path.join(ROOT, sub, "**", "*.py"), recursive=True)
    yield os.path.join(ROOT, "bench.py")


def _experiments():
    return sorted(
        os.path.basename(p)[len("ab_"):-len(".py")]
        for p in glob.glob(os.path.join(ROOT, "tools", "ab_*.py"))
    )


def _files_containing(literal: str) -> list[str]:
    found = []
    for path in _python_files():
        with open(path, encoding="utf-8") as f:
            if literal in f.read():
                found.append(os.path.relpath(path, ROOT))
    return found


# A line that carries no decision on its own: blank, a comment, a lone
# bracket or a docstring fence.
_NOISE_LINE = re.compile(r'^(#.*|[()\[\]{}]|"""|)$')
CLONE_MIN_LINES = 10


def _normalized_lines(path: str) -> list[tuple[int, str]]:
    with open(path, encoding="utf-8") as f:
        stripped = [(i, line.strip()) for i, line in enumerate(f, 1)]
    return [(i, s) for i, s in stripped if not _NOISE_LINE.match(s)]


def _repeated_regions(paths, n: int) -> list[str]:
    """Each maximal run of normalized lines, n or more long, whose every
    n-line window already appeared earlier in ``paths``."""
    first_seen: dict[tuple[str, ...], tuple[str, int]] = {}
    regions: list[str] = []
    for path in paths:
        lines = _normalized_lines(path)
        run_end = -1
        for k in range(len(lines) - n + 1):
            window = tuple(s for _, s in lines[k : k + n])
            where = first_seen.setdefault(window, (path, k))
            if where == (path, k):
                continue
            if k != run_end + 1:
                src, at = where
                regions.append(
                    f"{os.path.relpath(path, ROOT)}:{lines[k][0]} repeats "
                    f"{os.path.relpath(src, ROOT)}:{_normalized_lines(src)[at][0]}"
                )
            run_end = k
    return regions


def test_no_block_of_package_code_is_written_twice():
    """Each shared relation, SQL fragment or helper has one definition:
    no run of CLONE_MIN_LINES normalized lines appears twice in the
    package and tools/. A decided A/B variant is a row of
    artifacts/ab/DECISIONS.md, not a copy of a registered query kept in
    tools/."""
    scanned = sorted(
        p for p in _python_files()
        if p.startswith((PACKAGE + os.sep, TOOLS + os.sep))
    )
    regions = _repeated_regions(scanned, CLONE_MIN_LINES)
    assert not regions, f"{len(regions)} repeated regions: {regions}"


# Deployment settings: where a run's data lands or which store it talks
# to. The caller that sets them runs the engine, not code in this repo.
DEPLOYMENT_SETTINGS = {
    ("streaming/pipeline.py", "run_foreach_batch_compaction", "store_dir"),
    ("streaming/pipeline.py", "run_streaming_mv", "store_dir"),
    ("sources/objectstore.py", "configure_object_store", "extra"),
    ("sources/maintenance.py", "compact", "fmt"),
}


def _defaulted_parameters(tree: ast.Module):
    """(function, parameter, position or None) for each defaulted
    parameter of each undecorated module-level function in ``tree``."""
    for node in tree.body:
        if not isinstance(node, ast.FunctionDef) or node.decorator_list:
            continue
        a = node.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        for i, arg in enumerate(positional[first:], first):
            yield node.name, arg.arg, i
        for arg, default in zip(a.kwonlyargs, a.kw_defaults):
            if default is not None:
                yield node.name, arg.arg, None


def test_every_defaulted_parameter_has_a_caller_that_sets_it():
    """A default that no call overrides is a constant with a setting
    nobody uses: each one doubles the configurations tests and benchmarks
    would have to cover. So every defaulted parameter of a package
    function is passed, by position or keyword, by some call of that
    function's name in the package, tools/, tests/, perfbench/,
    bench.py or __spark_entry__.py. Deployment settings are exempt."""
    files = list(_python_files()) + glob.glob(
        os.path.join(ROOT, "perfbench", "**", "*.py"), recursive=True
    )
    files.append(os.path.join(ROOT, "__spark_entry__.py"))
    n_positional: dict[str, int] = {}
    keywords: dict[str, set[str]] = {}
    defaulted = []
    for path in sorted(files):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        if path.startswith(PACKAGE + os.sep):
            rel = os.path.relpath(path, PACKAGE)
            defaulted += [(rel, *d) for d in _defaulted_parameters(tree)]
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = getattr(fn, "id", None) or getattr(fn, "attr", None)
            if name is None:
                continue
            n_positional[name] = max(n_positional.get(name, 0), len(node.args))
            keywords.setdefault(name, set()).update(k.arg for k in node.keywords)
    never_set = [
        f"{rel}: {fn}({param})"
        for rel, fn, param, pos in defaulted
        if (rel, fn, param) not in DEPLOYMENT_SETTINGS
        and not (pos is not None and n_positional.get(fn, 0) > pos)
        and param not in keywords.get(fn, ())
    ]
    assert not never_set, f"{len(never_set)} never-set parameters: {never_set}"


def test_only_session_py_builds_a_spark_session():
    offenders = _files_containing(BUILDER)
    assert offenders == [os.path.relpath(SESSION_PY, ROOT)], offenders


def test_no_file_names_a_fixed_checkout():
    """Scripts and tests put their own checkout on sys.path, derived
    from __file__, so a copy of the repo imports its own engine: no file
    names this checkout's absolute path or puts a literal on sys.path."""
    literal = "sys.path.insert(0" + ', "'  # split so this file does not match
    offenders = _files_containing(ROOT) + _files_containing(literal)
    assert not offenders, offenders


def test_python_workers_import_the_engine_from_any_directory(sf_dir, tmp_path):
    """Python workers import the engine too (here: the Python data
    source behind source_wikidoc_roundtrip), so session.get_spark puts
    the checkout on their path: the gate passes when started from a
    directory outside the checkout with no PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["WDP_DRIVER_MEMORY"] = "2g"  # one sf0.001 key beside this session
    run = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "check_oracle.py"),
         sf_dir, "source_wikidoc_roundtrip"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stdout[-2000:] + run.stderr[-2000:]


def test_ab_experiments_are_found():
    assert _experiments()


@pytest.mark.parametrize("name", _experiments())
def test_ab_experiment_pairs_name_registered_queries(name):
    exp = importlib.import_module(f"tools.ab_{name}")
    queries = registry.spark_queries()
    assert exp.ARTIFACT.startswith("AB_") and exp.ARTIFACT.endswith(".json")
    assert exp.ARTIFACT[: -len(".json")] in _decision_ids()
    assert exp.PAIRS
    for registered, variant in exp.PAIRS:
        assert registered in queries, registered
        assert callable(variant)


# An A/B citation: the artifact stem of a decision, e.g. AB_KMV_r11 in
# "AB_KMV_r11.json"; \b keeps names like _AB_VALUE_SCAN_CTES out. A
# probe citation names a section of a SCALE_PROBE artifact, e.g.
# SCALE_PROBE_r10:bucketed_join_ab; the older dotted form
# (SCALE_PROBE_rNN.<section>) names no row, so it is caught too.
_AB_CITATION = re.compile(r"\bAB_\w+|\bSCALE_PROBE_r\d+(?::|\.(?!json\b))\w+")


def _decision_ids() -> set[str]:
    """First cell of each row of the decision table: the row id."""
    with open(DECISIONS_MD, encoding="utf-8") as f:
        return {
            line.split("|")[1].strip().strip("`")
            for line in f
            if line.startswith("| `")
        }


def test_every_cited_ab_decision_is_a_row_of_the_decision_table():
    """The package and tools/ cite A/B decisions by artifact stem or
    probe section; each one must name a row of artifacts/ab/DECISIONS.md,
    so a decision stays citable after its experiment is deleted."""
    ids = _decision_ids()
    cited = {}
    for path in _python_files():
        if not path.startswith((PACKAGE + os.sep, TOOLS + os.sep)):
            continue
        with open(path, encoding="utf-8") as f:
            for token in _AB_CITATION.findall(f.read()):
                cited.setdefault(token, os.path.relpath(path, ROOT))
    assert cited
    missing = {t: where for t, where in cited.items() if t not in ids}
    assert not missing, missing


def test_ab_equivalence_accepts_a_real_pair_and_rejects_a_wrong_variant(
    spark, sf_dir
):
    from tools import ab
    from tools.ab_hourly_twostep import hourly_twostep

    registered = registry.spark_queries()["events_hourly_rollup"]
    ok = ab.check_pair(spark, registered, hourly_twostep, sf_dir)
    assert ok["equivalent"] and ok["rows"] > 0 and not ok["same_plan"]

    def one_event_too_many(spark, sf_dir):
        return hourly_twostep(spark, sf_dir).withColumn(
            "n_events", F.col("n_events") + 1
        )

    assert not ab.check_pair(spark, registered, one_event_too_many, sf_dir)[
        "equivalent"
    ]
    # a variant that is the registered query itself is no experiment
    assert ab.check_pair(spark, registered, registered, sf_dir)["same_plan"]


def test_query_lists_of_the_tools_are_distinct_registered_keys():
    """The plan dumper and the probe each name a query once, and only
    registered queries: a duplicate repeats its row in PLANS.md or its
    timing in the probe."""
    import bench
    from tools import dump_plans, scale_probe

    keys = set(registry.spark_queries())
    for names in (bench.HEADLINE + dump_plans.EXTRA, scale_probe.PROBE,
                  scale_probe.FLOOR_ROWS):
        assert len(names) == len(set(names)), [
            n for n in set(names) if names.count(n) > 1
        ]
        assert set(names) <= keys, sorted(set(names) - keys)
