"""Unit tests of the benchmark's own code.

    python -m pytest perfbench/tests -q

The memory-sampler test starts a small local Spark session (two cores).
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpora, entry, kg  # noqa: E402
from perfbench.measure import (  # noqa: E402
    MemorySampler,
    process_tree,
    row_digest,
)

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_synthetic_corpus_is_deterministic_per_seed():
    a, b = corpora.synthetic_corpus(7), corpora.synthetic_corpus(7)
    assert a.rows == b.rows
    assert (a.extends, a.ancestors) == (b.extends, b.ancestors)


def test_synthetic_corpora_differ_across_seeds_but_keep_their_shape():
    a, b = corpora.synthetic_corpus(7), corpora.synthetic_corpus(8)
    assert {r[4] for r in a.rows}.isdisjoint({r[4] for r in b.rows
                                              if "class " in r[4]})
    assert len(a.rows) == len(b.rows)
    assert sorted(r[1] for r in a.rows) == sorted(r[1] for r in b.rows)


def test_synthetic_expected_answers_are_consistent():
    c = corpora.synthetic_corpus(3)
    assert c.extends_required <= c.extends
    assert c.ancestors_required <= c.ancestors
    assert c.extends <= c.ancestors
    # some bases are reached only through wildcard re-export chains
    assert c.extends_required < c.extends
    assert not c.libraries & set(corpora.UNUSED_DEPS)
    repos = {r[0] for r in c.rows}
    assert set(c.roots) | set(c.unreferenced) <= repos


def test_pyspark_corpus_only_order_depends_on_seed():
    a, b = corpora.pyspark_corpus(1), corpora.pyspark_corpus(2)
    assert a != b
    assert sorted(a) == sorted(b)
    assert {r[0] for r in a} == {"pyspark", "py4j", "jmespath"}


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"] + bench["per_layer"]
    for m in metrics:
        assert NAME.fullmatch(m["name"]), m["name"]
    assert len({m["name"] for m in metrics}) == len(metrics)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(
        kg.PER_LAYER)
    for w in bench["workloads"]:
        assert NAME.fullmatch(w["name"])
        kg.make_workload(w["name"], 0)


def test_driver_queries_have_oracles_and_data():
    import __spark_entry__

    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    assert len(entry.HEADLINE) == 17
    assert set(entry.HEADLINE) <= set(queries) & set(oracles)
    for t in entry.TABLES:
        assert os.path.isfile(os.path.join(entry.DATA, f"{t}.parquet"))


def test_result_hash_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, None, float("nan")), (3, "c", True)]
    h = entry.result_hash(rows, ["k", "s", "x"])
    assert entry.result_hash(rows[::-1], ["k", "s", "x"]) == h
    assert entry.result_hash([(s, k, x) for k, s, x in rows],
                             ["s", "k", "x"]) == h
    assert entry.result_hash(rows[:2], ["k", "s", "x"]) != h
    assert entry.result_hash([(1, "a", 0.25)] + rows[1:],
                             ["k", "s", "x"]) != h


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = ROOT + (
        os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH") else "")
    from codeontologypython_spark.session import get_spark

    s = get_spark(cpus=2, shuffle_partitions=4, app_name="perfbench-tests",
                  extra_conf={"spark.driver.memory": "1g"})
    yield s
    s.stop()


def test_digest_does_not_depend_on_row_order():
    rows = [(f"s{i}", "p", f"o{i % 3}", i % 2 == 0, None) for i in range(50)]
    d = row_digest(rows)
    assert row_digest(rows[::-1]) == d
    assert row_digest(sorted(rows, key=lambda r: r[2])) == d
    assert row_digest(rows[:-1] + [("s49", "p", "x", False, None)]) != d
    assert row_digest(rows + rows[:1]) != d
    assert row_digest(rows[1:]) != d


def test_digest_stringifies_values_like_spark_casts():
    """Booleans hash as true/false and nulls as \\x00, as Spark's string
    casts render them."""
    assert row_digest([("a", True, None)]) == row_digest([("a", "true",
                                                           "\x00")])


def test_memory_sampler_finds_jvm_and_python_workers(spark):
    import pandas as pd

    def identity(batches):
        for b in batches:
            yield pd.DataFrame({"id": b["id"]})

    # a Python UDF job starts the worker daemon and its workers
    spark.range(100, numPartitions=2).mapInPandas(identity, "id long").count()
    commands = []
    for pid in process_tree()[1:]:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            commands.append(f.read().replace(b"\0", b" ").decode())
    assert any("org.apache.spark.deploy.SparkSubmit" in c for c in commands)
    assert any("pyspark.daemon" in c for c in commands)
    sampler = MemorySampler()
    own_kb = sampler.sample()
    with open("/proc/self/smaps_rollup") as f:
        self_kb = next(int(line.split()[1]) for line in f
                       if line.startswith("Pss:"))
    assert own_kb > self_kb
    assert sampler.peak_mb == own_kb / 1024.0
