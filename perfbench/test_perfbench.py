"""Self-tests of the benchmark's own instruments.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

import os
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import corpus as corpus_mod  # noqa: E402
from probes import MB, RssSampler, Span, Tracer, layer_table, self_time  # noqa: E402
from workloads import Output, check_output  # noqa: E402


@pytest.mark.parametrize("mix", corpus_mod.MIXES)
def test_corpus_same_seed_same_digest(mix):
    digest = corpus_mod.self_check(mix, 400, seed=7)
    assert corpus_mod.generate(mix, 400, seed=8).digest() != digest
    c = corpus_mod.generate(mix, 400, seed=7)
    assert len(c.docs) == 400
    assert c.docs["doc_id"].tolist() == list(range(400))
    for group in c.exact_groups:
        assert 2 <= len(group) <= 4
        assert c.docs.loc[group, "content"].nunique() == 1


def test_suite_tables_same_seed_same_content():
    import suite

    (docs, embs), (docs2, embs2) = suite.generate(5), suite.generate(5)
    pd.testing.assert_frame_equal(docs, docs2)
    pd.testing.assert_frame_equal(embs, embs2)
    assert not docs.equals(suite.generate(6)[0])
    assert len(docs) == suite.N_DOCS and len(embs) == suite.N_VECS
    # planted byte copies: exact dedup has something to remove
    assert suite.expected_rows(docs)["exact_dedup"] < suite.N_DOCS


def _output_for(c, keep):
    docs = c.docs.set_index("doc_id").loc[sorted(keep)]
    import hashlib

    return Output(survivors=pd.DataFrame({
        "doc_id": docs.index.tolist(),
        "sha": [hashlib.sha256(t.encode()).hexdigest() for t in docs["content"]],
    }))


def test_check_output_catches_each_violation():
    import hashlib

    c = corpus_mod.generate("unique", 300, seed=3)
    sha = {i: hashlib.sha256(t.encode()).hexdigest() for i, t in zip(c.docs["doc_id"], c.docs["content"])}
    dropped = {i for g in c.exact_groups for i in g if i != min(g)}
    keep = set(range(300)) - dropped
    assert check_output(_output_for(c, keep), c, sha) == []

    group = c.exact_groups[0]
    wrong_member = (keep - {min(group)}) | {max(group)}
    assert any("exact-duplicate" in e for e in check_output(_output_for(c, wrong_member), c, sha))

    tampered = _output_for(c, keep)
    tampered.survivors.loc[0, "sha"] = "0" * 64
    assert any("differs" in e for e in check_output(tampered, c, sha))

    counted = _output_for(c, keep)
    counted.reported_after = len(keep) + 1
    assert any("reported" in e for e in check_output(counted, c, sha))


def test_self_time_subtracts_children():
    spans = [
        Span(0, "parent", None, "r", 0.0, 10.0),
        Span(1, "a", 0, "r", 1.0, 3.0),
        Span(2, "b", 0, "r", 3.0, 5.0),
        Span(3, "grandchild", 1, "r", 1.5, 2.0),
    ]
    assert self_time(spans[0], spans) == pytest.approx(6.0)
    assert self_time(spans[1], spans) == pytest.approx(1.5)
    table = layer_table(spans)
    assert table["parent"]["wall_s"] == pytest.approx(10.0)
    # self times of sequential spans add up to the root's wall time
    assert sum(row["self_s"] for row in table.values()) == pytest.approx(10.0)


def test_rss_sampler_counts_child_processes():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time; b = bytearray(300 * 1024 * 1024); time.sleep(3)"]
    )
    try:
        time.sleep(1.0)
        with RssSampler(interval=0.05) as rss:
            time.sleep(0.5)
            peak = rss.take_peak()
        assert rss.samples >= 2
        assert peak["python"] >= 300 * MB
        assert peak["total"] == peak["python"]  # no JVM in this tree
        assert peak["worker"] >= 300 * MB  # the child alone
        assert 0 < peak["driver"] < peak["python"]
    finally:
        child.kill()
        child.wait(timeout=10)


@pytest.fixture(scope="module")
def spark():
    from sparkdedup.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_status_store_counters_per_span(spark):
    from operator import add

    sc = spark.sparkContext
    tr = Tracer(spark, run_id="selftest")
    pairs = sc.parallelize(range(20000), 4).map(lambda x: (x % 97, 1)).reduceByKey(add, 4)
    with tr.span("shuffle") as first:
        assert len(pairs.collect()) == 97
    with tr.span("reuse") as second:
        # same RDD: its map stage is skipped and must count nothing
        assert len(pairs.collect()) == 97
    with tr.span("nothing") as idle:
        pass
    tr.collect_spark()

    assert first.spark["shuffle_write_mb"] > 0
    assert first.spark["shuffle_read_mb"] > 0
    assert first.spark["task_run_s"] > 0
    assert second.spark["shuffle_write_mb"] == 0
    assert second.spark["shuffle_read_mb"] > 0
    for span in (first, second, idle):
        assert span.spark["jobs"] == len(sc.statusTracker().getJobIdsForGroup(span.group))
    assert (first.spark["jobs"], second.spark["jobs"], idle.spark["jobs"]) == (1, 1, 0)


def test_nested_spans_attribute_jobs_to_innermost(spark):
    tr = Tracer(spark, run_id="nested")
    with tr.span("outer") as outer:
        spark.range(1000).selectExpr("id % 5 AS k").groupBy("k").count().collect()
        with tr.span("inner") as inner:
            # library code may set its own job description
            spark.sparkContext.setJobDescription("library:stage")
            spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
        spark.range(10).count()
    tr.collect_spark()
    tracker = spark.sparkContext.statusTracker()
    assert outer.spark["jobs"] == len(tracker.getJobIdsForGroup(outer.group)) >= 2
    assert inner.spark["jobs"] == len(tracker.getJobIdsForGroup(inner.group)) >= 1
    assert inner.spark["shuffle_write_mb"] > 0
    table = layer_table(tr.spans)
    assert table["outer"]["jobs"] == outer.spark["jobs"] + inner.spark["jobs"]
    assert table["outer"]["shuffle_write_mb"] == pytest.approx(
        outer.spark["shuffle_write_mb"] + inner.spark["shuffle_write_mb"]
    )


def test_benchmark_json_lists_what_run_reports():
    import json

    import run
    from workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
