"""Tests of the benchmark's own helpers (run: python -m pytest perfbench/tests)."""

import hashlib
import json
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from bench import materialize
from ocr_spark.data.generate import TOOLS
from ocr_spark.pipeline import TRANSCRIPT_SCHEMA, extract_transcripts
from perfbench import corpus
from perfbench.probes import (
    PlanCapture,
    digest,
    digest_equal,
    digest_of,
    observe_digest,
    python_metrics,
)
from perfbench.run import END_TO_END, Runner
from perfbench.workloads import PER_LAYER, Ctx, Outcome, extraction_plan, failed_turns

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fingerprint(path: str) -> str:
    """sha256 over the bytes of a parquet directory's part files, in part
    order (the part file names carry a random job id, their bytes do not)."""
    parts = sorted(
        (int(name.split("-")[1]), name)
        for name in os.listdir(path)
        if name.startswith("part-")
    )
    h = hashlib.sha256()
    for idx, name in parts:
        h.update(idx.to_bytes(4, "little"))
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _turns(spark, payloads):
    rows = [
        (f"conv_{i // 3:08d}", i % 3, "tool", text, tool, datetime(2024, 1, 1))
        for i, (text, tool) in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def test_digest_does_not_depend_on_row_order(spark):
    df = spark.range(200).select(F.col("id"), (F.col("id") % 7).cast("string").alias("s"))
    shuffled = df.orderBy(F.rand(seed=5)).repartition(3)
    assert digest_equal(digest(df), digest(shuffled))
    observed, obs = observe_digest(shuffled)
    materialize(observed)
    assert digest_equal(digest_of(obs), digest(df))
    changed = df.withColumn("s", F.when(F.col("id") == 3, "x").otherwise(F.col("s")))
    assert not digest_equal(digest(df), digest(changed))


def test_plan_reader_finds_map_in_pandas_metrics(spark):
    capture = PlanCapture(spark)
    df = spark.range(50, numPartitions=2).mapInPandas(lambda it: it, schema="id long")
    materialize(df)
    nodes = extraction_plan(capture.drain())
    node = next(n for n in nodes if n["name"] == "MapInPandas")
    assert {"pythonTotalTime", "pythonDataSent", "pythonNumRowsReceived"} <= set(node["metrics"])
    assert python_metrics(nodes, "MapInPandas")["rows_received"] == 50
    assert any(n["name"] == "Range" for n in nodes)


def test_same_seed_generates_byte_identical_corpora(spark, tmp_path):
    def build(cache, seed):
        path, meta = corpus.transcripts(spark, str(cache), 30, seed, TOOLS, parallelism=2)
        return fingerprint(path), meta["turns"]

    a = build(tmp_path / "a", 7)
    assert a == build(tmp_path / "b", 7)
    assert a[0] != build(tmp_path / "c", 8)[0]


class _Poisoned:
    """A workload over five turns, one of them a poisoned payload."""

    extract_turns = 5

    def __init__(self, spark, fail=False):
        self.src = _turns(spark, [("hello world", "plain")] * 4 + [("{not json", "json_tool")])
        self.fail = fail

    def run(self, ctx):
        if self.fail:
            raise RuntimeError("boom")
        df, obs = observe_digest(extract_transcripts(self.src), failed_col=True)
        materialize(df)
        d = digest_of(obs)
        return Outcome(0.0, {"out": d}, failed_turns(d, self.extract_turns))


def test_poisoned_payload_counts_in_failed_share(spark):
    runner = Runner(Ctx(spark, 0, 2, "", None), _Poisoned(spark))
    runner.job()
    runner.job()
    assert (runner.attempted, runner.failed, runner.failed_turns) == (2, 0, 2)
    assert runner.failed_turns / (runner.attempted * 5) == pytest.approx(0.2)


def test_failed_job_and_missing_rows_count_every_turn(spark):
    assert failed_turns({"rows": 3, "failed": 1}, 5) == 3
    runner = Runner(Ctx(spark, 0, 2, "", None), _Poisoned(spark, fail=True))
    runner.job()
    assert (runner.failed, runner.failed_turns) == (1, 5)
    assert not runner.summary({})["correct"]


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
