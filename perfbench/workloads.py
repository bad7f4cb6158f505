"""The benchmark's workloads over the transcript extraction job. Three are
defined; ``BENCHMARK.json`` grades two of them (see README.md).

Each workload builds its seeded inputs once (``prepare``, untimed), runs
one complete job per ``run`` call (timed from the first action call to the
last action's return), checks the job's output, and in a traced run
measures its layers from outside the program (``layers``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bench import materialize, shuffle_write_bytes
from __spark_entry__ import _fixture_lookups
from ocr_spark.checkpoint import bucket_col, run_with_checkpoint
from ocr_spark.data.generate import TOOLS, conv_id_of
from ocr_spark.extract.core import MAX_PAYLOAD_CHARS, extract_turn
from ocr_spark.extract.diff_patch import parse_diff
from ocr_spark.extract.html_tables import parse_html_tables
from ocr_spark.extract.notebook import notebook_cell_rows
from ocr_spark.operators.classify import classify_pipeline, explode_records
from ocr_spark.pipeline import (
    extract_diffs,
    extract_incremental,
    extract_tables,
    extract_transcripts,
    load_transcripts,
    notebook_cells,
)

from perfbench import corpus
from perfbench.probes import (
    comparable,
    digest,
    digest_equal,
    digest_of,
    join_counts,
    kernel_harness,
    metric_sum,
    observe_digest,
    python_metrics,
    wait_listeners,
)

FANOUTS = (
    ("tables", extract_tables, lambda t: len(parse_html_tables(t))),
    ("diffs", extract_diffs, lambda t: len(parse_diff(t)[0])),
    ("notebook_cells", notebook_cells, lambda t: len(notebook_cell_rows(t))),
)
FANOUT_KIND = {"tables": "html", "diffs": "diff", "notebook_cells": "notebook"}
LAYER_REPS = 2

# Every per-layer metric, with its unit. A traced run reports all of them
# on every workload; a layer the workload does not exercise reads 0.
PER_LAYER = {
    "session.cold_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "scan.s": "s",
    "scan.rows": "count",
    "scan.bytes": "bytes",
    "extract.kernel_s": "s",
    **{
        f"extract.{k}.{m}": u
        for k in corpus.ALL_KINDS
        for m, u in (("turns_per_s", "turns/s"), ("mb_per_s", "MB/s"), ("parse_failures", "count"))
    },
    "pipeline.python_total_s": "s",
    "pipeline.python_init_s": "s",
    "pipeline.arrow_sent_bytes": "bytes",
    "pipeline.arrow_recv_bytes": "bytes",
    "pipeline.stage_s": "s",
    "pipeline.packaging_s": "s",
    "pipeline.kernel_share": "ratio",
    **{f"fanout.{r}.{m}": u for r, _, _ in FANOUTS for m, u in (("s", "s"), ("rows_out", "count"))},
    "classify.s": "s",
    "classify.records_in": "count",
    "classify.rows_out": "count",
    "classify.python_total_s": "s",
    "classify.shuffle_write_bytes": "bytes",
    "classify.joins.broadcast": "count",
    "classify.joins.shuffled": "count",
    "checkpoint.write_s": "s",
    "checkpoint.files_written": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.buckets_processed": "count",
    "incremental.python_rows": "count",
    "incremental.new_rows": "count",
    "incremental.delta_ratio": "ratio",
    "incremental.shuffle_write_bytes": "bytes",
    "incremental.joins.broadcast": "count",
    "incremental.joins.shuffled": "count",
    "host.cores": "count",
    "host.memcpy_gbs": "GB/s",
    "trace.overhead_s": "s",
}


@dataclass
class Ctx:
    spark: object
    seed: int
    nproc: int
    work: str
    tracer: object

    @property
    def cache(self) -> str:
        return os.path.join(self.work, "corpus")


@dataclass
class Outcome:
    """One job run: its wall time, output digests by relation, failed
    turns (rows with parse failures plus rows missing from the output) and
    any failed output check."""

    seconds: float
    digests: dict
    failed_turns: int
    problems: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def failed_turns(observed: dict, expected_rows: int) -> int:
    """Turns that count as failed in one output: rows flagged with
    ``parse_failures > 0`` plus expected rows missing from the output."""
    return observed.get("failed", 0) + max(0, expected_rows - observed["rows"])


def timed_median(fn, reps: int = LAYER_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def sample_mismatches(got_rows, sources) -> list[str]:
    """Compare Spark-extracted rows with ``extract_turn`` run here.
    ``sources`` maps ``(conv_id, turn_idx) -> (text, tool)`` of every turn
    the output must hold."""
    out = []
    got = {(r["conv_id"], r["turn_idx"]): r for r in got_rows}
    if set(got) != set(sources):
        out.append(f"sample keys differ: {len(set(got) ^ set(sources))} keys")
    for key in sorted(set(got) & set(sources)):
        want = extract_turn(*sources[key])
        r = got[key]
        for col in ("clean_text", "spans", "records"):
            if comparable(r[col]) != comparable(want[col]):
                out.append(f"sample {key} {col} differs from extract_turn")
    return out


def extraction_sample_check(src, n_convs: int) -> list[str]:
    """Extract the fixed sample conversations of ``src`` with Spark and
    compare every turn with ``extract_turn``."""
    sample = src.filter(F.col("conv_id").isin(corpus.sample_conv_ids(n_convs)))
    sources = {(r.conv_id, r.turn_idx): (r.text, r.tool) for r in sample.collect()}
    return sample_mismatches(extract_transcripts(sample).collect(), sources)


def scan_layer(ctx, paths: list[str], plan_nodes: list[dict]) -> dict:
    spark = ctx.spark
    with ctx.tracer.span("scan"):
        scan_s = sum(timed_median(lambda p=p: materialize(spark.read.parquet(p))) for p in paths)
    is_scan = lambda n: n.startswith("Scan")  # noqa: E731
    return {
        "scan.s": scan_s,
        "scan.rows": metric_sum(plan_nodes, is_scan, "numOutputRows"),
        "scan.bytes": metric_sum(plan_nodes, is_scan, "filesSize"),
    }


def kernel_layer(ctx, texts: list, tools: list) -> dict:
    with ctx.tracer.span("extract.kernel"):
        per_kind = kernel_harness(texts, tools)
    out = {"extract.kernel_s": sum(v["seconds"] for v in per_kind.values())}
    for kind, v in per_kind.items():
        out[f"extract.{kind}.turns_per_s"] = v["turns"] / v["seconds"]
        out[f"extract.{kind}.mb_per_s"] = v["bytes"] / v["seconds"] / 1e6
        out[f"extract.{kind}.parse_failures"] = v["parse_failures"]
    return out


def python_layer(nodes: list[dict], kernel_s: float, stage_s: float) -> dict:
    py = python_metrics(nodes, "MapInPandas")
    return {
        "pipeline.python_total_s": py["python_total_s"],
        "pipeline.python_init_s": py["python_init_s"],
        "pipeline.arrow_sent_bytes": py["arrow_sent_bytes"],
        "pipeline.arrow_recv_bytes": py["arrow_recv_bytes"],
        "pipeline.stage_s": stage_s,
        "pipeline.packaging_s": py["python_total_s"] - kernel_s,
        "pipeline.kernel_share": kernel_s / py["python_total_s"] if py["python_total_s"] else 0.0,
    }


def incremental_layer(ctx, capture, old_path: str, new_path: str, new_turns: int) -> dict:
    """One ``extract_incremental(old, new)`` into ``noop``, read from its
    executed plan and the shuffle bytes it wrote."""
    spark = ctx.spark
    old, new = load_transcripts(spark, old_path), load_transcripts(spark, new_path)
    capture.drain()
    with ctx.tracer.span("incremental"):
        wait_listeners(spark)
        b0 = shuffle_write_bytes(spark)
        materialize(extract_incremental(old, new))
        wait_listeners(spark)
        shuffle = shuffle_write_bytes(spark) - b0
    nodes = extraction_plan(capture.drain())
    rows = python_metrics(nodes, "MapInPandas")["rows_received"]
    m = {
        "incremental.python_rows": rows,
        "incremental.new_rows": new_turns,
        "incremental.delta_ratio": rows / new_turns,
        "incremental.shuffle_write_bytes": shuffle,
    }
    for k, v in join_counts(nodes).items():
        m[f"incremental.joins.{k}"] = v
    return m


def extraction_plan(plans: list) -> list[dict]:
    """Nodes of the first captured action that ran the extraction stage."""
    for _, nodes in plans:
        if any(n["name"] == "MapInPandas" for n in nodes):
            return nodes
    raise RuntimeError("no captured plan holds a MapInPandas node")


def texts_tools(path: str) -> tuple[list, list]:
    t = pq.read_table(path, columns=["text", "tool"])
    return t.column("text").to_pylist(), t.column("tool").to_pylist()


class PipelineDefault:
    """``scripts/run_pipeline.py``'s job in-process: checkpointed
    extraction -> classify (``within_partitions``) -> partitioned parquet
    and bucket markers, over the default 4-kind corpus."""

    name = "pipeline_default"
    n_convs = 1000
    n_buckets = 64

    def prepare(self, ctx: Ctx) -> None:
        spark = ctx.spark
        self.path, meta = corpus.transcripts(spark, ctx.cache, self.n_convs, ctx.seed, TOOLS, 2 * ctx.nproc)
        self.turns = self.extract_turns = meta["turns"]
        self.src = load_transcripts(spark, self.path)
        mapping, state, conv_meta = _fixture_lookups(spark, self.n_convs)
        self.lookups = (mapping, state, conv_meta.select("conv_id", "venue_state"))
        self.buckets = self.src.select(bucket_col(self.n_buckets)).distinct().count()
        self.out = os.path.join(ctx.work, "out", self.name)

    def _process(self, df, box: dict):
        extracted, box["extracted"] = observe_digest(extract_transcripts(df), failed_col=True)
        out = classify_pipeline(extracted, *self.lookups, output_order="within_partitions")
        out, box["output"] = observe_digest(out)
        return out

    def run(self, ctx: Ctx) -> Outcome:
        shutil.rmtree(self.out, ignore_errors=True)
        box: dict = {}
        t0 = time.perf_counter()
        stats = run_with_checkpoint(
            ctx.spark, self.src, lambda df: self._process(df, box), self.out,
            n_buckets=self.n_buckets,
        )
        dt = time.perf_counter() - t0
        ex, out = digest_of(box["extracted"]), digest_of(box["output"])
        problems = []
        if ex["rows"] != self.turns:
            problems.append(f"extracted {ex['rows']} rows from {self.turns} turns")
        if stats["processed_buckets"] != self.buckets:
            problems.append(f"{stats['processed_buckets']} of {self.buckets} buckets committed")
        return Outcome(dt, {"extracted": ex, "output": out}, failed_turns(ex, self.turns),
                       problems, {"stats": stats})

    def final_check(self, ctx: Ctx, last: Outcome) -> list[str]:
        spark = ctx.spark
        problems = []
        written = digest(spark.read.parquet(os.path.join(self.out, "data")).drop("conv_bucket"))
        if not digest_equal(written, last.digests["output"]):
            problems.append("written output differs from the computed output")
        return problems + extraction_sample_check(self.src, self.n_convs)

    def layers(self, ctx: Ctx, plans: list, untraced_s: float, last: Outcome, capture) -> dict:
        spark, tr = ctx.spark, ctx.tracer
        job_nodes = extraction_plan(plans)
        m = scan_layer(ctx, [self.path], job_nodes)
        m.update(kernel_layer(ctx, *texts_tools(self.path)))
        with tr.span("pipeline.stage"):
            stage = timed_median(lambda: materialize(extract_transcripts(self.src)))
        m.update(python_layer(job_nodes, m["extract.kernel_s"], stage - m["scan.s"]))

        extracted = extract_transcripts(self.src).persist()
        materialize(extracted)
        classified = classify_pipeline(extracted, *self.lookups, output_order="within_partitions")
        capture.drain()
        with tr.span("classify"):
            wait_listeners(spark)
            b0 = shuffle_write_bytes(spark)
            m["classify.s"] = timed_median(lambda: materialize(classified))
            wait_listeners(spark)
            b1 = shuffle_write_bytes(spark)
        cls_nodes = capture.drain()[-1][1]
        m["classify.records_in"] = explode_records(extracted).count()
        m["classify.rows_out"] = last.digests["output"]["rows"]
        m["classify.python_total_s"] = python_metrics(cls_nodes, "ArrowEvalPython")["python_total_s"]
        m["classify.shuffle_write_bytes"] = (b1 - b0) / LAYER_REPS
        for k, v in join_counts(cls_nodes).items():
            m[f"classify.joins.{k}"] = v
        extracted.unpersist(blocking=True)

        with tr.span("checkpoint.noop"):
            bucketed = self.src.withColumn("conv_bucket", bucket_col(self.n_buckets))
            noop_s = timed_median(lambda: materialize(self._process(bucketed, {})))
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.out) for f in fs if f.endswith(".parquet")]
        m["checkpoint.write_s"] = untraced_s - noop_s
        m["checkpoint.files_written"] = len(files)
        m["checkpoint.bytes_written"] = sum(os.path.getsize(f) for f in files)
        m["checkpoint.buckets_processed"] = last.extra["stats"]["processed_buckets"]
        return m


class ExtractAllKinds:
    """``extract_transcripts`` plus the three fan-out relations, each to
    the noop sink, over the 10-kind mix."""

    name = "extract_all_kinds"
    n_convs = 1200

    def prepare(self, ctx: Ctx) -> None:
        self.path, meta = corpus.transcripts(ctx.spark, ctx.cache, self.n_convs, ctx.seed,
                                             corpus.ALL_KINDS, 2 * ctx.nproc)
        self.turns = self.extract_turns = meta["turns"]
        self.src = load_transcripts(ctx.spark, self.path)
        # Spark-free row counts of each fan-out relation (same payload cap)
        texts, tools = texts_tools(self.path)
        self.fanout_rows = {
            rel: sum(count((t or "")[:MAX_PAYLOAD_CHARS]) for t, k in zip(texts, tools)
                     if k == FANOUT_KIND[rel])
            for rel, _, count in FANOUTS
        }

    def run(self, ctx: Ctx) -> Outcome:
        rels = [("extract", extract_transcripts)] + [(r, fn) for r, fn, _ in FANOUTS]
        observed, times = {}, {}
        t_start = time.perf_counter()
        for rel, fn in rels:
            df, observed[rel] = observe_digest(fn(self.src), failed_col=rel == "extract")
            t0 = time.perf_counter()
            with ctx.tracer.span(f"action.{rel}"):
                materialize(df)
            times[rel] = time.perf_counter() - t0
        dt = time.perf_counter() - t_start
        digs = {rel: digest_of(o) for rel, o in observed.items()}
        problems = []
        if digs["extract"]["rows"] != self.turns:
            problems.append(f"extracted {digs['extract']['rows']} rows from {self.turns} turns")
        for rel, want in self.fanout_rows.items():
            if digs[rel]["rows"] != want:
                problems.append(f"{rel}: {digs[rel]['rows']} rows, Spark-free count {want}")
        return Outcome(dt, digs, failed_turns(digs["extract"], self.turns), problems, {"times": times})

    def final_check(self, ctx: Ctx, last: Outcome) -> list[str]:
        return extraction_sample_check(self.src, self.n_convs)

    def layers(self, ctx: Ctx, plans: list, untraced_s: float, last: Outcome, capture) -> dict:
        job_nodes = extraction_plan(plans)
        m = scan_layer(ctx, [self.path], job_nodes)
        m.update(kernel_layer(ctx, *texts_tools(self.path)))
        m.update(python_layer(job_nodes, m["extract.kernel_s"],
                              last.extra["times"]["extract"] - m["scan.s"]))
        for rel, _, _ in FANOUTS:
            m[f"fanout.{rel}.s"] = last.extra["times"][rel]
            m[f"fanout.{rel}.rows_out"] = last.digests[rel]["rows"]
        # incremental_delta is not graded (see README): its layer is
        # measured here, over a snapshot pair built on this corpus
        _, new_path, meta = corpus.snapshots(
            ctx.spark, ctx.cache, self.n_convs, IncrementalDelta.n_appended, ctx.seed,
            corpus.ALL_KINDS, 2 * ctx.nproc)
        m.update(incremental_layer(ctx, capture, self.path, new_path, meta["turns"]))
        return m


class IncrementalDelta:
    """``extract_incremental(old, new)`` to the noop sink; ``new`` edits 2%
    of ``old``'s turns and appends a few conversations."""

    name = "incremental_delta"
    n_convs = 3000
    n_appended = 30

    def prepare(self, ctx: Ctx) -> None:
        spark = ctx.spark
        self.old_path, self.new_path, self.meta = corpus.snapshots(
            spark, ctx.cache, self.n_convs, self.n_appended, ctx.seed, TOOLS, 2 * ctx.nproc)
        self.turns = self.meta["turns"]
        self.extract_turns = self.meta["delta_turns"]
        self.old = load_transcripts(spark, self.old_path)
        self.new = load_transcripts(spark, self.new_path)

    def run(self, ctx: Ctx) -> Outcome:
        df, obs = observe_digest(extract_incremental(self.old, self.new), failed_col=True)
        t0 = time.perf_counter()
        materialize(df)
        dt = time.perf_counter() - t0
        dig = digest_of(obs)
        problems = []
        if dig["rows"] != self.extract_turns:
            problems.append(f"re-extracted {dig['rows']} rows, delta is {self.extract_turns} turns")
        return Outcome(dt, {"delta": dig}, failed_turns(dig, self.extract_turns), problems)

    def _delta_sources(self, conv_ids=None) -> dict:
        """``(conv_id, turn_idx) -> (text, tool)`` of the turns whose
        content differs between the snapshots, computed here from the raw
        parquet (no Spark)."""
        flt = [("conv_id", "in", conv_ids)] if conv_ids else None
        cols = ["conv_id", "turn_idx", "text", "tool"]
        old = pq.read_table(self.old_path, columns=cols, filters=flt).to_pylist()
        new = pq.read_table(self.new_path, columns=cols, filters=flt).to_pylist()
        before = {(r["conv_id"], r["turn_idx"]): (r["text"], r["tool"]) for r in old}
        return {
            (r["conv_id"], r["turn_idx"]): (r["text"], r["tool"])
            for r in new
            if before.get((r["conv_id"], r["turn_idx"])) != (r["text"], r["tool"])
        }

    def final_check(self, ctx: Ctx, last: Outcome) -> list[str]:
        ids = corpus.sample_conv_ids(self.n_convs) + [conv_id_of(self.n_convs + i) for i in range(2)]
        got = extract_incremental(self.old, self.new.filter(F.col("conv_id").isin(ids))).collect()
        return sample_mismatches(got, self._delta_sources(ids))

    def layers(self, ctx: Ctx, plans: list, untraced_s: float, last: Outcome, capture) -> dict:
        job_nodes = extraction_plan(plans)
        m = scan_layer(ctx, [self.old_path, self.new_path], job_nodes)
        delta = self._delta_sources()
        texts, tools = zip(*delta.values())
        m.update(kernel_layer(ctx, list(texts), list(tools)))
        m.update(python_layer(job_nodes, m["extract.kernel_s"], untraced_s - m["scan.s"]))
        m.update(incremental_layer(ctx, capture, self.old_path, self.new_path, self.turns))
        return m


WORKLOADS = {w.name: w for w in (PipelineDefault, ExtractAllKinds, IncrementalDelta)}
