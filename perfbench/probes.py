"""Measurement helpers of the benchmark, kept outside the program.

- ``Tracer``: in-memory spans (name, start, end, parent, run id) recorded
  around the benchmark's calls into each layer, written out at the end.
- ``PlanCapture``: a ``QueryExecutionListener`` (py4j callback) that keeps
  the executed physical plan of every action with its exact SQL metric
  values, so Python, scan, shuffle and join nodes can be read back.
- ``RssSampler``: peak RSS of this process and all its descendants (the
  JVM and the Python workers), sampled from ``/proc`` on a thread.
- ``observe_digest`` / ``digest_equal``: an order-independent digest of a
  whole output relation, collected during the action itself.
- ``kernel_harness``: the Spark-free per-kind timing of ``extract_turn``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.sql import Observation

PAGE = os.sysconf("SC_PAGE_SIZE")


def warm_body(s):
    """The body of ``bench._warm_workers``, the session warm-up UDF. Taken
    by reference, workers would import the legacy bench module and with it
    every operator, which the program's own jobs never load."""
    import numpy as np

    return s + int(np.int64(0))


# ------------------------------------------------------------------ spans

class Tracer:
    """Spans kept in memory; ``enabled=False`` records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


# ------------------------------------------------------------ plan metrics

def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def plan_nodes(jvm, plan) -> list[dict]:
    """Flatten an executed physical plan into ``{"name", "metrics"}`` dicts
    with exact metric values. Walks ``children`` and ``innerChildren`` so
    the final plan under AQE and query stages is reached; a reused
    exchange is skipped, its metrics belong to the exchange it reuses, and
    so is a cached relation's plan, which ran when the cache was filled."""
    spark_plan = jvm.java.lang.Class.forName("org.apache.spark.sql.execution.SparkPlan")
    out: list[dict] = []
    stack = [plan]
    while stack:
        node = stack.pop()
        if not spark_plan.isInstance(node):
            continue
        name = node.nodeName()
        if name.startswith("ReusedExchange"):
            continue
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())  # the final plan AQE ran
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        m = jvm.scala.jdk.javaapi.CollectionConverters.asJava(node.metrics())
        out.append({"name": name, "metrics": {k: m[k].value() for k in m.keySet()}})
        stack.extend(reversed(_seq(jvm, node.children()) + _seq(jvm, node.innerChildren())))
    return out


class PlanCapture:
    """Keeps ``(action, nodes)`` for every successful query of the session.

    Registered through py4j, so the JVM calls ``onSuccess`` on its listener
    thread after the action returned; ``drain`` waits for that."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._jvm = spark.sparkContext._jvm
        self.plans: list[tuple[str, list[dict]]] = []
        self.errors: list[str] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        try:
            self.plans.append((func_name, plan_nodes(self._jvm, qe.executedPlan())))
        except Exception as e:  # a listener must never fail the query
            self.errors.append(repr(e))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.errors.append(f"{func_name}: {exception}")

    def drain(self) -> list[tuple[str, list[dict]]]:
        """Wait for pending listener calls, return and clear the plans."""
        wait_listeners(self._spark)
        got, self.plans = self.plans, []
        return got

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def wait_listeners(spark) -> None:
    """Wait until the listener bus has delivered every event posted so far
    (the status store and ``PlanCapture`` see finished actions late)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def metric_sum(nodes: list[dict], name_pred, metric: str) -> int:
    return sum(n["metrics"].get(metric, 0) for n in nodes if name_pred(n["name"]))


def join_counts(nodes: list[dict]) -> dict[str, int]:
    """Physical join strategies actually chosen, by family."""
    out = {"broadcast": 0, "shuffled": 0}
    for n in nodes:
        if "Join" not in n["name"] and n["name"] != "CartesianProduct":
            continue
        out["broadcast" if n["name"].startswith("Broadcast") else "shuffled"] += 1
    return out


def python_metrics(nodes: list[dict], node_name: str) -> dict[str, float]:
    """Summed Python-runner metrics of every ``node_name`` node (ms -> s)."""
    sel = [n for n in nodes if n["name"] == node_name]
    get = lambda k: sum(n["metrics"].get(k, 0) for n in sel)  # noqa: E731
    return {
        "python_total_s": get("pythonTotalTime") / 1e3,
        "python_init_s": get("pythonInitTime") / 1e3,
        "arrow_sent_bytes": get("pythonDataSent"),
        "arrow_recv_bytes": get("pythonDataReceived"),
        "rows_received": get("pythonNumRowsReceived"),
    }


# ------------------------------------------------------------- process RSS

def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, from ``/proc``."""
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command, which may hold spaces
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_rss(root: int) -> dict[int, int]:
    """RSS bytes of ``root`` and each of its live descendants, by pid."""
    out = {}
    for p in descendants(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                out[p] = int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return out


class RssSampler:
    """Peak RSS of the process tree while the ``with`` block runs.

    A process counts only once it was seen in two consecutive samples: a
    child the JVM is spawning shares the JVM's memory until it execs, and
    counting it once doubled the JVM's share of a peak."""

    def __init__(self, root: int | None = None, interval_s: float = 0.05):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.peak = 0
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss(self.root)
        self.peak = max(self.peak, sum(v for p, v in rss.items() if p in self._seen))
        self._seen = set(rss)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# ------------------------------------------------------------------ digest

def _digest_aggs(df, failed_col: bool):
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    # the sum is decimal: a long sum of hashes overflows, which ANSI mode rejects
    aggs = [F.count(F.lit(1)).alias("rows"), F.sum(h.cast("decimal(38,0)")).alias("hsum"),
            F.bit_xor(h).alias("hxor")]
    if failed_col:
        aggs.append(F.sum((F.col("parse_failures") > 0).cast("long")).alias("failed"))
    return aggs


def observe_digest(df, failed_col: bool = False):
    """Attach an order-independent digest (row count, sum and xor of the
    per-row xxhash64 of every column) to ``df``; it is computed inside the
    same action that consumes ``df``. With ``failed_col``, also counts rows
    with ``parse_failures > 0``. Returns ``(observed_df, observation)``."""
    obs = Observation()
    return df.observe(obs, *_digest_aggs(df, failed_col)), obs


def digest(df) -> dict:
    """The same digest as ``observe_digest``, computed by its own action."""
    row = df.agg(*_digest_aggs(df, False)).collect()[0]
    return {"rows": row["rows"], "hsum": row["hsum"], "hxor": row["hxor"]}


def digest_of(obs) -> dict:
    got = obs.get
    return {k: (int(v) if v is not None else 0) for k, v in got.items()}


def digest_equal(a: dict, b: dict) -> bool:
    return all(a.get(k) == b.get(k) for k in ("rows", "hsum", "hxor"))


# ---------------------------------------------------------- kernel harness

def kernel_harness(texts: list, tools: list) -> dict[str, dict]:
    """Time ``extract_turn`` per payload kind in this process (no Spark).

    Returns ``{kind: {"turns", "bytes", "seconds", "parse_failures"}}``;
    a turn whose kernel raises is counted like the Spark stage counts it,
    as one parse failure."""
    from ocr_spark.extract.core import extract_turn

    by_kind: dict[str, list] = defaultdict(list)
    for t, k in zip(texts, tools):
        by_kind[k].append(t)
    out = {}
    for kind, items in sorted(by_kind.items()):
        pf = 0
        t0 = time.perf_counter()
        for t in items:
            try:
                pf += extract_turn(t, kind)["parse_failures"]
            except Exception:
                pf += 1
        dt = time.perf_counter() - t0
        out[kind] = {
            "turns": len(items),
            "bytes": sum(len((t or "").encode()) for t in items),
            "seconds": dt,
            "parse_failures": pf,
        }
    return out


def comparable(v):
    """Spark Row / tuple / list values -> plain nested tuples."""
    if v is None:
        return None
    if isinstance(v, (list, tuple)):
        return tuple(comparable(x) for x in v)
    return v
