"""Seeded, cached inputs of the benchmark.

Every corpus is a pure function of ``(kind mix, n_convs, seed)`` built with
the repo's own generator (``gen_transcripts_df`` / ``gen_conv``) and cached
as parquet under the benchmark's work directory, so generation never lands
in a timed region and a repeated seed is not generated twice. A cache
entry is written to a temporary directory and renamed into place, so a run
killed mid-write leaves no half corpus behind.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from ocr_spark.data.generate import TOOLS, conv_id_of, gen_conv, gen_transcripts_df
from ocr_spark.pipeline import TRANSCRIPT_SCHEMA

ALL_KINDS = TOOLS + ["markdown", "json_tool", "wiki", "log", "diff", "notebook"]

# A fixed spread of conversations (including the skewed conv 0) whose
# turns are re-extracted without Spark on every run.
SAMPLE_SEQS = (0, 1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377, 610, 987, 1597, 2584)

EDIT_MOD = 50  # new snapshot edits 1 in 50 (2%) of the old turns


def sample_conv_ids(n_convs: int) -> list[str]:
    return [conv_id_of(s) for s in SAMPLE_SEQS if s < n_convs]


def _cached(path: str, build) -> dict:
    """Run ``build(tmp_path) -> meta`` unless ``path`` already holds a
    finished entry; return the entry's meta."""
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(meta_path) as f:
        return json.load(f)


def transcripts(spark, cache: str, n_convs: int, seed: int, kinds: list[str],
                parallelism: int) -> tuple[str, dict]:
    """A transcripts corpus; returns ``(parquet path, meta)``."""
    tag = "all" if kinds == ALL_KINDS else "default"
    path = os.path.join(cache, f"transcripts-{tag}-c{n_convs}-s{seed}")

    def build(tmp):
        data = os.path.join(tmp, "data")
        gen_transcripts_df(spark, n_convs, seed=seed, parallelism=parallelism,
                           tools=kinds).write.parquet(data)
        return {"turns": spark.read.parquet(data).count()}

    meta = _cached(path, build)
    return os.path.join(path, "data"), meta


def edited(df, seed: int):
    """Mark 1 in ``EDIT_MOD`` turns (chosen by key and seed) as edited."""
    key = F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed)), F.lit(EDIT_MOD))
    return df.withColumn("_edited", key == 0)


def snapshots(spark, cache: str, n_convs: int, n_appended: int, seed: int,
              kinds: list[str], parallelism: int) -> tuple[str, str, dict]:
    """An ``old``/``new`` snapshot pair: ``old`` is the ``transcripts``
    corpus, ``new`` is ``old`` with 2% of its turns edited (a trailing
    space: a byte change the extraction must see) plus ``n_appended``
    generated conversations. Returns ``(old path, new path, meta)``;
    ``meta["delta_turns"]`` is the number of turns an exact incremental
    extraction must re-extract."""
    old_path, old_meta = transcripts(spark, cache, n_convs, seed, kinds, parallelism)
    tag = "all" if kinds == ALL_KINDS else "default"
    path = os.path.join(cache, f"snapshot-{tag}-c{n_convs}-a{n_appended}-s{seed}")

    def build(tmp):
        data = os.path.join(tmp, "data")
        old = edited(spark.read.parquet(old_path), seed)
        n_edited = old.filter("_edited").count()
        changed = old.withColumn(
            "text", F.when(F.col("_edited"), F.concat("text", F.lit(" "))).otherwise(F.col("text"))
        ).drop("_edited")
        rows = [r for s in range(n_convs, n_convs + n_appended) for r in gen_conv(s, seed, tools=kinds)]
        appended = spark.createDataFrame(
            [tuple(r[f.name] for f in TRANSCRIPT_SCHEMA.fields) for r in rows], TRANSCRIPT_SCHEMA
        )
        changed.unionByName(appended).repartition(parallelism).write.parquet(data)
        return {
            "old_turns": old_meta["turns"],
            "turns": old_meta["turns"] + len(rows),
            "edited_turns": n_edited,
            "appended_turns": len(rows),
            "delta_turns": n_edited + len(rows),
        }

    meta = _cached(path, build)
    return old_path, os.path.join(path, "data"), meta
