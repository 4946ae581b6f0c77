"""Pipeline plan: ordered stage registry with schema contracts, per-stage
checkpointing, lineage metrics, and resume.

Behavioral reference (re-expressed):
  - stage DAG + prerequisite completion: ``pipeline/Annotator.java:128-162``,
    ``pipeline/StanfordCoreNLP.java:481`` (``ensurePrerequisiteAnnotators``) —
    here a static ordered stage list whose requires/provides are checked
    against DataFrame schemas at plan-build time (SURVEY.md §3.1);
  - per-stage serialization checkpoints:
    ``pipeline/ProtobufAnnotationSerializer.java`` — here per-stage table
    writes (Iceberg when the catalog is on the classpath, parquet otherwise)
    that make the pipeline resumable mid-stream;
  - per-stage timing/metrics: ``pipeline/AnnotationPipeline.java:66-83`` —
    here a lineage table of per-partition row counts per stage, taken from
    the parquet footers the checkpoint write produced, so a checkpoint
    costs one Spark job (its write) and lineage none.

Each stage runs one batch phase of the annotation chain in plans/fused.py,
the same phase functions the fused single pass composes.

Partitioning contract (north rule): ingest repartitions by hashed doc_id
range; every annotation stage is narrow, so the layout survives from
tokenize through openie with zero intermediate shuffles.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from corenlp_spark.operators.coref import coref_docs
from corenlp_spark.operators.depparse import depparse_docs
from corenlp_spark.operators.ner import ner_docs
from corenlp_spark.operators.openie import openie_docs
from corenlp_spark.operators.tag import tag_docs
from corenlp_spark.operators.tokenize import tokenize_docs


@dataclass(frozen=True)
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]
    requires: tuple[str, ...]
    provides: tuple[str, ...]


STAGES: list[Stage] = [
    Stage("tokenize", tokenize_docs, ("doc_id", "spans"), ("tokens", "sentences")),
    Stage("tag", tag_docs, ("tokens",), ("tokens",)),
    Stage("ner", ner_docs, ("tokens",), ("tokens",)),
    Stage("depparse", depparse_docs, ("tokens", "sentences"), ("deps",)),
    Stage("coref", coref_docs, ("tokens", "sentences"), ("coref",)),
]


def _check_contract(df: DataFrame, stage: Stage) -> None:
    missing = [c for c in stage.requires if c not in df.columns]
    if missing:
        raise ValueError(
            f"stage '{stage.name}' requires columns {missing} "
            f"(have {df.columns}) — the analog of enforceRequirements"
        )


def annotate(docs: DataFrame, upto: str | None = None) -> DataFrame:
    """Run the annotation stages (narrow, fused) up to and including ``upto``."""
    df = docs
    for st in STAGES:
        _check_contract(df, st)
        df = st.fn(df)
        if upto is not None and st.name == upto:
            break
    return df


def triples_of(annotated: DataFrame) -> DataFrame:
    return openie_docs(annotated)


_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def partition_rows(path: str) -> dict[int, int]:
    """Rows per write partition of a parquet directory Spark wrote, read on
    the driver from the footers of its ``part-NNNNN-*.parquet`` files — no
    Spark job."""
    import pyarrow.parquet as pq

    counts: dict[int, int] = {}
    for name in sorted(os.listdir(path)):
        m = _PART_FILE.match(name)
        if m:
            pid = int(m.group(1))
            counts[pid] = counts.get(pid, 0) + pq.read_metadata(
                os.path.join(path, name)).num_rows
    return counts


def write_partition_metrics(counts: dict[int, int], stage: str, path: str) -> None:
    """Write the per-partition lineage table (stage, partition_id, rows, ts)
    on the driver, replacing any earlier one at ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pids = sorted(counts)
    table = pa.table({
        "stage": pa.array([stage] * len(pids), pa.string()),
        "partition_id": pa.array(pids, pa.int32()),
        "rows": pa.array([counts[p] for p in pids], pa.int64()),
        "ts": pa.array([datetime.now(timezone.utc)] * len(pids),
                       pa.timestamp("us", tz="UTC")),
    })
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


class CheckpointedPipeline:
    """Per-stage checkpointed run: each stage writes a table; a rerun resumes
    from the last complete checkpoint (kill-and-resume semantics)."""

    def __init__(self, spark: SparkSession, root: str, partitions: int | None = None):
        self.spark, self.root = spark, root
        self.partitions = partitions
        os.makedirs(root, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))

    def _write(self, df: DataFrame, stage: str) -> DataFrame:
        """One Spark job: write the stage, then take its lineage from the
        footers of the files that write produced. The read-back is given
        the written schema, so it infers nothing (a schema-inference read
        of a parquet directory is a Spark job of its own)."""
        path = self._path(stage)
        t0 = time.time()
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.schema(df.schema).parquet(path)
        counts = partition_rows(path)
        write_partition_metrics(
            counts, stage, os.path.join(self.root, f"_metrics_{stage}"))
        meta = {"stage": stage, "rows": sum(counts.values()),
                "wall_s": round(time.time() - t0, 3)}
        with open(os.path.join(self.root, f"_lineage_{stage}.json"), "w") as f:
            json.dump(meta, f)
        return out

    def run(self, docs: DataFrame) -> DataFrame:
        """docs → annotated docs → triples, checkpointing each stage; resumes
        from the furthest complete checkpoint."""
        if self.partitions:
            docs = docs.repartition(self.partitions, "doc_id")
        df = docs
        resumed_from = None
        # find furthest complete stage (checkpoints are written in order)
        for i in range(len(STAGES) - 1, -1, -1):
            if self._done(STAGES[i].name):
                df = self.spark.read.parquet(self._path(STAGES[i].name))
                resumed_from = i
                break
        for i, st in enumerate(STAGES):
            if resumed_from is not None and i <= resumed_from:
                continue
            _check_contract(df, st)
            df = self._write(st.fn(df), st.name)
        # stage name is 'triples_raw' so downstream jobs can write their
        # deduped/canonicalized KG to '<root>/triples' without colliding
        # with the checkpoint they are lazily reading from
        if self._done("triples_raw"):
            return self.spark.read.parquet(self._path("triples_raw"))
        return self._write(triples_of(df), "triples_raw")
