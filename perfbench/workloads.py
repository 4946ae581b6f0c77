"""The benchmark's workloads. Each one builds its inputs from the seed,
warms up at full size, runs one timed operation at a time, and checks the
outputs untimed.

Protocol (driven by ``run.py``):

* ``inputs(ctx)`` — build the inputs from the seed, before the session
  starts; not counted in ``setup_s``;
* ``setup(ctx)`` — warm-up at full size; counted in ``setup_s``;
* ``op(ctx, i)`` — one timed operation; raises if it fails;
* ``check(ctx)`` — untimed; returns how many operations gave wrong output;
* ``trace_metrics(ctx)`` — traced runs, session still up: per-layer
  metrics the workload measures itself (kernel replay, lineage, …);
* ``log_metrics(reduced)`` — traced runs, after the session ends:
  per-layer metrics from the event-log totals per job label;
* ``close(ctx)``.
"""

from __future__ import annotations

import http.client
import importlib.util
import json
import os
import random
import statistics
import sys
import time
import urllib.parse
from dataclasses import dataclass, field

from eventlog import ops_from_log
from procs import process_age_s
from spans import Tracer, layer_metrics, replay_fused


@dataclass
class Ctx:
    root: str
    work: str
    spark: object
    seed: int
    cpus: int
    tracer: Tracer | None
    problems: list[str] = field(default_factory=list)

    def label(self, name: str | None) -> None:
        """Tag the jobs of the next action (traced runs only)."""
        if self.tracer is not None:
            self.spark.sparkContext.setJobDescription(name)


class Workload:
    """Defaults of the protocol above."""

    name = ""
    docs_per_op = 1

    def __init__(self, prefix: str = "op-") -> None:
        self.prefix = prefix  # job-label prefix of the timed operations

    def inputs(self, ctx: Ctx) -> None:
        pass

    def trace_metrics(self, ctx: Ctx) -> dict[str, float]:
        return {}

    def log_metrics(self, reduced: dict) -> dict[str, float]:
        return {}

    def summary(self) -> dict[str, list[float]]:
        """Extra per-operation timings to print, by name."""
        return {}

    def close(self, ctx: Ctx) -> None:
        pass


def _load_script(root: str, name: str):
    """Import ``scripts/<name>.py`` of the checkout as a module. The import
    path is restored afterwards: a script may prepend its own repo path,
    which must not shadow the checkout under test."""
    spec = importlib.util.spec_from_file_location(
        f"_bench_{name}", os.path.join(root, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


# --------------------------------------------------------------------------
# KG batch workloads
# --------------------------------------------------------------------------

def synth_frame(first_id: int, n: int):
    """Docs ``doc-<first_id>`` … as the program's synthetic generator makes
    them (``data.synth._doc_spans``); seed 0 is the historical id range."""
    import pandas as pd

    from corenlp_spark.data.synth import _doc_spans

    ids = [f"doc-{i:09d}" for i in range(first_id, first_id + n)]
    return pd.DataFrame({"doc_id": ids,
                         "spans": [_doc_spans(d, True) for d in ids]})


def write_docs(frame, path: str, files: int) -> None:
    """Write a docs frame as ``files`` parquet files (untimed input)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    table = pa.Table.from_pandas(frame, schema=schema, preserve_index=False)
    os.makedirs(path, exist_ok=True)
    step = -(-len(frame) // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def _triple_rows(rows) -> list[tuple]:
    return sorted((r["doc_id"], int(r["sent_idx"]), r["subj"], r["pred"],
                   r["obj"], float(r["confidence"]), int(r["subj_head"]),
                   int(r["obj_head"])) for r in rows)


class KgBatch(Workload):
    """A KG batch job over ``N_DOCS`` synthetic docs (2-5 golden sentences
    each, ids shifted by ``seed × N_DOCS``), read from parquet that is
    written untimed. Subclasses choose the job (``_job``) and the checks."""

    N_DOCS = 0

    def inputs(self, ctx: Ctx) -> None:
        self.side: list[Workload] = []  # side runs of a traced run
        self.frame = synth_frame(ctx.seed * self.N_DOCS, self.N_DOCS)
        self.path = os.path.join(ctx.work, "docs")
        write_docs(self.frame, self.path, files=2 * ctx.cpus)
        self.results: list = []

    def setup(self, ctx: Ctx) -> None:
        # the first full-size job pays worker start and model load; a second
        # one takes most of the JIT ramp that otherwise slows the first ops
        self.warm = []
        for k in range(2):
            ctx.label(f"warmup-{k}")
            self.warm.append(self._job(ctx, f"warmup-{k}"))

    def _job(self, ctx: Ctx, label: str):
        raise NotImplementedError

    def op(self, ctx: Ctx, i: int) -> None:
        self.results.append(self._job(ctx, f"{self.prefix}{i}"))

    def trace_metrics(self, ctx: Ctx) -> dict[str, float]:
        m: dict[str, float] = {}
        for w, n_ops in self.side_runs():
            # a run must end within 180 s; a side run takes up to about
            # 45 s on a loaded host, and the event log still has to be read
            if process_age_s() > SIDE_RUN_DEADLINE_S:
                print(f"  side run {w.name} skipped: {process_age_s():.0f} s "
                      f"since start, past {SIDE_RUN_DEADLINE_S} s; its "
                      "metrics read 0")
                continue
            self.side.append(w)
            m.update(side_run(ctx, w, n_ops))
        return m

    def side_runs(self) -> list[tuple[Workload, int]]:
        """Workloads run briefly inside a traced run, with their op counts."""
        return []

    def log_metrics(self, reduced: dict) -> dict[str, float]:
        m = {"operators.graph.shuffle_bytes": statistics.mean(
            o.get("parts", {}).get("kg", o).get("sql.exchange_shuffle_bytes", 0.0)
            for o in ops_from_log(reduced, self.prefix))}
        for w in self.side:
            m.update(w.log_metrics(reduced))
        return m


SIDE_RUN_DEADLINE_S = 110


def side_run(ctx: Ctx, w: Workload, n_ops: int) -> dict[str, float]:
    """Set up ``w``, run ``n_ops`` operations and check them, inside a traced
    run; returns ``w``'s own per-layer metrics."""
    with ctx.tracer.span(w.name, trace=w.name):
        w.inputs(ctx)
        w.setup(ctx)
        for i in range(n_ops):
            ctx.label(f"{w.prefix}{i}")
            w.op(ctx, i)
    ctx.label("check")
    try:
        if w.check(ctx):
            ctx.problems.append(f"side run {w.name}: wrong output")
        return w.trace_metrics(ctx)
    finally:
        w.close(ctx)


class KgFused(KgBatch):
    """The production path, 2,000 docs per job: read →
    ``extract_triples_fused`` → ``dedup_triples`` → one action."""

    name = "kg_fused"
    N_DOCS = docs_per_op = 2000
    SAMPLE_DOCS = 64            # in-process vs Spark output check
    SEED0_COUNTS = (12538, 378)  # raw, distinct triples
    REQUESTS = 6                # traced: requests of the serving side run

    def _job(self, ctx: Ctx, label: str) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from corenlp_spark.operators.graph import dedup_triples
        from corenlp_spark.plans.fused import extract_triples_fused

        docs = ctx.spark.read.parquet(self.path)
        agg = dedup_triples(extract_triples_fused(docs)).agg(
            F.sum("support").alias("raw"), F.count("*").alias("distinct")
        ).first()
        return int(agg["raw"]), int(agg["distinct"])

    def check(self, ctx: Ctx) -> int:
        from pyspark.sql import functions as F

        from corenlp_spark.plans.fused import extract_triples_fused

        reference = self.warm[0]
        wrong = sum(c != reference for c in self.results)
        if wrong or self.warm[1] != reference:
            ctx.problems.append(f"{self.name}: jobs gave counts other than the "
                                f"first warm-up's {reference}")
        if ctx.seed == 0 and reference != self.SEED0_COUNTS:
            ctx.problems.append(f"{self.name}: seed 0 gave {reference} "
                                f"raw/distinct triples, expected {self.SEED0_COUNTS}")
            wrong = len(self.results)
        # the Spark path must give the triples the kernel gives in-process
        sample = self.frame.head(self.SAMPLE_DOCS)
        spark_rows = extract_triples_fused(
            ctx.spark.read.parquet(self.path)
            .filter(F.col("doc_id").isin(list(sample["doc_id"])))).collect()
        local_rows = replay_fused(sample)[1].to_dict("records")
        if _triple_rows(spark_rows) != _triple_rows(local_rows):
            ctx.problems.append(f"{self.name}: Spark triples differ from the "
                                "in-process kernel on the sample docs")
            wrong = len(self.results)
        return wrong

    def trace_metrics(self, ctx: Ctx) -> dict[str, float]:
        """Layer attribution on one partition's worth of docs, memo sizes
        after it, then a few requests to the server."""
        from corenlp_spark.models import perceptron
        from corenlp_spark.models.parser import get_trained_parser

        m = layer_metrics(self.frame.head(self.N_DOCS // ctx.cpus), ctx.tracer)
        m["models.parser.tokrow_cache_entries"] = len(
            get_trained_parser()._tokrow_cache)
        m["models.perceptron.shape_cache_entries"] = len(perceptron._SHAPE_CACHE)
        raw, distinct = self.warm[0]
        m["operators.graph.distinct_ratio"] = distinct / raw
        m.update(super().trace_metrics(ctx))
        return m

    def side_runs(self) -> list[tuple[Workload, int]]:
        """The request path, which has no workload of its own in
        BENCHMARK.json: its latency swings too much between runs on one
        host to hold a bound."""
        return [(AnnotateRequests(prefix="request-"), self.REQUESTS)]


class KgCheckpointed(KgBatch):
    """The resumable path, 200 docs per job, as ``scripts/run_pipeline.py
    --checkpointed`` runs it: ``CheckpointedPipeline.run`` (one parquet
    checkpoint per stage) → ``canonicalize_triples`` over the coref
    checkpoint's chains → ``dedup_triples`` → parquet write. Each job writes
    a fresh checkpoint root, so nothing resumes."""

    name = "kg_checkpointed"
    N_DOCS = docs_per_op = 200

    def _job(self, ctx: Ctx, label: str) -> str:
        from corenlp_spark.operators.graph import (
            canonicalize_triples, coref_chains_rows, dedup_triples,
        )
        from corenlp_spark.plans.pipeline import CheckpointedPipeline

        spark = ctx.spark
        root = os.path.join(ctx.work, "pipeline", label)
        triples = CheckpointedPipeline(spark, root).run(spark.read.parquet(self.path))
        ann = spark.read.parquet(os.path.join(root, "coref"))
        ctx.label(f"{label}:kg")
        dedup_triples(canonicalize_triples(triples, coref_chains_rows(ann))) \
            .write.mode("overwrite").parquet(os.path.join(root, "triples"))
        return root

    def _kg(self, ctx: Ctx, root: str) -> list[tuple]:
        return sorted(map(tuple, ctx.spark.read.parquet(
            os.path.join(root, "triples")).collect()))

    def check(self, ctx: Ctx) -> int:
        """Every job's KG equals the warm-up's, and that equals the fused KG
        of the same docs (the raw checkpointed triples do not: only the
        canonicalized KG is comparable)."""
        from corenlp_spark.operators.graph import dedup_triples
        from corenlp_spark.plans.fused import extract_triples_fused

        self.reference = self._kg(ctx, self.warm[0])
        self.columns = ctx.spark.read.parquet(
            os.path.join(self.warm[0], "triples")).columns
        fused = sorted(map(tuple, dedup_triples(extract_triples_fused(
            ctx.spark.read.parquet(self.path))).select(*self.columns).collect()))
        if fused != self.reference:
            ctx.problems.append(
                f"{self.name}: canonicalized KG ({len(self.reference)} rows) "
                f"differs from the fused KG ({len(fused)} rows) on the same docs")
            return len(self.results)
        wrong = sum(self._kg(ctx, root) != self.reference for root in self.results)
        if wrong:
            ctx.problems.append(f"{self.name}: {wrong} jobs gave a KG other "
                                "than the warm-up's")
        return wrong

    def trace_metrics(self, ctx: Ctx) -> dict[str, float]:
        """Per stage: median wall time over the timed jobs, from the
        ``_lineage_<stage>.json`` the program writes, and checkpoint bytes;
        then one round of the dedup queries."""
        from corenlp_spark.plans.pipeline import STAGES

        m: dict[str, float] = {}
        written = 0
        for stage in [s.name for s in STAGES] + ["triples_raw"]:
            walls = []
            for root in self.results:
                with open(os.path.join(root, f"_lineage_{stage}.json")) as f:
                    walls.append(json.load(f)["wall_s"])
            m[f"plans.pipeline.{stage}.wall_s"] = statistics.median(walls)
            size = _dir_bytes(os.path.join(self.results[-1], stage))
            m[f"plans.pipeline.{stage}.bytes_written"] = size
            written += size
        m["plans.pipeline.write_amp"] = written / _dir_bytes(self.path)
        support = self.columns.index("support")
        m["operators.graph.distinct_ratio"] = len(self.reference) / sum(
            r[support] for r in self.reference)
        m.update(super().trace_metrics(ctx))
        return m

    def side_runs(self) -> list[tuple[Workload, int]]:
        """The four dedup queries, which have no workload of their own in
        BENCHMARK.json: their warm-up alone outlasts the run budget."""
        return [(DedupCorpus(prefix="dedup-"), 1)]


# --------------------------------------------------------------------------
# annotate_requests
# --------------------------------------------------------------------------

def request_texts(seed: int) -> list[str]:
    """Distinct in-repo sentences in a seeded order."""
    from corenlp_spark.data import eval_corpus, gold_trees
    from corenlp_spark.data.synth import GOLDEN_SENTENCES

    pool = list(GOLDEN_SENTENCES)
    pool += [s for s, _ in eval_corpus.POS_EVAL]
    pool += [" ".join(words) for words, _, _ in eval_corpus.NER_EVAL]
    pool += [" ".join(words) for words, _, _ in gold_trees.load()]
    pool = sorted(set(pool))
    random.Random(seed).shuffle(pool)
    return pool


def _text_spans(text: str) -> list[dict]:
    return [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]


class AnnotateRequests(Workload):
    """Closed loop, one client, one request in flight: ``POST /annotate``
    (json, default annotators) to a ``serve.CoreNLPServer`` on 127.0.0.1."""

    name = "annotate_requests"
    # request latency keeps falling for about six requests after the first
    # (JIT of the per-request plan path), so warm up past that ramp
    WARMUP = 8
    docs_per_op = 1
    server = None    # set by setup; close() runs even when setup failed
    _render = None   # serve._render while it is wrapped
    _PATH = "/annotate?properties=" + urllib.parse.quote(
        json.dumps({"outputFormat": "json"}))

    def inputs(self, ctx: Ctx) -> None:
        self.texts = request_texts(ctx.seed)

    def setup(self, ctx: Ctx) -> None:
        from corenlp_spark import serve

        self.replies: list[tuple[str, int, bytes]] = []
        self.render_s: list[float] = []
        self.latency_s: list[float] = []
        if ctx.tracer is not None:
            self._trace_render(ctx, serve)
        self.server = serve.CoreNLPServer(ctx.spark)
        self.server.start()
        self.host, self.port = self.server._httpd.server_address[:2]
        for i in range(self.WARMUP):
            self._request(ctx, self.texts[-1 - i], "warmup")
        self.replies.clear()
        self.render_s.clear()
        self.latency_s.clear()

    def _trace_render(self, ctx: Ctx, serve) -> None:
        """Time ``serve._render`` and tag its jobs with the request label."""
        render = serve._render
        self._label = "warmup"

        def traced(spark, *args):
            spark.sparkContext.setJobDescription(self._label)
            t0 = time.perf_counter()
            try:
                return render(spark, *args)
            finally:
                self.render_s.append(time.perf_counter() - t0)
                spark.sparkContext.setJobDescription(None)

        self._render = render
        serve._render = traced

    def _request(self, ctx: Ctx, text: str, label: str) -> None:
        self._label = label
        conn = http.client.HTTPConnection(self.host, self.port, timeout=120)
        try:
            t0 = time.perf_counter()
            conn.request("POST", self._PATH, body=text.encode("utf-8"))
            resp = conn.getresponse()
            body = resp.read()
            self.latency_s.append(time.perf_counter() - t0)
        finally:
            conn.close()
        self.replies.append((text, resp.status, body))
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {body[:200]!r}")

    def op(self, ctx: Ctx, i: int) -> None:
        if i >= len(self.texts) - self.WARMUP:
            raise RuntimeError("ran out of distinct request texts")
        self._request(ctx, self.texts[i], f"{self.prefix}{i}")

    def check(self, ctx: Ctx) -> int:
        from corenlp_spark.operators.tokenize import annotate_doc

        wrong = 0
        for text, status, body in self.replies:
            if status != 200:
                continue  # already counted as a failed operation
            try:
                doc = json.loads(body)
                words = [t["word"] for s in doc["sentences"] for t in s["tokens"]]
            except (ValueError, KeyError, TypeError) as ex:
                ctx.problems.append(f"annotate_requests: bad JSON reply ({ex})")
                wrong += 1
                continue
            want = [t["word"] for t in annotate_doc(_text_spans(text))[0]]
            if words != want:
                ctx.problems.append(f"annotate_requests: words of {text!r} "
                                    "differ from the in-process tokenizer")
                wrong += 1
        return wrong

    def trace_metrics(self, ctx: Ctx) -> dict[str, float]:
        from corenlp_spark.plans.fused import _annotate_one

        kernel = []
        for text, _, _ in self.replies:
            _annotate_one(_text_spans(text))  # warm
            t0 = time.perf_counter()
            _annotate_one(_text_spans(text))
            kernel.append(time.perf_counter() - t0)
        return {
            "serve.render_ms": statistics.median(self.render_s) * 1e3,
            "serve.http_ms": statistics.median(
                a - b for a, b in zip(self.latency_s, self.render_s)) * 1e3,
            "api.kernel_ms": statistics.median(kernel) * 1e3,
        }

    def log_metrics(self, reduced: dict) -> dict[str, float]:
        ops = ops_from_log(reduced, self.prefix)
        return {
            "api.spark_job_ms": statistics.median(
                o.get("spark.job_span_s", 0.0) for o in ops) * 1e3,
            "api.jobs_per_request": statistics.median(
                o.get("spark.jobs", 0.0) for o in ops),
        }

    def close(self, ctx: Ctx) -> None:
        from corenlp_spark import serve

        if self.server is not None:
            self.server.stop()
        if self._render is not None:
            serve._render = self._render


# --------------------------------------------------------------------------
# dedup_corpus
# --------------------------------------------------------------------------

DEDUP_QUERIES = ("dedup_minhash", "dedup_ngram_jaccard", "dedup_components",
                 "dedup_simhash_pairs")


def write_documents(root: str, seed: int, n: int, out_dir: str) -> None:
    """A ``documents`` table of the test-data shape (``scripts/gen_sf.py``:
    vocab-31 words, 10-100 words per doc, ~4.3 % near-dup variants)."""
    import numpy as np
    import pandas as pd

    gen = _load_script(root, "gen_sf")
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, size=n)
    words = np.array(gen.VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.0435:
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lens[i])]))
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(gen.LANGS, size=n, p=gen.LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
    })
    docs["n_chars"] = docs.text.str.len().astype(np.int64)
    os.makedirs(out_dir, exist_ok=True)
    docs.to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)


class DedupCorpus(Workload):
    """The four near-dup queries of ``__spark_entry__.queries()``, each to a
    noop sink, over one generated documents table; one operation runs all
    four back to back."""

    name = "dedup_corpus"
    N_DOCS = 1000
    docs_per_op = N_DOCS

    def inputs(self, ctx: Ctx) -> None:
        self.sf_dir = os.path.join(ctx.work, "sf")
        write_documents(ctx.root, ctx.seed, self.N_DOCS, self.sf_dir)

    def setup(self, ctx: Ctx) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.query_s: dict[str, list[float]] = {q: [] for q in DEDUP_QUERIES}
        self.spark_rows: dict[str, tuple[int, str, list[str]]] = {}
        self.oracle = _load_script(ctx.root, "check_oracle")
        for q in DEDUP_QUERIES:  # warm-up at full size, kept for the check
            ctx.label("warmup")
            df = self.queries[q](ctx.spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
            self.spark_rows[q] = (len(rows), self.oracle.value_hash(rows, df.columns),
                                  sorted(df.columns))

    def op(self, ctx: Ctx, i: int) -> None:
        for q in DEDUP_QUERIES:
            # drop the tables earlier runs persisted (nothing unpersists
            # them), so each query pays its own persist and Python kernels
            # as a one-shot run of the program does
            ctx.spark.catalog.clearCache()
            ctx.label(f"{self.prefix}{i}:{q}")
            t0 = time.perf_counter()
            self.queries[q](ctx.spark, self.sf_dir).write.format("noop") \
                .mode("overwrite").save()
            self.query_s[q].append(time.perf_counter() - t0)

    def check(self, ctx: Ctx) -> int:
        """Each query's order-insensitive value hash against its DuckDB
        oracle (``__spark_entry__.oracle_sql``, ``check_oracle.value_hash``)."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            bad = []
            for q in DEDUP_QUERIES:
                rel = con.sql(oracles[q])
                rows = [tuple(r) for r in rel.fetchall()]
                want = (len(rows), self.oracle.value_hash(rows, rel.columns),
                        sorted(rel.columns))
                if self.spark_rows[q] != want:
                    bad.append(q)
        finally:
            con.close()
        if bad:
            ctx.problems.append(f"dedup_corpus: oracle mismatch for {bad}")
            return len(self.query_s[DEDUP_QUERIES[0]])
        return 0

    def trace_metrics(self, ctx: Ctx) -> dict[str, float]:
        m: dict[str, float] = {}
        for q in DEDUP_QUERIES:
            m[f"functions.dedup.{q}.wall_s"] = statistics.median(self.query_s[q])
            m[f"functions.dedup.{q}.output_rows"] = self.spark_rows[q][0]
        return m

    def log_metrics(self, reduced: dict) -> dict[str, float]:
        """Per query, the mean over operations of its event-log totals."""
        ops = ops_from_log(reduced, self.prefix)
        m: dict[str, float] = {}
        for q in DEDUP_QUERIES:
            runs = [o["parts"][q] for o in ops if q in o.get("parts", {})]
            for key, name in (("python.total_s", "python_s"),
                              ("spark.shuffle_write_bytes", "shuffle_bytes"),
                              ("spark.spill_bytes", "spill_bytes"),
                              ("spark.jvm_gc_s", "gc_s")):
                m[f"functions.dedup.{q}.{name}"] = statistics.mean(
                    r.get(key, 0.0) for r in runs) if runs else 0.0
        return m

    def summary(self) -> dict[str, list[float]]:
        """Per-query times, printed as ``dedup_<query>_s``."""
        return {f"{q}_s": v for q, v in self.query_s.items()}


WORKLOADS = {w.name: w for w in (KgFused, KgCheckpointed, AnnotateRequests,
                                  DedupCorpus)}
