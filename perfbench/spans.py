"""In-memory spans and the in-process attribution of the annotation layers.

``Tracer`` keeps spans (name, start, end, parent, trace id) and per-name
totals in memory; ``write`` saves them once, when the benchmark ends.

``replay_fused`` feeds one pandas frame of docs to the real
``extract_triples_fused`` batch function — obtained by handing it a stub
whose ``mapInPandas`` returns the function — while the names
``plans.fused`` calls are wrapped with timers. The wrapped calls run inside
the replay span and never nest, so a layer's self time is the sum of its
calls (kept as per-name totals, since some run once per token), and
``plans.fused.glue_s`` is the replay wall time minus all layer time.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Callable, Iterator

# plans.fused global name → layer (module) and the phase within it
FUSED_CALLS: dict[str, tuple[str, str]] = {
    "annotate_doc": ("operators.tokenize", "tokenize"),
    "pos_tag_batch": ("operators.tag", "pos"),
    "lemmatize": ("operators.tag", "lemma"),
    "tag_ner_batch": ("operators.ner", "ner"),
    "detect_mentions": ("operators.coref", "mentions"),
    "run_sieves": ("operators.coref", "sieves"),
    "_Graph": ("operators.openie", "graph"),
    "extract_sentence": ("operators.openie", "extract"),
}
PARSER_LAYER = ("models.parser", "parse")
LAYERS = ("operators.tokenize", "operators.tag", "operators.ner",
          "models.parser", "operators.coref", "operators.openie")
# layers reported per phase as well: those with more than one wrapped name
SPLIT_LAYERS = {layer for layer, _ in FUSED_CALLS.values()
                if sum(x == layer for x, _ in FUSED_CALLS.values()) > 1}


class Tracer:
    """Spans and per-name call totals, kept in memory until ``write``."""

    def __init__(self) -> None:
        self.spans: list[tuple[int, str, float, float, int | None, str]] = []
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._next_id = 0

    @contextmanager
    def span(self, name: str, trace: str,
             parent: int | None = None) -> Iterator[int]:
        sid = self._next_id
        self._next_id += 1
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            self.spans.append((sid, name, t0, time.perf_counter(), parent, trace))

    def timed(self, name: str, fn: Callable) -> Callable:
        """``fn`` wrapped so each call adds to ``self_s[name]``. Calls made
        once per token are summed rather than kept as separate spans."""
        totals, calls = self.self_s, self.calls

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                totals[name] += time.perf_counter() - t0
                calls[name] += 1

        return wrapper

    def write(self, path: str, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [{"id": s, "name": n, "start": a, "end": b,
                           "parent": p, "trace": t}
                          for s, n, a, b, p, t in self.spans],
                "calls": {k: {"self_s": self.self_s[k], "calls": v}
                          for k, v in self.calls.items()},
                "metrics": metrics,
            }, f)


def fused_batch_function() -> Callable:
    """The per-batch function ``extract_triples_fused`` hands to Spark."""
    from corenlp_spark.plans.fused import extract_triples_fused

    class _Stub:
        def mapInPandas(self, fn, schema):  # noqa: N802 — Spark's name
            return fn

    return extract_triples_fused(_Stub())


@contextmanager
def wrapped_fused_calls(tracer: Tracer) -> Iterator[None]:
    """Wrap the kernel names ``plans.fused`` calls, restore them after."""
    from corenlp_spark.models.parser import get_trained_parser
    from corenlp_spark.plans import fused

    saved = {name: getattr(fused, name) for name in FUSED_CALLS}
    parser = get_trained_parser()
    for name, (layer, phase) in FUSED_CALLS.items():
        setattr(fused, name, tracer.timed(f"{layer}.{phase}", saved[name]))
    parser.parse_batch = tracer.timed(".".join(PARSER_LAYER),
                                      type(parser).parse_batch.__get__(parser))
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(fused, name, fn)
        del parser.parse_batch


def count_docs(frame) -> dict[str, int]:
    """Sentence and token counts of a docs frame, from the tokenizer."""
    from corenlp_spark.operators.tokenize import annotate_doc

    sentences = tokens = 0
    for spans in frame["spans"]:
        toks, sents = annotate_doc([s for s in spans if s is not None])
        sentences += len(sents)
        tokens += len(toks)
    return {"docs": len(frame), "sentences": sentences, "tokens": tokens}


def replay_fused(frame, tracer: Tracer | None = None, trace: str = "replay"):
    """Run the fused batch function over ``frame``; returns (wall_s,
    triples frame). With a tracer, the kernel calls are wrapped and the
    replay is recorded as a span."""
    import pandas as pd

    run = fused_batch_function()
    if tracer is None:
        t0 = time.perf_counter()
        out = pd.concat(list(run(iter([frame]))), ignore_index=True)
        return time.perf_counter() - t0, out
    with wrapped_fused_calls(tracer), tracer.span("plans.fused.replay", trace):
        t0 = time.perf_counter()
        out = pd.concat(list(run(iter([frame]))), ignore_index=True)
        wall = time.perf_counter() - t0
    return wall, out


def layer_metrics(frame, tracer: Tracer, passes: int = 3) -> dict[str, float]:
    """Per-layer self time and share of a warm replay of ``frame``, the
    glue time, the counts, and the tracing overhead: ``passes`` untraced
    and traced replays alternate; times are per traced pass, averaged, and
    the overhead is the median traced minus the median untraced wall."""
    import statistics

    replay_fused(frame)  # fills the memos; the first pass is not timed
    plain, traced = [], []
    for i in range(passes):
        plain.append(replay_fused(frame)[0])
        wall, out = replay_fused(frame, tracer, trace=f"replay-{i}")
        traced.append(wall)
    wall = statistics.mean(traced)
    per_pass = {k: v / passes for k, v in tracer.self_s.items()}
    layer_s = defaultdict(float)
    for key, secs in per_pass.items():
        layer_s[key.rsplit(".", 1)[0]] += secs
    m: dict[str, float] = {}
    for layer in LAYERS:
        m[f"{layer}.self_s"] = layer_s[layer]
        m[f"{layer}.share"] = layer_s[layer] / wall
    for key, secs in per_pass.items():
        layer, phase = key.rsplit(".", 1)
        if layer in SPLIT_LAYERS:
            m[f"{layer}.{phase}_s"] = secs
    m["plans.fused.glue_s"] = wall - sum(layer_s.values())
    m["plans.fused.replay_s"] = wall
    for k, v in count_docs(frame).items():
        m[f"plans.fused.{k}"] = v
    m["plans.fused.triples"] = len(out)
    base = statistics.median(plain)
    m["trace.replay_overhead_pct"] = (statistics.median(traced) - base) / base * 100
    return m
