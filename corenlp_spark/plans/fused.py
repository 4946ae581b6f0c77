"""The annotation chain as named batch phases, and its single-pass driver.

Every driver of the chain runs the same six phase functions, each over a
whole Arrow batch of documents:

  ``tokenize_phase`` → ``tag_phase`` (POS + lemma) → ``ner_phase`` →
  ``parse_phase`` → ``coref_phase`` → ``triples_phase`` (per doc).

The model phases (POS, NER, parse) batch across every sentence of the batch
— one numpy score per decoding step for the whole batch instead of one per
sentence — which is the batch-at-a-time execution that vectorized Python
UDFs are built for.

``annotate_fused`` and ``extract_triples_fused`` compose the phases in one
``mapInPandas`` and cross Arrow once per batch. The staged operators
(``tokenize_docs`` … ``openie_docs``, composed with per-stage checkpoints by
plans/pipeline.py) run one phase each, so the two paths share the kernels
and agree exactly; tests assert it. This is the single mutable Annotation
tree of the reference (``pipeline/AnnotationPipeline.java:66-83``)
re-expressed as operator fusion inside one narrow Spark stage.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from corenlp_spark.operators.coref import COREF_TYPE, detect_mentions, run_sieves
from corenlp_spark.operators.depparse import DEPS_TYPE
from corenlp_spark.operators.ner import NER_TOKENS_TYPE, tag_ner_batch
from corenlp_spark.operators.openie import TRIPLES_SCHEMA, _Graph, extract_sentence
from corenlp_spark.operators.tag import lemmatize, pos_tag_batch
from corenlp_spark.operators.tokenize import SENTENCES_TYPE, annotate_doc

#: one document of a batch: (tokens, sentences); phases add token fields
Doc = tuple[list[dict], list[dict]]

_TRIPLE_COLUMNS = tuple(f.split()[0] for f in TRIPLES_SCHEMA.split(", "))


def tokenize_phase(spans_list, options: dict | None = None) -> list[Doc]:
    """Tokenize + ssplit each doc. Null-safe: null spans or null span
    structs yield no tokens instead of failing the task — one bad record
    must never kill the job."""
    docs: list[Doc] = []
    for spans in spans_list:
        if spans is None:
            docs.append(([], []))
            continue
        docs.append(annotate_doc([s for s in spans if s is not None], options))
    return docs


def tag_phase(docs: list[Doc]) -> None:
    """POS for all docs in one batch, then lemmas; sets ``pos`` and
    ``lemma`` on each token in place."""
    tag_lists = pos_tag_batch([
        ([t["word"] for t in tokens], {s["start_tok"] for s in sentences})
        for tokens, sentences in docs
    ])
    for (tokens, _), tags in zip(docs, tag_lists):
        for t, tag in zip(tokens, tags):
            t["pos"] = tag
            t["lemma"] = lemmatize(t["word"], tag)


def _segments(docs: list[Doc]) -> list[tuple[int, dict, list[dict]]]:
    """(doc index, sentence, sentence tokens) over every sentence of the
    batch, in document order."""
    return [(di, s, tokens[s["start_tok"]:s["end_tok"]])
            for di, (tokens, sentences) in enumerate(docs)
            for s in sentences]


def ner_phase(docs: list[Doc]) -> None:
    """NER over every sentence of the batch in one batched decode; sets
    ``ner`` and ``nner`` on each token in place."""
    segs = _segments(docs)
    out = tag_ner_batch([([t["word"] for t in seg], [t["pos"] for t in seg])
                         for _, _, seg in segs])
    for (_, _, seg), (ner, nner) in zip(segs, out):
        for t, x, y in zip(seg, ner, nner):
            t["ner"], t["nner"] = x, y


def parse_phase(docs: list[Doc]) -> list[list[dict]]:
    """Dependency edges per doc (doc-level token indices, root head -1).
    The trained parser decodes every sentence of the batch at once."""
    from corenlp_spark.models.parser import get_trained_parser

    segs = _segments(docs)
    parses = get_trained_parser().parse_batch(
        [([t["word"] for t in seg], [t["pos"] for t in seg])
         for _, _, seg in segs])
    deps: list[list[dict]] = [[] for _ in docs]
    for (di, s, _), edges in zip(segs, parses):
        dd = deps[di]
        si, a = s["sent_idx"], s["start_tok"]
        for h, d, r in edges:
            dd.append({"sent_idx": si, "head": (h + a) if h >= 0 else -1,
                       "dep": d + a, "rel": r})
    return deps


def coref_phase(docs: list[Doc]) -> list[list[dict]]:
    """Coref chain rows per doc. The representative of a cluster is its
    longest non-pronoun mention, earliest on a tie (CorefChain
    representative semantics)."""
    out = []
    for tokens, sentences in docs:
        ms = detect_mentions(tokens, sentences)
        run_sieves(ms, tokens)
        best = {}
        for m in ms:
            cur = best.get(m.cluster)
            rank = (m.kind != "pronoun", len(m.text))
            if cur is None or rank > (cur.kind != "pronoun", len(cur.text)):
                best[m.cluster] = m
        out.append([
            {"cluster_id": m.cluster, "sent_idx": m.sent, "start_tok": m.start,
             "end_tok": m.end, "text": m.text, "head": m.head_idx,
             "kind": m.kind, "representative": best[m.cluster] is m}
            for m in ms
        ])
    return out


def triples_phase(tokens, sentences, deps, coref=None) -> list[tuple]:
    """One doc's OpenIE triples as (sent_idx, subj, pred, obj, confidence,
    subj_head, obj_head): the best-confidence triple per case-folded key
    within each sentence. With ``coref``, a pronoun subject becomes its
    chain's non-pronoun representative — the in-process form of the
    canonicalize_triples join (``naturalli/OpenIE.java:393-437``)."""
    by_sent: dict[int, list] = {}
    for e in deps:
        by_sent.setdefault(e["sent_idx"], []).append(
            (e["head"], e["dep"], e["rel"]))
    rep_of: dict[int, str] = {}
    if coref is not None:
        reps = {m["cluster_id"]: m["text"] for m in coref
                if m["representative"] and m["kind"] != "pronoun"}
        for m in coref:
            if m["kind"] == "pronoun" and m["cluster_id"] in reps:
                for t in range(m["start_tok"], m["end_tok"]):
                    rep_of[t] = reps[m["cluster_id"]]
    out = []
    for s in sentences:
        edges = by_sent.get(s["sent_idx"], [])
        if not edges:
            continue
        a, b = s["start_tok"], s["end_tok"]
        seg = tokens[a:b]
        g = _Graph([t["word"] for t in seg], [t["lemma"] for t in seg],
                   edges, a, [t["pos"] for t in seg])
        best: dict[tuple, tuple] = {}
        for subj, pred, obj, conf, sh, oh in extract_sentence(g):
            subj = rep_of.get(sh, subj)
            key = (subj.lower(), pred.lower(), obj.lower())
            if key not in best or best[key][3] < conf:
                best[key] = (subj, pred, obj, conf, sh, oh)
        out.extend((s["sent_idx"],) + t for t in best.values())
    return out


def triples_frame(doc_ids, per_doc: list[list[tuple]]) -> pd.DataFrame:
    """Per-doc ``triples_phase`` outputs → one TRIPLES_SCHEMA frame."""
    cols: dict[str, list] = {k: [] for k in _TRIPLE_COLUMNS}
    for doc_id, triples in zip(doc_ids, per_doc):
        for t in triples:
            cols["doc_id"].append(doc_id)
            for k, v in zip(_TRIPLE_COLUMNS[1:], t):
                cols[k].append(v)
    return pd.DataFrame(cols)


def map_docs(df: DataFrame, columns: dict[str, str],
             fn: Callable[[pd.DataFrame], dict[str, list]]) -> DataFrame:
    """One narrow ``mapInPandas`` that sets ``columns`` (name → Spark type)
    to ``fn(batch)``; the other columns pass through, and the set columns
    come last in the given order."""
    keep = [f for f in df.schema.fields if f.name not in columns]
    schema = ", ".join([f"{f.name} {f.dataType.simpleString()}" for f in keep]
                       + [f"{k} {v}" for k, v in columns.items()])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for k, v in fn(pdf).items():
                pdf[k] = v
            yield pdf

    return df.mapInPandas(run, schema=schema)


def docs_of(pdf: pd.DataFrame) -> list[Doc]:
    """The (tokens, sentences) docs of an annotated batch."""
    return [(list(t), list(s)) for t, s in zip(pdf["tokens"], pdf["sentences"])]


def _annotate_batch(spans_list) -> list[tuple[list[dict], list[dict],
                                              list[dict], list[dict]]]:
    """Many docs → [(tokens, sentences, deps, coref)]: every phase of the
    chain over the whole batch."""
    docs = tokenize_phase(spans_list)
    tag_phase(docs)
    ner_phase(docs)
    deps = parse_phase(docs)
    coref = coref_phase(docs)
    return [(t, s, d, c) for (t, s), d, c in zip(docs, deps, coref)]


def _annotate_one(spans) -> tuple[list[dict], list[dict], list[dict], list[dict]]:
    """spans → (tokens, sentences, deps, coref) — single-doc view of
    _annotate_batch."""
    return _annotate_batch([spans])[0]


def annotate_fused(df: DataFrame) -> DataFrame:
    """docs → + tokens, sentences, deps, coref in one Arrow pass."""

    def annotate(pdf: pd.DataFrame) -> dict[str, list]:
        ann = _annotate_batch(list(pdf["spans"]))
        return {k: [a[i] for a in ann]
                for i, k in enumerate(("tokens", "sentences", "deps", "coref"))}

    return map_docs(df, {"tokens": NER_TOKENS_TYPE, "sentences": SENTENCES_TYPE,
                         "deps": DEPS_TYPE, "coref": COREF_TYPE}, annotate)


def extract_triples_fused(df: DataFrame, canonicalize: bool = True) -> DataFrame:
    """docs → triples in ONE pass: no nested columns ever cross Arrow.

    Includes in-process pronoun canonicalization (``triples_phase`` with the
    doc's coref rows) so the output equals the staged
    canonicalize_triples(openie, coref) join, minus the shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ann = _annotate_batch(list(pdf["spans"]))
            yield triples_frame(pdf["doc_id"], [
                triples_phase(tokens, sentences, deps,
                              coref if canonicalize else None)
                for tokens, sentences, deps, coref in ann])

    return df.mapInPandas(run, schema=TRIPLES_SCHEMA)
