"""Batched decoders must equal their slow reference decoders exactly.

Each model (arc-standard parser, POS perceptron, NER Viterbi) has ONE
inference decoder, batched across sentences (one numpy score per step for
the whole Arrow batch — SURVEY §2.2 depparse row, VERDICT r3 #1); its
per-sentence entry point is a batch of one. These tests keep one slow
per-sentence reference per model and pin the bitwise-equality contract:
for every sentence, the batched decode must produce exactly the reference
output, and the same output in any batch.
"""

from __future__ import annotations

import pytest

from corenlp_spark.data.synth import GOLDEN_SENTENCES, _doc_spans
from corenlp_spark.operators.tag import pos_tag, pos_tag_batch
from corenlp_spark.operators.tokenize import annotate_doc


def _doc_pool():
    pool = [[{"kind": "text", "text": s, "media_ref": None, "offset": 0}]
            for s in GOLDEN_SENTENCES]
    pool += [_doc_spans(f"doc{i:08d}", True) for i in range(120)]
    return pool


@pytest.fixture(scope="module")
def annotated_pool():
    docs = []
    for spans in _doc_pool():
        toks, sents = annotate_doc([s for s in spans if s["kind"] == "text"])
        words = [t["word"] for t in toks]
        starts = {x["start_tok"] for x in sents}
        docs.append((words, starts, sents))
    return docs


def _pos_reference(m, words, fixed, starts):
    """Per-token greedy decode over the training-time scorer: fixed tags
    win, the left context resets at each sentence start, an unknown word
    gets only an open tag, no known feature gives NN, ties go to the
    largest tag."""
    from corenlp_spark.models.perceptron import _pos_features

    out, prev, prev2 = [], "<s>", "<s>"
    for i, w in enumerate(words):
        if i in starts:
            prev = prev2 = "<s>"
        tag = fixed.get(i)
        if tag is None:
            feats = _pos_features(words, i, prev, prev2)
            if not any(f in m.weights for f in feats):
                tag = "NN"
            else:
                scores = m._score(feats)
                cands = m.tags
                if f"w={w.lower()}" not in m.weights:
                    cands = [t for t in m.tags if t in m.OPEN_TAGS] or m.tags
                tag = max(cands, key=lambda t: (scores.get(t, 0.0), t))
        out.append(tag)
        prev2, prev = prev, tag
    return out


def test_pos_batch_equals_sequential(annotated_pool):
    from corenlp_spark.operators.tag import _get_pos_model, _pos_constraints

    m = _get_pos_model()
    docs = [(w, s) for w, s, _ in annotated_pool]
    ref = [_pos_reference(m, w, _pos_constraints(w), s) for w, s in docs]
    assert pos_tag_batch(docs) == ref


def test_pos_batch_isolation(annotated_pool):
    """A document tags the same alone, in a mixed batch and in a
    reversed batch (no state leaks between the documents of a batch)."""
    docs = [(w, s) for w, s, _ in annotated_pool]
    mixed = pos_tag_batch(docs)
    assert [pos_tag_batch([d])[0] for d in docs[:150]] == mixed[:150]
    assert pos_tag_batch(list(reversed(docs))) == list(reversed(mixed))


def test_pos_all_unknown_features_fall_back_to_nn():
    """A position none of whose features has a weight tags NN."""
    from corenlp_spark.models.perceptron import AveragedPerceptronTagger

    m = AveragedPerceptronTagger.from_broadcastable(
        {"tags": ["NN", "VB"], "weights": {}})
    assert m.predict(["a", "b"]) == ["NN", "NN"]
    batch = [(["a", "b"], {}, None), (["c"], {0: "VB"}, None)]
    assert m.predict_with_constraints_batch(batch) == [["NN", "NN"], ["VB"]]


def _sentence_segs(annotated_pool):
    segs = []
    for words, starts, sents in annotated_pool:
        tags = pos_tag(words, starts)
        for x in sents:
            a, b = x["start_tok"], x["end_tok"]
            segs.append((words[a:b], tags[a:b]))
    return segs


def _ner_model_inputs(annotated_pool):
    from corenlp_spark.operators.ner import _ner_force_o

    return [(w, p, _ner_force_o(w)) for w, p in _sentence_segs(annotated_pool)]


def test_ner_batch_equals_sequential(annotated_pool):
    """decode_batch vs the training-time per-sentence Viterbi over the
    dict-scored emissions, with force-O rows pushed down by _NEG."""
    from corenlp_spark.models.perceptron import _NEG, _ner_sent_features
    from corenlp_spark.operators.ner import _get_ner_model

    m = _get_ner_model()

    def decode_ref(words, pos, force_o):
        if not words:
            return []
        em = m._emissions_train(_ner_sent_features(words, pos))
        for i in force_o:
            em[i][1:] = [x + _NEG for x in em[i][1:]]
        path = m._viterbi_train(em, m._trans_matrix_train())
        return [m.labels[j] for j in path]

    sents = _ner_model_inputs(annotated_pool)
    assert m.decode_batch(sents) == [decode_ref(*s) for s in sents]


def test_ner_batch_isolation(annotated_pool):
    """A sentence decodes the same alone, in a mixed batch and in a
    reversed batch (per-sentence offsets into the shared emission matrix
    and the padded DP never cross)."""
    from corenlp_spark.operators.ner import _get_ner_model

    m = _get_ner_model()
    sents = _ner_model_inputs(annotated_pool)
    mixed = m.decode_batch(sents)
    assert [m.decode_batch([s])[0] for s in sents[:150]] == mixed[:150]
    assert m.decode_batch(list(reversed(sents))) == list(reversed(mixed))


def test_parse_batch_equals_reference_decode(annotated_pool):
    """parse_batch vs the r3 per-sentence greedy loop, reproduced here
    verbatim from the dict-scored path (models/parser.py history)."""
    from corenlp_spark.models.parser import _features, get_trained_parser

    p = get_trained_parser()
    p._ensure_action_vectors()

    def parse_ref(words, pos):
        n = len(words)
        if n == 0:
            return []
        avec, acts = p._avec, p._acts_desc
        stack, buffer = [], list(range(n))
        head_of, label_of, kids_of = {}, {}, {}
        steps = 0
        while (buffer or len(stack) > 1) and steps < 4 * n + 8:
            steps += 1
            if len(stack) < 2:
                stack.append(buffer.pop(0))
                continue
            feats = _features(stack, buffer, words, pos, head_of, label_of,
                              kids_of)
            sc = p._zero.copy()
            for f in feats:
                arr = avec.get(f)
                if arr is not None:
                    sc += arr
            sc += p._pen_all if buffer else p._pen_arc_only
            act = acts[int(sc.argmax())]
            kind, rel = act.split("|", 1)
            if kind == "S":
                stack.append(buffer.pop(0))
            elif kind == "L":
                d = stack[-2]
                head_of[d] = stack[-1]
                label_of[d] = rel
                kids_of.setdefault(stack[-1], []).append(d)
                stack.pop(-2)
            else:
                d = stack[-1]
                head_of[d] = stack[-2]
                label_of[d] = rel
                kids_of.setdefault(stack[-2], []).append(d)
                stack.pop()
        return p._finalize(words, pos, n, stack, head_of, label_of)

    segs = _sentence_segs(annotated_pool)
    ref = [parse_ref(w, t) for w, t in segs]
    assert p.parse_batch(segs) == ref


def test_annotate_batch_equals_per_doc():
    """The fused batch orchestrator must equal running each doc alone."""
    from corenlp_spark.plans.fused import _annotate_batch

    pool = _doc_pool()[:60]
    batch = _annotate_batch(pool)
    singles = [_annotate_batch([spans])[0] for spans in pool]
    assert batch == singles


def test_parse_batch_flat_state_isolation(annotated_pool):
    """r6 vectorized decode keeps per-token state (child extents, valences,
    arc labels) in flat arrays indexed by per-sentence base offsets — a
    mixed batch must decode every sentence exactly as a singleton batch
    does (catches any cross-sentence offset contamination)."""
    from corenlp_spark.models.parser import get_trained_parser

    p = get_trained_parser()
    segs = _sentence_segs(annotated_pool)
    mixed = p.parse_batch(segs)
    # singleton calls build their own flat arrays from scratch
    singles = [p.parse_batch([s])[0] for s in segs[:150]]
    assert mixed[:150] == singles
    # and a reversed-order batch must not change any result
    rev = p.parse_batch(list(reversed(segs)))
    assert rev == list(reversed(mixed))
