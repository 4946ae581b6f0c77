"""OpenIE: clause selection + natural-logic gating + triple segmentation.

Behavioral reference (re-expressed):
  - orchestration ``naturalli/OpenIE.java:217-235,324-334,452-510``;
  - triple segmentation VERB_PATTERNS + noun patterns
    ``naturalli/RelationTripleSegmenter.java:39-126,150,884`` — the semgrex
    patterns are hand-compiled here into edge-list match functions over the
    ``deps`` column (per-sentence graphs are tiny; SURVEY.md §2.3);
  - forward entailment (licensed deletions, e.g. dropping ``amod`` under
    upward polarity) ``naturalli/ForwardEntailerSearchProblem.java:119-220``
    with deletion confidences in the spirit of
    ``naturalli/NaturalLogicWeights.java:99-220``;
  - polarity blocking (no extraction under downward-monotone contexts like
    "doubt that …" unless negated) ``naturalli/NaturalLogicAnnotator.java:300-343,594``.

Output: exploded triples table
  (doc_id, sent_idx, subj, pred, obj, confidence, subj_head, obj_head)
with subj/obj glosses determiner-stripped (RelationTriple gloss semantics,
``ie/util/RelationTriple.java:61-179``).

Narrow transform per doc; the triple table inherits the docs partitioning.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

TRIPLES_SCHEMA = (
    "doc_id string, sent_idx int, subj string, pred string, obj string, "
    "confidence double, subj_head int, obj_head int"
)

# downward-monotone clause governors (NaturalLogicAnnotator operator lexicon)
_DOWNWARD_GOVERNORS = {"doubt", "deny", "refuse", "fail", "reject", "doubtful"}
_NEG_DETS = {"no", "not", "never", "n't", "without"}

# quantifier determiners: (restrictor monotonicity, scope monotonicity) —
# the public natlog operator lexicon (``naturalli/Operator.java:29-120``);
# "up" entries need no flip record, "flat" marks non-monotone contexts.
_QUANT_OPS = {
    "all": ("down", "up"), "every": ("down", "up"), "each": ("down", "up"),
    "any": ("down", "up"),
    "no": ("down", "down"), "neither": ("down", "down"),
    "none": ("down", "down"),
    "few": ("down", "down"),
    "most": ("flat", "up"),
}
# unary negative pronouns: downward over the whole clause they head-govern
# (Operator.java "no one"/"nobody"/"nothing" rows)
_NEG_PRONOUNS = {"nobody", "nothing", "noone"}
_NEG_ADVERBS = {"not", "n't", "never",
                # downward-monotone frequency adverbs (Operator.java
                # rarely/seldom/hardly/scarcely rows): weaker than clausal
                # negation but the same scope flip
                "rarely", "seldom", "hardly", "scarcely"}

_NP_MODS = {"amod", "compound", "nummod", "nmod:poss", "flat"}
_DET_LIKE = {"det", "punct", "case", "mark", "cc"}


class _Graph:
    """Per-sentence dependency graph view over the edge list."""

    def __init__(self, words, lemmas, edges, offset, pos=None):
        self.words, self.lemmas, self.off = words, lemmas, offset
        self.pos = pos or [""] * len(words)
        self.children: dict[int, list[tuple[int, str]]] = {}
        self.parent: dict[int, tuple[int, str]] = {}
        self.root = None
        for h, d, r in edges:
            if h == -1:
                self.root = d
                continue
            self.children.setdefault(h, []).append((d, r))
            self.parent[d] = (h, r)

    def kids(self, t, rel_prefix=None):
        if rel_prefix is None:
            yield from self.children.get(t, ())
            return
        sub = rel_prefix + ":"
        for d, r in self.children.get(t, ()):
            if r == rel_prefix or r.startswith(sub):
                yield d, r

    def first(self, t, rel):
        sub = rel + ":"
        for d, r in self.children.get(t, ()):
            if r == rel or r.startswith(sub):
                return d
        return None

    def word(self, t):
        return self.words[t - self.off]

    def lemma(self, t):
        return self.lemmas[t - self.off]

    def np_tokens(self, head, drop_amod=False, stop=(), keep_amods=None):
        """Collect the noun phrase under ``head`` (dets/punct stripped).

        ``keep_amods``: when set, retain ONLY those amod children (the
        single-adjective entailment variants of coordinated modifiers,
        "44th and current President" ⊢ "44th President")."""
        out = [head]
        amods = [d for d, r in self.children.get(head, ()) if r == "amod"]
        kept_amods = 0
        for d, r in self.children.get(head, ()):
            if d in stop or r in _DET_LIKE or r.startswith("nmod") or r in ("conj", "ccomp", "acl", "cop", "nsubj", "expl", "obj", "aux", "aux:pass", "dep", "advmod"):
                continue
            if r == "amod":
                if drop_amod or (keep_amods is not None and d not in keep_amods):
                    continue
                kept_amods += 1
            if r in _NP_MODS:
                out.extend(self.np_tokens(d, drop_amod=drop_amod, stop=stop))
        # adjective coordination: keep the cc only when every coordinated
        # amod is retained ("44th AND current President"; dropped otherwise)
        if len(amods) >= 2 and kept_amods == len(amods):
            for d, r in self.children.get(head, ()):
                if r == "cc" and min(amods) < d < max(amods):
                    out.append(d)
        return sorted(out)

    def np_variants(self, head) -> list[list[int]]:
        """Entailment-licensed NP variants: full, amod-dropped, and each
        single-amod survivor of a coordinated modifier pair."""
        full = self.np_tokens(head)
        vs = [full]
        drop = self.np_tokens(head, drop_amod=True)
        if drop != full:
            vs.append(drop)
        amods = [d for d, r in self.children.get(head, ()) if r == "amod"]
        if len(amods) >= 2:
            for a in amods:
                one = self.np_tokens(head, keep_amods={a})
                if one not in vs:
                    vs.append(one)
        return vs

    def gloss(self, tokens):
        return " ".join(self.word(t) for t in sorted(tokens))

    def subtree(self, t: int) -> set[int]:
        out, stack = {t}, [t]
        while stack:
            x = stack.pop()
            for d, _ in self.children.get(x, ()):
                if d not in out:
                    out.add(d)
                    stack.append(d)
        return out

    def polarity(self, t: int) -> str:
        """Per-token natlog polarity ("up"/"down"/"flat"), computed lazily
        once per sentence (``NaturalLogicAnnotator.java:594`` setPolarity)."""
        if not hasattr(self, "_polarity"):
            self._polarity = compute_polarity(self)
        return self._polarity[t - self.off]


def compute_polarity(g: _Graph) -> list[str]:
    """Compose operator monotonicities into one polarity mark per token.

    Mirrors ``naturalli/NaturalLogicAnnotator.java:300-343,594``: each
    operator instance (quantifier det, negation advmod, "without", a
    downward clause governor) contributes a flip over its scope; a token's
    polarity is "down" iff an odd number of downward scopes cover it, and
    "flat" if any non-monotone scope does. Double negation therefore
    restores "up" with no special-casing — the "unless negated" escape of
    the old ancestor walk falls out of composition.
    """
    n = len(g.words)
    flips: list[tuple[set[int], str]] = []
    for t in range(g.off, g.off + n):
        w = g.words[t - g.off].lower()
        hr = g.parent.get(t)
        if w in _QUANT_OPS:
            # restrictor head: the det/amod parent noun, else the adjacent
            # following noun (guards against parser mis-attachment of
            # degree words like "most" — including when the quantifier
            # ends up parentless/root)
            head = None
            if hr is not None and hr[1] in ("det", "amod"):
                head = hr[0]
            elif (t + 1 < g.off + n
                  and g.pos[t + 1 - g.off].startswith("NN")):
                head = t + 1
            if head is None:
                continue
            rmono, smono = _QUANT_OPS[w]
            if rmono != "up":
                flips.append((g.subtree(head) - {t}, rmono))
            if smono != "up":
                vh = g.parent.get(head)
                if vh is not None and vh[1].startswith("nsubj"):
                    scope = g.subtree(vh[0]) - g.subtree(head)
                    flips.append((scope, smono))
            continue
        if w in _NEG_PRONOUNS:
            # "Nobody likes delays": flip the governing clause
            vh = g.parent.get(t)
            if vh is not None and vh[1].startswith("nsubj"):
                flips.append((g.subtree(vh[0]) - {t}, "down"))
            continue
        if hr is None:
            continue
        h, r = hr
        if r in ("advmod", "dep") and w in _NEG_ADVERBS:
            # negation scope is the clause material AFTER the operator
            # (the reference's scopes are token spans): the subject of
            # "John did not sleep" stays upward
            flips.append(({x for x in g.subtree(h) if x > t}, "down"))
        elif r == "case" and w == "without":
            flips.append(({x for x in g.subtree(h) if x > t}, "down"))
        elif r in ("ccomp", "xcomp", "acl", "advcl") and g.lemma(h) in _DOWNWARD_GOVERNORS:
            flips.append((g.subtree(t), "down"))
    pol = []
    for t in range(g.off, g.off + n):
        downs, flat = 0, False
        for scope, mono in flips:
            if t in scope:
                if mono == "flat":
                    flat = True
                else:
                    downs += 1
        pol.append("flat" if flat else ("down" if downs % 2 else "up"))
    return pol


def _polarity_blocked(g: _Graph, verb: int) -> bool:
    """True if ``verb`` sits in a non-upward context per the token's natlog
    polarity mark — extraction is only sound under upward monotonicity."""
    return g.polarity(verb) != "up"


def _pred_words(g: _Graph, verb: int, extra: list[int]) -> str:
    toks = [verb] + extra
    for d, r in g.children.get(verb, ()):
        if r in ("aux", "aux:pass"):
            toks.append(d)
    return g.gloss(toks)


def _negated(g: _Graph, t: int) -> bool:
    return any(
        g.word(d).lower() in ("not", "n't", "never", "no")
        for d, r in g.children.get(t, ())
        if r in ("advmod", "det", "dep")
    )


def extract_sentence(g: _Graph) -> list[tuple[str, str, str, float, int, int]]:
    """All (subj, pred, obj, conf, subj_head, obj_head) triples of one sentence.

    Emission policy (matches OpenIEITest golden sets):
      object NP variants = {full det-stripped NP, amod-dropped NP,
      nmod-extended NP ("loan from Peterborough United")}; copula predicates
      get {full, amod-dropped} variants both bare and case-collapsed
      ("is 44th President of" / "is President of").
    """
    out: list[tuple[str, str, str, float, int, int]] = []

    def obj_variants(head: int) -> list[tuple[list[int], float]]:
        full = g.np_tokens(head)
        vs = [(np, 1.0) for np in g.np_variants(head)]
        for d, r in g.kids(head):
            if r.startswith("nmod:") and r != "nmod:poss":
                case_tok = g.first(d, "case")
                ext = sorted(set(full) | set(g.np_tokens(d)) | ({case_tok} if case_tok is not None else set()))
                vs.append((ext, 1.0))
            elif r == "appos":
                # "Honolulu, Hawaii" → the appositive is an alternate object
                vs.append((g.np_tokens(d), 1.0))
        return vs

    def emit(s_head: int, pred: str, o_head: int, conf: float, variants=True):
        s_full = g.np_tokens(s_head)
        s_drop = g.np_tokens(s_head, drop_amod=True)
        # subject variants: forward-entailment amod deletion (upward polarity)
        s_glosses = [(g.gloss(s_full), 1.0)]
        if s_drop != s_full:
            s_glosses.append((g.gloss(s_drop), 0.5))
        if variants:
            for s_gloss, smul in s_glosses:
                for toks, cmul in obj_variants(o_head):
                    out.append((s_gloss, pred, g.gloss(toks), conf * cmul * smul, s_head, o_head))
        else:
            out.append((s_glosses[0][0], pred, g.gloss(g.np_tokens(o_head)), conf, s_head, o_head))

    # subject map + enhanced++ conj subject propagation
    subj_of: dict[int, int] = {}
    for h in g.children:
        for d, r in g.children[h]:
            if r in ("nsubj", "nsubj:pass"):
                subj_of[h] = d
    for h in list(g.children):
        for d, r in g.children[h]:
            if r == "conj" and h in subj_of and d not in subj_of:
                subj_of[d] = subj_of[h]
    # backward propagation: a fronted PARTICIPLE clause has no subject of its
    # own ("Born in Honolulu, Obama is a graduate…") — borrow it from the
    # conjoined clause that does (OpenIE clause-splitter clone_nsubj action).
    # Gated on VBN/VBG so imperatives never steal a subject.
    for h in list(g.children):
        for d, r in g.children[h]:
            if r == "conj" and d in subj_of and h not in subj_of \
                    and g.pos[h - g.off] in ("VBN", "VBG"):
                subj_of[h] = subj_of[d]
    # advcl clone_nsubj (ClauseSplitterSearchProblem.java:56-100): a
    # subjectless adverbial clause inherits the matrix subject, in both
    # directions — "He worked in Chicago before EARNING his degree" and the
    # fronted participle "BORN in Hamburg, she moved to Berlin" are advcl
    # children of the subject-bearing matrix verb
    for h in list(g.children):
        for d, r in g.children[h]:
            if r == "advcl" and d not in subj_of \
                    and g.pos[d - g.off].startswith("VB"):
                if h in subj_of:
                    subj_of[d] = subj_of[h]
    # xsubj: controlled infinitives get an external subject
    # (UniversalEnglishGrammaticalStructure.addExtraNSubj :1377-1440 —
    # nsubj:xsubj): the matrix OBJECT controls when present ("He asked
    # Mary to leave" ⊢ Mary leaves), else the matrix subject ("Obama
    # wants to visit Paris" ⊢ Obama visits). Gated on the infinitival
    # 'to' mark exactly as the reference gates on aux/TO.
    for h in list(g.children):
        for d, r in g.children[h]:
            if r == "xcomp" and d not in subj_of \
                    and g.pos[d - g.off].startswith("VB") \
                    and any(rr == "mark" and g.word(dd).lower() == "to"
                            for dd, rr in g.kids(d)):
                o = g.first(h, "obj")
                src = o if o is not None else subj_of.get(h)
                if src is not None:
                    subj_of[d] = src

    # existential pattern: root with expl + nmod → (root-NP; is <case>; nmod-NP)
    for h in list(g.children):
        if g.first(h, "expl") is not None and not _negated(g, h):
            for d, r in g.kids(h):
                if r.startswith("nmod:") and r != "nmod:poss":
                    case = r.split(":", 1)[1]
                    emit(h, f"is {case}", d, 1.0)

    # conjoined-subject distribution: "Tom and Jerry have tails" ⊢ one triple
    # per conjunct (enhanced++ conj propagation on the subject side)
    expanded: list[tuple[int, int]] = []
    for v, s in subj_of.items():
        expanded.append((v, s))
        for d, r in g.kids(s):
            if r == "conj":
                expanded.append((v, d))

    def resolve_ref(s: int) -> int:
        """Enhanced++ ``ref`` rewrite (UniversalEnglishGrammaticalStructure
        relative-pronoun coindexing): a who/which/whom subject resolves to
        the nearest preceding nominal head across commas/brackets —
        "Obama, who was born in Hawaii" ⊢ subject Obama, not who."""
        if g.word(s).lower() not in ("who", "which", "whom"):
            return s
        t = s - 1
        while t >= g.off:
            p = g.pos[t - g.off]
            if p.startswith("NN") or p == "PRP":
                return t
            if g.word(t) not in (",", "(", "-LRB-"):
                break
            t -= 1
        return s

    for v, s in expanded:
        s = resolve_ref(s)
        if _polarity_blocked(g, v) or _negated(g, v):
            continue
        if g.first(v, "expl") is not None:
            continue  # existential handled above
        cop = g.first(v, "cop")
        if cop is not None:
            cop_w = g.word(cop)
            pred_vars = g.np_variants(v)
            s_gloss = g.gloss(g.np_tokens(s))
            for pv in pred_vars:
                out.append((s_gloss, cop_w if cop_w in ("is", "are") else cop_w,
                            g.gloss(pv), 1.0, s, v))
            for d, r in g.kids(v):
                if r.startswith("nmod:") and r != "nmod:poss":
                    case = r.split(":", 1)[1]
                    for pv in pred_vars:
                        out.append(
                            (s_gloss, f"{cop_w} {g.gloss(pv)} {case}",
                             g.gloss(g.np_tokens(d)), 1.0, s, d)
                        )
            continue
        # plain verb patterns
        o = g.first(v, "obj")
        if o is None:
            # clone_obj (ClauseSplitterSearchProblem.java:56-100 action):
            # "Obama visited and praised Paris" — a conjoined verb with
            # nothing but the conjunction between it and its partner shares
            # the partner's object. The adjacency gate keeps "worked as X
            # and taught law" from borrowing across intervening arguments.
            partner = None
            if v in g.parent and g.parent[v][1] == "conj":
                partner = g.parent[v][0]
            else:
                partner = g.first(v, "conj")
            if partner is not None and g.pos[partner - g.off].startswith("V"):
                lo_t, hi_t = min(v, partner), max(v, partner)
                if all(g.pos[t - g.off] in ("CC", "RB", ",")
                       for t in range(lo_t + 1, hi_t)):
                    o = g.first(partner, "obj")
        pred = _pred_words(g, v, [])
        # manner-adverb variant: "-ly" advmods stay in the relation gloss
        # ("running unsuccessfully for") alongside the entailed bare form
        # ("running for") — ForwardEntailer advmod deletion in reverse
        manner = [d for d, r in g.kids(v)
                  if r == "advmod" and g.word(d).lower().endswith("ly")
                  and g.word(d).lower() not in _NEG_DETS]
        pred_forms = [pred]
        if manner:
            pred_forms.append(_pred_words(g, v, manner))
        if o is not None:
            emit(s, pred, o, 1.0)
            # relation glosses with the object folded in carry the object's
            # entailment variants too ("taught law at" / "taught
            # constitutional law at", OpenIEITest.java:186-199)
            for d, r in g.kids(v):
                if r.startswith("nmod:") and r != "nmod:poss":
                    case = r.split(":", 1)[1]
                    for onp in g.np_variants(o):
                        emit(s, f"{pred} {g.gloss(onp)} {case}", d, 1.0)
        for d, r in g.kids(v):
            if r.startswith("nmod:") and r != "nmod:poss":
                case = r.split(":", 1)[1]
                for pf in pred_forms:
                    emit(s, f"{pf} {case}", d, 1.0)
        if o is None:
            x = g.first(v, "xcomp")
            if x is not None:
                emit(s, pred, x, 0.8)

    # noun pattern (RelationTripleSegmenter): root noun with a case-marked
    # modifier → (noun; is <case>; modifier), e.g. "He was a community
    # organizer in Chicago" ⊢ (community organizer; is in; Chicago).
    # Root-only keeps strict-mode precision (no spurious NP-internal triples).
    for h in list(g.children):
        if h != g.root:
            continue
        for d, r in g.kids(h):
            if r.startswith("nmod:") and r.split(":", 1)[1] not in ("of", "poss"):
                case = r.split(":", 1)[1]
                np = g.np_tokens(h)
                if np and not _negated(g, h) and g.first(h, "cop") is not None:
                    out.append((g.gloss(np), f"is {case}",
                                g.gloss(g.np_tokens(d)), 1.0, h, d))

    # noun pattern (RelationTripleSegmenter NOUN_DEPENDENCY_PATTERNS,
    # `{tag:/N.*/} >/(nmod|obl):(in|with)/ {}`): ANY noun with an in/with
    # modifier → (noun; is in/with; modifier) — "the 13th District in the
    # Illinois Senate" ⊢ (13th District; is in; Illinois Senate)
    def _noun_locative(h: int, d: int, case: str):
        if g.pos[d - g.off] == "CD":
            return  # temporal complements ("in 2000") belong to the verb
        out.append((g.gloss(g.np_tokens(h)), f"is {case}",
                    g.gloss(g.np_tokens(d)), 1.0, h, d))

    for h in list(g.children):
        if not g.pos[h - g.off].startswith("N"):
            continue
        for d, r in g.kids(h):
            if r in ("nmod:in", "nmod:with"):
                _noun_locative(h, d, r.split(":", 1)[1])
    # the same pattern when the PP attached high (verb) but sits linearly
    # adjacent to the object NP — PP-attachment ambiguity the reference's
    # trained parser resolves low in these cases
    for v2 in list(g.children):
        o2 = g.first(v2, "obj")
        if o2 is None or not g.pos[v2 - g.off].startswith("V"):
            continue
        for d, r in g.kids(v2):
            if r in ("nmod:in", "nmod:with"):
                case_tok = g.first(d, "case")
                if case_tok is not None and case_tok == max(g.np_tokens(o2)) + 1:
                    _noun_locative(o2, d, r.split(":", 1)[1])

    # noun pattern (RelationTripleSegmenter): possessive → (possessor; has; rest)
    for h in list(g.children):
        for d, r in g.children[h]:
            if r == "nmod:poss" and g.lemma(d).lower() not in ("his", "her", "its", "their", "my"):
                rest = sorted(set(g.np_tokens(h)) - set(g.np_tokens(d)) - {
                    k for k, rr in g.kids(d)
                })
                rest = [t for t in rest if g.parent.get(t, (None, ""))[1] != "case"]
                if rest:
                    out.append((g.gloss(g.np_tokens(d)), "has", g.gloss(rest), 1.0, d, h))
    return out


def openie_docs(df: DataFrame) -> DataFrame:
    """docs(+tokens,+deps) → triples table (exploded)."""
    from corenlp_spark.plans.fused import triples_frame, triples_phase

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield triples_frame(pdf["doc_id"], [
                triples_phase(toks, sents, deps) for toks, sents, deps in
                zip(pdf["tokens"], pdf["sentences"], pdf["deps"])])

    return df.mapInPandas(run, schema=TRIPLES_SCHEMA)


POLARITY_SCHEMA = "doc_id string, sent_idx int, tok_idx int, word string, polarity string"


def natlog_docs(df: DataFrame) -> DataFrame:
    """docs → one row per token with its natlog polarity mark.

    The tokens-field analog of the reference's per-token Polarity
    annotation (``naturalli/NaturalLogicAnnotator.java:594``): downstream
    consumers (extraction gating, monotonicity-aware rewriting) read the
    mark instead of re-walking the tree. Narrow per-doc transform — output
    inherits the docs partitioning, no shuffle.
    """
    from corenlp_spark.plans.fused import _annotate_one

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "sent_idx", "tok_idx", "word", "polarity")}
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                tokens, sentences, deps, _ = _annotate_one(spans)
                by_sent: dict[int, list] = {}
                for e in deps:
                    by_sent.setdefault(e["sent_idx"], []).append(
                        (e["head"], e["dep"], e["rel"]))
                for s in sentences:
                    a, b = s["start_tok"], s["end_tok"]
                    seg = tokens[a:b]
                    g = _Graph([t["word"] for t in seg],
                               [t["lemma"] for t in seg],
                               by_sent.get(s["sent_idx"], []), a,
                               [t["pos"] for t in seg])
                    pol = compute_polarity(g)
                    for i, (t, p) in enumerate(zip(seg, pol)):
                        rows["doc_id"].append(doc_id)
                        rows["sent_idx"].append(s["sent_idx"])
                        rows["tok_idx"].append(a + i)
                        rows["word"].append(t["word"])
                        rows["polarity"].append(p)
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=POLARITY_SCHEMA)
