"""Within-document coreference: deterministic multi-sieve cluster merging.

Behavioral reference (re-expressed):
  - sieve order ``dcoref/Constants.java:56`` (subset implemented:
    ExactStringMatch, RelaxedStringMatch, PreciseConstructs-acronym,
    StrictHeadMatch, PronounMatch), engine
    ``dcoref/SieveCoreferenceSystem.java:81-190``, agreement rules
    ``dcoref/Rules.java:123-316`` (number/gender/animacy subset via a small
    pronoun-agreement table), mention detection
    ``dcoref/RuleBasedCorefMentionFinder.java:79-193`` — realized here from
    NER mention runs + pronoun tokens + NP chunks over the already-parsed
    token arrays (dependency-based path, ``coref/CorefProperties.java:88-95``).

Coref is doc-local, and in this engine each row *is* a document, so the stage
is a narrow ``mapInPandas`` — no ``groupBy(doc_id)`` shuffle is needed at any
scale (the reference needs within-JVM doc locality; we get it by data layout).

Output column:
  coref: array<struct<cluster_id:int, sent_idx:int, start_tok:int,
                      end_tok:int, text:string, head:int, kind:string,
                      representative:boolean>>
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from corenlp_spark.data import dictionaries as _dict

COREF_TYPE = (
    "array<struct<cluster_id:int,sent_idx:int,start_tok:int,end_tok:int,"
    "text:string,head:int,kind:string,representative:boolean>>"
)

# pronoun agreement table (Dictionaries.java gender/animacy/number subset)
_PRONOUN_AGREE = {
    # "O" = common-noun (nominal) antecedents, gated by the animacy
    # dictionary in the pronoun sieve ("the teacher … she" / "the report …
    # it" — dcoref/Dictionaries.java animacy lists)
    "he": ("PERSON|O", "sing"), "him": ("PERSON|O", "sing"),
    "his": ("PERSON|O", "sing"),
    "she": ("PERSON|O", "sing"), "her": ("PERSON|O", "sing"),
    "it": ("ORGANIZATION|LOCATION|O", "sing"),
    "its": ("ORGANIZATION|LOCATION|O", "sing"),
    "they": ("PERSON|ORGANIZATION|O", "plur"),
    "them": ("PERSON|ORGANIZATION|O", "plur"),
    "their": ("PERSON|ORGANIZATION|O", "plur"),
    # reflexives bind within their own sentence (dcoref Rules reflexive
    # handling; the sieve adds a same-sentence constraint for these)
    "himself": ("PERSON|O", "sing"), "herself": ("PERSON|O", "sing"),
    "itself": ("ORGANIZATION|LOCATION|O", "sing"),
    "themselves": ("PERSON|ORGANIZATION|O", "plur"),
    # first person: resolved by the DiscourseMatch/speaker sieve inside
    # quotes (dcoref SpeakerMatch semantics), never by distance
    "i": ("PERSON", "sing"), "me": ("PERSON", "sing"), "my": ("PERSON", "sing"),
}
_FIRST_PERSON = {"i", "me", "my"}
_SPEECH_LEMMAS = {"say", "think", "reply", "ask", "shout", "whisper", "add",
                  "note", "claim", "tell"}
_STOP_DETS = {"the", "a", "an", "this", "that", "these", "those"}


def _acronym_of(short: str, long_words: list[str]) -> bool:
    caps = [w[0].upper() for w in long_words if w[:1].isalpha() and w[0].isupper()]
    return len(short) > 1 and short.isupper() and "".join(caps) == short


class Mention:
    __slots__ = ("sent", "start", "end", "text", "head_idx", "head_word",
                 "kind", "ner", "cluster")

    def __init__(self, sent, start, end, text, head_idx, head_word, kind, ner):
        self.sent, self.start, self.end = sent, start, end
        self.text, self.head_idx, self.head_word = text, head_idx, head_word
        self.kind, self.ner = kind, ner
        self.cluster = -1


def detect_mentions(tokens: list[dict], sentences: list[dict]) -> list[Mention]:
    mentions: list[Mention] = []
    for s in sentences:
        a, b = s["start_tok"], s["end_tok"]
        i = a
        while i < b:
            t = tokens[i]
            if t["ner"] not in ("O", "") and t["ner"] not in ("NUMBER", "ORDINAL", "MONEY", "TIME", "DATE", "PERCENT"):
                j = i
                while j < b and tokens[j]["ner"] == t["ner"]:
                    j += 1
                text = " ".join(tokens[k]["word"] for k in range(i, j))
                mentions.append(Mention(s["sent_idx"], i, j, text, j - 1,
                                        tokens[j - 1]["word"], "entity", t["ner"]))
                i = j
                continue
            if t["pos"] in ("PRP", "PRP$") and t["word"].lower() in _PRONOUN_AGREE:
                # possessive pronouns are mentions too (dcoref
                # MentionExtractor includes PRP$: "His successor" → His)
                mentions.append(Mention(s["sent_idx"], i, i + 1, t["word"], i,
                                        t["word"], "pronoun", "O"))
                i += 1
                continue
            # nominal NP: DT/JJ/NN run ending in common noun
            if t["pos"] in ("DT", "JJ", "NN", "NNS") :
                j = i
                has_noun = False
                while j < b and tokens[j]["pos"] in ("DT", "JJ", "NN", "NNS") and tokens[j]["ner"] in ("O", ""):
                    has_noun = has_noun or tokens[j]["pos"].startswith("NN")
                    j += 1
                if has_noun and tokens[j - 1]["pos"].startswith("NN"):
                    text = " ".join(tokens[k]["word"] for k in range(i, j))
                    mentions.append(Mention(s["sent_idx"], i, j, text, j - 1,
                                            tokens[j - 1]["word"], "nominal", "O"))
                    i = j
                    continue
            i += 1
    # coordination NPs: adjacent entity mentions joined by "and" form a
    # plural mention spanning both conjuncts (dcoref's MentionExtractor
    # emits coordination NPs; "John Smith and Mary Smith … They")
    by_sent_pos = {(m.sent, m.start): m for m in mentions}
    coords = []
    for m in mentions:
        if m.kind != "entity":
            continue
        # token at m.end must be "and", next mention starts at m.end+1
        nxt = by_sent_pos.get((m.sent, m.end + 1))
        if nxt is None or nxt.kind != "entity":
            continue
        if tokens[m.end]["word"].lower() != "and":
            continue
        text = " ".join(tokens[k]["word"] for k in range(m.start, nxt.end))
        coords.append(Mention(m.sent, m.start, nxt.end, text,
                              nxt.head_idx, nxt.head_word, "coordination",
                              m.ner if m.ner == nxt.ner else "MISC"))
    mentions.extend(coords)
    mentions.sort(key=lambda m: (m.sent, m.start, -(m.end)))
    return mentions


def _genders_agree(mi, mj) -> bool:
    """Rules.entityAttributesAgree gender component: a MALE/FEMALE conflict
    blocks a merge ("John Smith" never head-matches "Mary Smith");
    UNKNOWN is compatible with anything."""
    gi = _dict.gender_of(mi.text, mi.head_word)
    gj = _dict.gender_of(mj.text, mj.head_word)
    return "UNKNOWN" in (gi, gj) or gi == gj


def _strip_det(text: str) -> str:
    ws = text.lower().split()
    while ws and ws[0] in _STOP_DETS:
        ws = ws[1:]
    return " ".join(ws)


# gender/animacy blocking from the real dictionaries
# (dcoref/Dictionaries.java tables; Rules.java agreement checks): "he"
# never takes a FEMALE antecedent, "she" never MALE, "it" never animate
_MALE_PRON = {"he", "him", "his", "himself"}
_FEMALE_PRON = {"she", "her", "herself"}
_INANIMATE_PRON = {"it", "its", "itself"}
_PLUR_INVARIANT = {"people", "children", "men", "women", "police"}


def _plural_nominal(mj) -> bool:
    hw = mj.head_word.lower()
    return mj.kind == "nominal" and (
        hw in _PLUR_INVARIANT
        or (hw.endswith("s") and not hw.endswith("ss")))


def pronoun_compatible(p: str, mj) -> bool:
    """Hard agreement gate for pronoun ``p`` against candidate mention
    ``mj`` (Rules.entityAttributesAgree number/gender/animacy subset) —
    shared by the rule sieve, the ranker's candidate generator, and
    training (identical distributions by construction)."""
    allowed, num = _PRONOUN_AGREE[p]
    if mj.ner not in set(allowed.split("|")):
        return False
    # number agreement: plural pronouns need plural nominals or ORG
    # entities; singular pronouns reject plural nominals
    if num == "plur":
        if mj.kind == "coordination":
            return True  # conjoined NP is inherently plural
        if mj.kind == "entity" and mj.ner == "PERSON":
            return False
        if mj.kind == "nominal" and not _plural_nominal(mj):
            return False
    elif _plural_nominal(mj):
        return False
    animate = _dict.is_animate(mj.ner, mj.head_word)
    if mj.ner in ("O", ""):
        # nominal antecedents need the animacy dictionary's consent:
        # he/she want animate heads, it wants inanimate ones
        if p in _INANIMATE_PRON:
            if animate:
                return False
        elif not animate:
            return False
    g = _dict.gender_of(mj.text, mj.head_word)
    if p in _MALE_PRON and g == "FEMALE":
        return False
    if p in _FEMALE_PRON and g == "MALE":
        return False
    if p in _INANIMATE_PRON and animate:
        return False
    return True


def pronoun_candidates(mentions: list, i: int) -> list[int]:
    """Ordered candidate antecedents for pronoun mention i (dcoref order:
    same sentence nearest-first, previous ≤2 sentences left-to-right),
    agreement-gated. Shared by inference and ranker training."""
    mi = mentions[i]
    p = mi.text.lower()
    same = [j for j in range(i - 1, -1, -1) if mentions[j].sent == mi.sent]
    by_dist: dict[int, list[int]] = {}
    for j in range(i - 1, -1, -1):
        d = mi.sent - mentions[j].sent
        if d <= 0:
            continue
        if d > 2:
            break
        by_dist.setdefault(d, []).append(j)
    ordered = same + [j for d in sorted(by_dist) for j in sorted(by_dist[d])]
    return [j for j in ordered
            if mentions[j].kind != "pronoun"
            and pronoun_compatible(p, mentions[j])]


# anaphoric-definite-NP hypernym table: "the company" ← an ORGANIZATION
# entity. The deterministic sieves cannot rank these (no string overlap);
# the statistical ranker resolves them (StatisticalCorefAlgorithm scope)
_HYPERNYM_NER = {
    "company": "ORGANIZATION", "firm": "ORGANIZATION",
    "corporation": "ORGANIZATION", "startup": "ORGANIZATION",
    "conglomerate": "ORGANIZATION",
    "city": "LOCATION", "town": "LOCATION", "village": "LOCATION",
    "capital": "LOCATION", "metropolis": "LOCATION", "island": "LOCATION",
}


def defnp_candidates(mentions: list, i: int) -> list[int]:
    """Candidates for an anaphoric definite NP ("the company"): prior
    entity mentions within 2 sentences whose NER class matches the head
    word's hypernym type, nearest-first."""
    mi = mentions[i]
    want = _HYPERNYM_NER.get(mi.head_word.lower())
    if (want is None or mi.kind != "nominal"
            or not mi.text.lower().startswith("the ")):
        return []
    out = []
    for j in range(i - 1, -1, -1):
        mj = mentions[j]
        d = mi.sent - mj.sent
        if d < 1:
            # same-sentence co-arguments are disjoint-reference ("Google
            # acquired the startup" introduces a NEW entity) — anaphoric
            # definite NPs resolve across sentences only
            continue
        if d > 2:
            break
        if mj.kind == "entity" and mj.ner == want:
            out.append(j)
    return out


_RANKER = None
_RANKER_LOADED = False


def _get_ranker():
    """Lazy once-per-process load of the trained mention ranker (None when
    the weights artifact is absent — the rule cascade then stands alone)."""
    global _RANKER, _RANKER_LOADED
    if not _RANKER_LOADED:
        _RANKER_LOADED = True
        try:
            from corenlp_spark.models.coref_ranker import (
                CorefRanker, ranker_weights,
            )
            blob = ranker_weights()
            if blob is not None:
                _RANKER = CorefRanker.from_broadcastable(blob)
        except Exception:
            _RANKER = None
    return _RANKER


def run_sieves(mentions: list[Mention], tokens: list[dict] | None = None) -> None:
    """Assign cluster ids in place — sieve cascade in Constants.java:56 order.

    Implemented sieves (of the reference's 11): ExactStringMatch,
    RelaxedExactStringMatch, PreciseConstructs (acronym + appositive +
    predicate nominative, Rules.java:123-175), StrictHeadMatch1 (head +
    NER), StrictHeadMatch2-4 (head + word inclusion, Rules.java:216-248),
    RelaxedHeadMatch (head word contained in antecedent span), PronounMatch.
    ``tokens`` enables the construct sieves (appositive/pred-nominative need
    the between-mention words)."""
    n = len(mentions)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    def antecedents(i, window: int = 200):
        """Candidate antecedents for mention i: prior mentions, nearest
        first, capped at ``window`` (bounds the per-doc sieve cost to
        O(n·window) — pathological mega-docs at 100 TB stay linear; 200
        mentions ≫ any realistic coreference distance)."""
        return range(i - 1, max(i - 1 - window, -1), -1)

    # Sieve 1-2: exact / relaxed (determiner-stripped) string match, non-pronoun
    # (lowered/stripped forms precomputed once per mention — they were being
    # recomputed per PAIR inside the O(n·window) scan; same pure values)
    _low = [m.text.lower() for m in mentions]
    _stripped = [_strip_det(m.text) for m in mentions]
    _swords = [set(x.split()) for x in _stripped]
    _hlow = [m.head_word.lower() for m in mentions]
    _gender = [_dict.gender_of(m.text, m.head_word) for m in mentions]

    def _gagree(i, j):
        return "UNKNOWN" in (_gender[i], _gender[j]) or _gender[i] == _gender[j]
    for i in range(n):
        if mentions[i].kind in ("pronoun", "coordination"):
            continue
        for j in antecedents(i):
            if mentions[j].kind in ("pronoun", "coordination"):
                continue
            if _low[i] == _low[j] or _stripped[i] == _stripped[j]:
                union(i, j)
                break
    # Sieve 3: precise constructs — acronym (KBPAnnotator.java:167-216 analog)
    for i in range(n):
        mi = mentions[i]
        if mi.kind != "entity":
            continue
        for j in antecedents(i):
            mj = mentions[j]
            if mj.kind != "entity" or mi.ner != mj.ner:
                continue
            if _acronym_of(mi.text, mj.text.split()) or _acronym_of(mj.text, mi.text.split()):
                union(i, j)
                break
    # Sieve 3b: precise constructs — appositive + predicate nominative
    # (Rules.java:123-175 entityIsApposition / entityIsPredicateNominatives)
    if tokens is not None:
        for i in range(n):
            mi = mentions[i]
            if mi.kind in ("pronoun", "coordination"):
                continue
            for j in antecedents(i, 10):
                mj = mentions[j]
                if mj.kind in ("pronoun", "coordination") or mj.sent != mi.sent or mj.end > mi.start:
                    continue
                between = [tokens[k]["word"].lower()
                           for k in range(mj.end, mi.start)]
                # appositive: "<entity> , <nominal>" ("Barack Obama, the
                # president, …") — kinds must differ so list constructions
                # ("France, Germany and Italy") never merge
                if between == [","] and {mi.kind, mj.kind} == {"entity", "nominal"}:
                    # attribute agreement (Rules.java entityIsApposition →
                    # attributesAgree): the nominal's animacy must match the
                    # entity type, else "After his trial, Marco Ruiz …"
                    # merges a trial with a person
                    ent, nom = (mi, mj) if mi.kind == "entity" else (mj, mi)
                    if _dict.is_animate(nom.ner, nom.head_word) == (ent.ner == "PERSON"):
                        union(i, j)
                        break
                    continue
                # role appositive (Rules.java entityIsRoleAppositive +
                # dcoref MarkRole): an ANIMATE role nominal directly before
                # a PERSON entity ("president Obama", "CEO Jane Smith")
                if not between and mj.kind == "nominal" \
                        and mi.kind == "entity" and mi.ner == "PERSON" \
                        and _dict.is_animate(mj.ner, mj.head_word):
                    union(i, j)
                    break
                # role appositive across an of-PP: "The president of
                # Meridian Institute, Hugo Ellison," — the role NP's PP
                # complement (dcoref's role NPs include modifiers; the PP
                # interior must be one capitalized complement, then comma)
                if (len(between) >= 3 and between[0] == "of"
                        and between[-1] == ","
                        and mj.kind == "nominal" and mi.kind == "entity"
                        and mi.ner == "PERSON"
                        and _dict.is_animate(mj.ner, mj.head_word)
                        and all(w[:1].isupper() or w in ("the", "of")
                                for w in (tokens[k]["word"]
                                          for k in range(mj.end + 1,
                                                         mi.start - 1)))):
                    union(i, j)
                    break
                # predicate nominative: "<NP> is <NP>" (copula only between)
                if between in (["is"], ["was"], ["are"], ["were"]) \
                        and mi.kind == "nominal":
                    union(i, j)
                    break
    # Sieve 3c: demonym (Rules.java entityIsDemonym over
    # Dictionaries.demonyms): "French" ↔ "France"
    for i in range(n):
        mi = mentions[i]
        if mi.kind in ("pronoun", "coordination"):
            continue
        for j in antecedents(i):
            mj = mentions[j]
            if mj.kind in ("pronoun", "coordination"):
                continue
            if _dict.demonym_match(_stripped[i], _stripped[j]):
                union(i, j)
                break
    # Sieve 4: strict head match 1 (same head word, same NER class)
    for i in range(n):
        mi = mentions[i]
        if mi.kind in ("pronoun", "coordination"):
            continue
        for j in antecedents(i):
            mj = mentions[j]
            if mj.kind in ("pronoun", "coordination"):
                continue
            if _hlow[i] == _hlow[j] and mi.ner == mj.ner \
                    and _gagree(i, j):
                union(i, j)
                break
    # Sieve 4b: strict head match 2-4 — same head + word inclusion (the
    # shorter mention's determiner-stripped words all appear in the longer,
    # Rules.java:216-248 entityWordsIncluded)
    for i in range(n):
        mi = mentions[i]
        if mi.kind in ("pronoun", "coordination"):
            continue
        wi = _swords[i]
        for j in antecedents(i):
            mj = mentions[j]
            if mj.kind in ("pronoun", "coordination"):
                continue
            if _hlow[i] != _hlow[j]:
                continue
            wj = _swords[j]
            if wi and wj and (wi <= wj or wj <= wi) \
                    and _gagree(i, j):
                union(i, j)
                break
    # Sieve 4c: relaxed head match — the mention's head word appears inside
    # the antecedent span, same NER ("Obama" ← "Barack Hussein Obama II",
    # Rules.java:286-316 relaxed-head discipline)
    for i in range(n):
        mi = mentions[i]
        if mi.kind != "entity":
            continue
        hw = mi.head_word.lower()
        for j in antecedents(i):
            mj = mentions[j]
            if mj.kind != "entity" or mi.ner != mj.ner or mj.end - mj.start < 2:
                continue
            if hw in _swords[j] and _gagree(i, j):
                union(i, j)
                break
    # Sieve 4d: DiscourseMatch/SpeakerMatch (dcoref discourse processing):
    # a first-person pronoun INSIDE a quote corefs with the quote's
    # attributed speaker (nearest PERSON at the quote edge + speech verb)
    if tokens is not None:
        q_spans, q_stack = [], []
        for idx, t in enumerate(tokens):
            w = t["word"]
            if w == "``":
                q_stack.append(idx)
            elif w == "''" and q_stack:
                q_spans.append((q_stack.pop(), idx))
        for qs, qe in q_spans:
            window = list(range(max(0, qs - 6), qs)) + \
                list(range(qe + 1, min(len(tokens), qe + 7)))
            if not any(tokens[k].get("lemma") in _SPEECH_LEMMAS
                       or tokens[k]["word"].lower() in _SPEECH_LEMMAS
                       for k in window):
                continue
            speaker_j = None
            for j, mj in enumerate(mentions):
                if mj.kind == "entity" and mj.ner == "PERSON" \
                        and (mj.end <= qs or mj.start > qe) \
                        and any(mj.start <= k < mj.end for k in window):
                    speaker_j = j
                    break
            if speaker_j is None:
                continue
            for i, mi in enumerate(mentions):
                if mi.kind == "pronoun" and mi.text.lower() in _FIRST_PERSON \
                        and qs < mi.start < qe:
                    union(i, speaker_j)
    # Sieve 5: pronoun match (agreement-gated; nearest compatible antecedent
    # within 2 sentences, or the TRAINED ranker's argmax when weights are
    # shipped); first person is the speaker sieve's job ONLY.
    # Sieve 4e (statistical ranker, anaphoric definite NPs): "the company"
    # ← ORG entity — no string overlap exists for the deterministic sieves,
    # so the trained ranker (StatisticalCorefAlgorithm.java:35 re-expressed)
    # scores hypernym-typed candidates incl. the no-antecedent option
    ranker = _get_ranker()
    if ranker is not None:
        for i in range(n):
            if find(i) != i:
                continue  # already resolved by an earlier sieve
            cands = defnp_candidates(mentions, i)
            if cands:
                hit = ranker.choose(mentions, i, cands)
                if hit is not None:
                    union(i, hit)
    for i in range(n):
        mi = mentions[i]
        if mi.kind != "pronoun" or mi.text.lower() in _FIRST_PERSON:
            continue
        p = mi.text.lower()
        same = [j for j in range(i - 1, -1, -1)
                if mentions[j].sent == mi.sent]
        if p.endswith("self") or p.endswith("selves"):
            # reflexive binding: same-sentence antecedents only
            hit = None
            for j in same:
                mj = mentions[j]
                if mj.kind != "pronoun" and pronoun_compatible(p, mj):
                    hit = j
                    break
            if hit is not None:
                union(i, hit)
            continue
        cands = pronoun_candidates(mentions, i)
        if not cands:
            continue
        if ranker is not None:
            # trained selection (incl. the no-antecedent option): subject
            # salience, recency, binding clashes are learned, not coded
            hit = ranker.choose(mentions, i, cands)
        else:
            # untrained fallback: typed entity mentions outrank bare
            # nominals at equal reach, then nearest-first (the pre-r5 rule)
            hit = next((j for j in cands
                        if mentions[j].ner not in ("O", "")), cands[0])
        if hit is not None:
            union(i, hit)

    clusters: dict[int, int] = {}
    for i in range(n):
        r = find(i)
        clusters.setdefault(r, len(clusters))
        mentions[i].cluster = clusters[r]


def coref_docs(df: DataFrame) -> DataFrame:
    """DataFrame transform: + coref chains column (doc-local, narrow)."""
    from corenlp_spark.plans.fused import coref_phase, docs_of, map_docs

    return map_docs(df, {"coref": COREF_TYPE},
                    lambda pdf: {"coref": coref_phase(docs_of(pdf))})
