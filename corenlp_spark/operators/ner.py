"""NER stage: trained sequence model + gazetteer priority overwrite + numeric
and temporal normalization, fused into one Arrow-batched narrow transform.

Behavioral reference (re-expressed):
  - linear-chain CRF w/ Viterbi decode: ``ie/crf/CRFClassifier.java:1146-1195``
    (inferenceType=Viterbi); features ``ie/NERFeatureFactory.java:98-175``
    (word, shape, prev/next context, affixes, cue classes). Here: a TRAINED
    structured perceptron (models/perceptron.StructuredPerceptronNER) with
    the same feature frame and exact Viterbi decode — weights trained
    deterministically by scripts/train_models.py, committed, lazily loaded
    once per executor process.
  - gazetteer layer DEMOTED to the priority-overwrite pass the reference
    keeps it in (``pipeline/TokensRegexNERAnnotator.java:21-130``): exact
    phrase matches overwrite the model's labels AFTER decode (longest match,
    trigger-indexed), exactly like regexner over CRF output.
  - numeric entities + normalization: ``ie/regexp/NumberSequenceClassifier.java``
    and ``ie/QuantifiableEntityNormalizer.java:42-75`` (NUMBER/ORDINAL/
    MONEY/DATE/TIME with normalized values; dates ISO-8601 like 2013-02-21,
    cf. SUTime Timex values consumed at ``pipeline/WikidictAnnotator.java:125-140``).

Zero shuffle; no per-row Python — everything runs inside mapInPandas batches.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame

NER_TOKENS_TYPE = (
    "array<struct<idx:int,word:string,original:string,begin:int,end:int,"
    "span_idx:int,sent:int,pos:string,lemma:string,ner:string,nner:string>>"
)

# ---------------------------------------------------------------------------
# Gazetteer (multiword; matched by a first-token-indexed trie, the analog of
# CoreMapNodePatternTrigger's trigger index). Since r2 this is the REGEXNER
# overwrite layer only — primary detection is the trained model.
# ---------------------------------------------------------------------------
GAZETTEER: dict[str, list[tuple[tuple[str, ...], float]]] = {
    "PERSON": [
        (("Barack", "Hussein", "Obama", "II"), 2.0),
        (("Barack", "Obama"), 1.5), (("Obama",), 1.0),
        (("George", "Boyd"), 1.5), (("Marie", "Curie"), 1.5),
        (("Chris", "Manning"), 1.5), (("John", "McCain"), 1.5),
        (("Jane",), 1.0), (("John",), 1.0), (("Mary",), 1.0),
        (("He",), 0.0), (("She",), 0.0),  # pronouns are NOT entities: weight 0 → no hit
    ],
    "ORGANIZATION": [
        (("International", "Business", "Machines"), 2.0),
        (("IBM",), 1.5), (("Google",), 1.5), (("Apple",), 1.5),
        (("Stanford", "University"), 2.0),
        (("Peterborough", "United"), 2.0),
        (("Creative", "Pack", "Pty.", "Ltd."), 2.0),
        (("University", "of", "Chicago", "Law", "School"), 2.0),
        (("Harvard", "Law", "School"), 2.0),
        (("Columbia", "University"), 2.0),
    ],
    "LOCATION": [
        (("United", "States"), 2.0), (("US",), 1.2), (("U.S.",), 1.2),
        (("UK",), 1.2), (("Hawaii",), 1.5), (("Paris",), 1.5),
        (("Armonk",), 1.5), (("California",), 1.5), (("Berlin",), 1.5),
        (("Honolulu",), 1.5), (("Sydney",), 1.5), (("Chicago",), 1.5),
    ],
    "MISC": [
        (("Nobel", "Prize"), 1.5), (("Republican",), 1.0),
        (("African", "American"), 1.0),
    ],
    # fine-grained KBP classes — the reference types these via regexner
    # gazetteer files (kbp_regexner_mapping: CRIMINAL_CHARGE,
    # CAUSE_OF_DEATH, RELIGION), feeding the KBP signature gates
    "CRIMINAL_CHARGE": [
        (("tax", "evasion"), 1.2), (("fraud",), 1.0), (("murder",), 1.0),
        (("bribery",), 1.0), (("money", "laundering"), 1.2),
        (("perjury",), 1.0), (("embezzlement",), 1.0), (("arson",), 1.0),
        (("racketeering",), 1.0),
    ],
    "CAUSE_OF_DEATH": [
        (("cancer",), 1.0), (("heart", "attack"), 1.2), (("stroke",), 1.0),
        (("pneumonia",), 1.0), (("heart", "failure"), 1.2),
        (("lung", "cancer"), 1.2),
    ],
    "RELIGION": [
        (("Buddhism",), 1.0), (("Islam",), 1.0), (("Christianity",), 1.0),
        (("Judaism",), 1.0), (("Hinduism",), 1.0), (("Catholicism",), 1.0),
    ],
}

# first-token trigger index: word → list[(label, phrase, weight)]
_TRIGGER: dict[str, list[tuple[str, tuple[str, ...], float]]] = {}
for _lab, phrases in GAZETTEER.items():
    for _ph, _w in phrases:
        if _w > 0:
            _TRIGGER.setdefault(_ph[0], []).append((_lab, _ph, _w))

_NER_MODEL = None


def _get_ner_model():
    """Lazy once-per-process load of the trained structured perceptron."""
    global _NER_MODEL
    if _NER_MODEL is None:
        from corenlp_spark.models.perceptron import (
            StructuredPerceptronNER, load_weights,
        )
        _NER_MODEL = StructuredPerceptronNER.from_broadcastable(
            load_weights("ner"))
    return _NER_MODEL


def _gazetteer_overwrite(words: list[str], ner: list[str]) -> None:
    """Regexner layer (``TokensRegexNERAnnotator.java:21-130``): exact
    gazetteer phrases overwrite the model's labels in place. Longest match
    at each trigger position wins (priority = phrase weight, then length);
    matching is trigger-indexed so non-trigger tokens cost one dict probe."""
    n = len(words)
    t = 0
    while t < n:
        cands = _TRIGGER.get(words[t])
        if cands:
            best = None
            for lab, ph, wt in cands:
                if tuple(words[t : t + len(ph)]) == ph:
                    key = (wt, len(ph))
                    if best is None or key > best[0]:
                        best = (key, lab, len(ph))
            if best is not None:
                _, lab, ln = best
                for k in range(t, t + ln):
                    ner[k] = lab
                t += ln
                continue
        t += 1


# ---------------------------------------------------------------------------
# Numeric / temporal rules (NumberSequenceClassifier + SUTime date subset)
# ---------------------------------------------------------------------------
MONTHS = {m.lower(): i + 1 for i, m in enumerate(
    ["January", "February", "March", "April", "May", "June", "July",
     "August", "September", "October", "November", "December"])}
#: abbreviated month tokens (SUTimeITest testOverlaps "Sun Apr 21") — only
#: honored when the surface token is capitalized ("mar"/"jan" in lowercase
#: running text are ordinary words)
MONTH_ABBREV = {}
for _m, _i in list(MONTHS.items()):
    if _m != "may":
        MONTH_ABBREV[_m[:3]] = _i
        MONTH_ABBREV[_m[:3] + "."] = _i
MONTH_ABBREV["sept"] = MONTH_ABBREV["sept."] = 9


def _month_of(word: str) -> int | None:
    lw = word.lower()
    if lw in MONTHS:
        return MONTHS[lw]
    if word[:1].isupper() and lw in MONTH_ABBREV:
        return MONTH_ABBREV[lw]
    return None
_DAY_WORDS = {"monday", "tuesday", "wednesday", "thursday", "friday",
              "saturday", "sunday", "today", "yesterday", "tomorrow",
              # holiday names are temporal, owned by the SUTime pass
              "christmas", "easter", "thanksgiving", "halloween",
              "juneteenth", "epiphany"}
_RE_YEAR = re.compile(r"^(1[6-9]\d\d|20\d\d)$")
_RE_NUM = re.compile(r"^\d{1,3}(,\d{3})*(\.\d+)?$|^\d+(\.\d+)?$")
_RE_SIGNED_NUM = re.compile(r"^-?(\d{1,3}(,\d{3})*(\.\d+)?|\d+(\.\d+)?)$")


def _fmt_num(val: float) -> str:
    """Canonical numeric value string (the reference's Number.toString()
    shape): integers render as x.0, decimals keep full precision
    ("3.625" stays 3.625 — NumberNormalizerITest)."""
    f = float(val)
    return f"{f:.1f}" if f == int(f) else str(f)
_RE_ORD = re.compile(r"^(\d+)(st|nd|rd|th)$")
_RE_TIME = re.compile(r"^(\d{1,2}):(\d{2})(?::(\d{2}))?$")
_RE_SLASHDATE = re.compile(r"^(\d{1,2})/(\d{1,2})/(\d{2}|\d{4})$")
_RE_ISODT = re.compile(r"^(\d{4})-(\d\d)-(\d\d)(T\d\d(?::\d\d(?::\d\d)?)?)?$")
_RE_ISOYM = re.compile(r"^(\d{4})-(\d\d)$")
_RE_DOTDATE = re.compile(r"^(\d{1,2})\.(\d{1,2})\.(\d{2}|\d{4})$")
_RE_DASHDATE = re.compile(r"^(\d{1,2})-(\d{1,2})-(\d{4})$")


def _expand_year(ys: str) -> int:
    """2-digit years pivot at 40 ('05 → 2005, '97 → 1997)."""
    y = int(ys)
    if len(ys) == 4:
        return y
    return 2000 + y if y < 40 else 1900 + y


def _ord_day(w: str) -> int | None:
    """Day-of-month as a cardinal (21), ordinal (21st), or ordinal word
    ("seventh" — SUTimeITest "may seventh '97")."""
    v = _day_of(w)
    if v is not None:
        return v
    lw = w.lower()
    if lw in _ORD_WORDS and 1 <= _ORD_WORDS[lw] <= 31:
        return _ORD_WORDS[lw]
    m = _RE_ORD.match(lw)
    if m and 1 <= int(m.group(1)) <= 31:
        return int(m.group(1))
    return None


def _trailing_year(words: list[str], end: int, n: int) -> tuple[int, int | None]:
    """Consume an optional year after a date head: '2013' or the
    clitic-apostrophe form \"' 05\" (two tokens). Returns (new_end, year)."""
    if end < n and _RE_YEAR.match(words[end]):
        return end + 1, int(words[end])
    if (end + 1 < n and words[end] in ("'", "’")
            and re.match(r"^\d\d$", words[end + 1])):
        return end + 2, _expand_year(words[end + 1])
    return end, None
_RE_URL = re.compile(r"^(?:(?:https?|ftp|svn(?:\+ssh)?)://|www\.|mailto:)\S+$")
_RE_EMAIL = re.compile(r"^[\w.+\-]+@[\w\-]+(?:\.[\w\-]+)+$")
_CURRENCY = {"$", "US$", "HK$", "A$", "C$", "£", "€", "¥"}
NUMBER_WORDS = {"one": 1, "two": 2, "three": 3, "four": 4, "five": 5,
                "six": 6, "seven": 7, "eight": 8, "nine": 9, "ten": 10,
                "hundred": 100, "thousand": 1000, "million": 10**6,
                "billion": 10**9}

# compositional written numbers (QuantifiableEntityNormalizer re-expressed:
# edu/stanford/nlp/ie/QuantifiableEntityNormalizer.java wordsToValues)
# plural/singular fraction denominators (QuantifiableEntityNormalizer
# fraction-word table subset)
_FRACTION_WORDS = {
    "half": 0.5, "halves": 0.5, "third": 1 / 3, "thirds": 1 / 3,
    "quarter": 0.25, "quarters": 0.25, "fourth": 0.25, "fourths": 0.25,
    "fifth": 0.2, "fifths": 0.2, "tenth": 0.1, "tenths": 0.1,
}

_NUM_UNITS = dict(NUMBER_WORDS, **{
    "eleven": 11, "twelve": 12, "thirteen": 13, "fourteen": 14,
    "fifteen": 15, "sixteen": 16, "seventeen": 17, "eighteen": 18,
    "nineteen": 19, "twenty": 20, "thirty": 30, "forty": 40, "fifty": 50,
    "sixty": 60, "seventy": 70, "eighty": 80, "ninety": 90,
})
_NUM_SCALES = {"hundred": 100, "thousand": 1000, "million": 10**6,
               "billion": 10**9, "trillion": 10**12}
_ORD_WORDS = {
    "zeroth": 0, "first": 1, "second": 2, "third": 3, "fourth": 4, "fifth": 5,
    "sixth": 6, "seventh": 7, "eighth": 8, "ninth": 9, "tenth": 10,
    "eleventh": 11, "twelfth": 12, "thirteenth": 13, "fourteenth": 14,
    "fifteenth": 15, "sixteenth": 16, "seventeenth": 17, "eighteenth": 18,
    "nineteenth": 19, "twentieth": 20,
    "thirtieth": 30, "fortieth": 40, "fiftieth": 50, "hundredth": 100,
    "thousandth": 1000, "millionth": 10**6,
}
_CURRENCY_UNITS = {"dollar", "dollars", "euro", "euros", "pound", "pounds",
                   "cent", "cents", "yen", "francs", "franc"}


def _unit_value(lw: str):
    """unit word or hyphenated tens-unit ("forty-five") → value, else None."""
    if lw in _NUM_UNITS and lw not in _NUM_SCALES:
        return _NUM_UNITS[lw]
    if "-" in lw:
        a, _, b = lw.partition("-")
        if a in _NUM_UNITS and b in _NUM_UNITS                 and _NUM_UNITS[a] % 10 == 0 and _NUM_UNITS[b] < 10:
            return _NUM_UNITS[a] + _NUM_UNITS[b]
    return None


#: multiplicative small scales (act on the current group, like "hundred")
_MULT_SCALES = {"hundred": 100, "dozen": 12, "score": 20}
#: accumulating big scales ("thousand million" chains by multiplication)
_BIG_SCALES = {"thousand": 1000, "million": 10**6, "billion": 10**9,
               "trillion": 10**12}


def _word_kind(lw: str):
    """(kind, value) of one number word: unit/teen/tens/compound."""
    if lw in ("one", "two", "three", "four", "five", "six", "seven",
              "eight", "nine"):
        return "unit", _NUM_UNITS[lw]
    if lw in ("ten", "eleven", "twelve", "thirteen", "fourteen", "fifteen",
              "sixteen", "seventeen", "eighteen", "nineteen"):
        return "teen", _NUM_UNITS[lw]
    if lw in ("twenty", "thirty", "forty", "fourty", "fifty", "sixty",
              "seventy", "eighty", "ninety"):
        return "tens", 40 if lw == "fourty" else _NUM_UNITS[lw]
    if "-" in lw:
        a, _, b = lw.partition("-")
        ka = _word_kind(a)
        kb = _word_kind(b)
        if ka and kb and ka[0] == "tens" and kb[0] == "unit":
            return "tens", ka[1] + kb[1]
    return None


def _word_number_span(words: list[str], t: int):
    """Greedy parse of a written-number run starting at ``t`` →
    (end, value) or None, per the English number grammar the reference's
    NumberNormalizer implements (NumberNormalizerITest golds):

    - "four hundred, and twelve" → 412 (and/comma join groups only after
      a scale word, so "six and three" does NOT compound)
    - "one two three four" → four separate numbers (a unit may not
      follow a unit/teen)
    - "4 million six hundred fifty thousand" → digit-initial mixed forms
    - "10 thousand million" → chained big scales multiply (1e10)
    - "two dozen" → 24, "four score" → 80, "a dozen" → 12
    """
    n = len(words)
    total, current = 0.0, 0.0
    k = t
    last = "start"          # start|unit|teen|tens|mult|big|sep|digit
    seen_scale = False
    seen_word = False
    while k < n:
        lw = words[k].lower()
        kind = _word_kind(lw)
        if lw == "zero" and k == t:
            return t + 1, 0.0
        if kind is not None:
            kd, v = kind
            if kd == "unit" and last in ("unit", "teen"):
                break
            if kd in ("teen", "tens") and last in ("unit", "teen", "tens",
                                                   "digit"):
                break
            current += v
            last = kd
            seen_word = True
        elif lw in _MULT_SCALES:
            if last in ("mult", "sep"):
                break
            if current == 0 and k == t:
                if lw != "hundred":  # bare "hundred people" = 100
                    break
                current = 1
            current = (current or 1) * _MULT_SCALES[lw]
            last = "mult"
            seen_scale = seen_word = True
        elif lw in _BIG_SCALES:
            if last == "sep":
                break
            if current == 0 and total > 0:
                total *= _BIG_SCALES[lw]  # "10 thousand million" → 1e10
            else:
                total += (current or 1) * _BIG_SCALES[lw]
            current = 0.0
            last = "big"
            seen_scale = seen_word = True
        elif lw in ("and", ",") and seen_scale and k + 1 < n:
            nxt = words[k + 1].lower()
            if lw == "," and nxt == "and" and k + 2 < n \
                    and _word_kind(words[k + 2].lower()) is not None:
                k += 2          # ", and twelve"
                last = "sep"
                continue
            if _word_kind(nxt) is not None or nxt in _BIG_SCALES:
                k += 1
                last = "sep"
                continue
            break
        elif k == t and lw in ("a", "an") and k + 1 < n \
                and (words[k + 1].lower() in _MULT_SCALES
                     or words[k + 1].lower() in _BIG_SCALES):
            current = 1.0
            last = "unit"
        elif k == t and _RE_NUM.match(lw) and k + 1 < n \
                and (words[k + 1].lower() in _MULT_SCALES
                     or words[k + 1].lower() in _BIG_SCALES):
            # digit-initial mixed numbers: "4 million", "1.3 million"
            current = float(lw.replace(",", ""))
            last = "digit"
        else:
            break
        k += 1
    if not seen_word or k == t:
        return None
    if k == t + 1 and _word_kind(words[t].lower()) is None \
            and words[t].lower() != "zero":
        return None  # a bare article/digit/scale token is not a span
    return k, total + current


def _day_of(w: str) -> int | None:
    """1-31 day number or None. str.isdigit() alone is a trap: unicode
    digit-like characters ('²') pass it but int() rejects them."""
    if not (w.isascii() and w.isdigit()):
        return None
    v = int(w)
    return v if 1 <= v <= 31 else None


#: r6 gate — every cascade branch that can START at a pure-ASCII-alphabetic
#: token requires the token itself to be one of these words (months incl.
#: undotted abbrevs, written numbers/scales/ordinals, fraction/offset heads);
#: everything else in the cascade needs a digit, symbol, dot, hyphen or
#: apostrophe in the token, i.e. a non-isalpha character. Built from the
#: live tables above so the sets cannot drift apart.
_NP_TRIGGERS: frozenset[str] = frozenset(
    list(MONTHS) + [a for a in MONTH_ABBREV if "." not in a]
    + list(_NUM_UNITS) + list(_MULT_SCALES) + list(_BIG_SCALES)
    + list(_NUM_SCALES) + list(_ORD_WORDS)
    + ["zero", "half", "fourty", "today", "yesterday", "tomorrow"])
_NP_AN_SCALES: frozenset[str] = (
    frozenset(_MULT_SCALES) | frozenset(_BIG_SCALES) | frozenset(_NUM_SCALES))


def numeric_pass(words: list[str], ner: list[str], nner: list[str]) -> None:
    """In-place overwrite of O tags with numeric/temporal classes + values."""
    n = len(words)
    t = 0
    while t < n:
        w, lw = words[t], words[t].lower()
        # fast path: a plain alphabetic non-trigger word can start no branch
        # ("a"/"an" only head a span when a scale word follows)
        if w.isascii() and w.isalpha() and lw not in _NP_TRIGGERS and not (
                lw in ("a", "an") and t + 1 < n
                and words[t + 1].lower() in _NP_AN_SCALES):
            t += 1
            continue
        # currency-symbol + number is decisively MONEY even when the
        # statistical model mislabels the symbol token ("US$" ≠ LOCATION)
        if w in _CURRENCY and t + 1 < n and _RE_NUM.match(words[t + 1]):
            val = float(words[t + 1].replace(",", ""))
            ner[t] = ner[t + 1] = "MONEY"
            nner[t] = nner[t + 1] = "$" + _fmt_num(val)
            t += 2
            continue
        if ner[t] != "O":
            t += 1
            continue
        # URL / EMAIL tokens (the tokenizer emits them whole) — reference
        # NER URL type (org:website object signature)
        if _RE_URL.match(w):
            ner[t], nner[t] = "URL", w.lower()
            t += 1
            continue
        if _RE_EMAIL.match(w):
            ner[t], nner[t] = "EMAIL", w.lower()
            t += 1
            continue
        m = _RE_TIME.match(w)
        if m:  # 4:45 [pm], 6:53:32
            hh, mm, ss = int(m.group(1)), m.group(2), m.group(3)
            end = t + 1
            if end < n and words[end].lower() in ("pm", "p.m.", "am", "a.m."):
                if words[end].lower().startswith("p") and hh < 12:
                    hh += 12
                end += 1
            val = f"T{hh:02d}:{mm}" + (f":{ss}" if ss else "")
            for k in range(t, end):
                ner[k], nner[k] = "TIME", val
            t = end
            continue
        # ISO-8601 tokens the tokenizer keeps whole (SUTimeITest
        # testSUTimeIso): 1988-02-17 / 2008-04 / 2004-03-04T18:32:56 /
        # 2008-05-16T09, European dotted 19.02.2010, US dashed 12-03-2007.
        # One cheap shape gate covers all four per-token regexes.
        if not (w[:1].isdigit() and ("-" in w or "." in w or "/" in w)):
            m = None
        else:
            m = _RE_ISODT.match(w)
        if m and 1 <= int(m.group(2)) <= 12 and 1 <= int(m.group(3)) <= 31:
            ner[t], nner[t] = ("TIME" if m.group(4) else "DATE"), w
            t += 1
            continue
        m = _RE_ISOYM.match(w) if (w[:1].isdigit() and "-" in w) else None
        if m and 1 <= int(m.group(2)) <= 12:
            ner[t], nner[t] = "DATE", w
            t += 1
            continue
        m = _RE_DOTDATE.match(w) if (w[:1].isdigit() and "." in w) else None
        if m and 1 <= int(m.group(2)) <= 12 and 1 <= int(m.group(1)) <= 31:
            ner[t], nner[t] = "DATE", (f"{_expand_year(m.group(3))}-"
                                       f"{int(m.group(2)):02d}-"
                                       f"{int(m.group(1)):02d}")
            t += 1
            continue
        m = _RE_DASHDATE.match(w) if (w[:1].isdigit() and "-" in w) else None
        if m and 1 <= int(m.group(1)) <= 12 and 1 <= int(m.group(2)) <= 31:
            ner[t], nner[t] = "DATE", (f"{m.group(3)}-{int(m.group(1)):02d}-"
                                       f"{int(m.group(2)):02d}")
            t += 1
            continue
        m = _RE_ORD.match(w)
        if m:
            ner[t], nner[t] = "ORDINAL", f"{float(m.group(1)):.1f}"
            t += 1
            continue
        # DATE patterns: "21 February 2013" | "February 21, 2013" | "Sep 18
        # '05" | "09/18/05" | bare year.  Month-only values render at month
        # granularity (XXXX-08 / 1943-11, no day field), matching the
        # reference's TIMEX3 values (SUTimeITest "November 1943" → 1943-11)
        m_sd = _RE_SLASHDATE.match(w)
        if m_sd:  # US-style MM/DD/YY[YY] (NumberSequenceClassifier dates)
            mon, day = int(m_sd.group(1)), int(m_sd.group(2))
            if 1 <= mon <= 12 and 1 <= day <= 31:
                ner[t], nner[t] = "DATE", f"{_expand_year(m_sd.group(3))}-{mon:02d}-{day:02d}"
                t += 1
                continue
        if _day_of(w) is not None and t + 1 < n \
                and _month_of(words[t + 1]) is not None:
            day, mon = _day_of(w), _month_of(words[t + 1])
            end = t + 2
            year = None
            end, year = _trailing_year(words, end, n)
            val = f"{year}-{mon:02d}-{day:02d}" if year else f"XXXX-{mon:02d}-{day:02d}"
            for k in range(t, end):
                ner[k], nner[k] = "DATE", val
            t = end
            continue
        if _month_of(w) is not None:
            mon = _month_of(w)
            end, day, year = t + 1, None, None
            if end < n and _ord_day(words[end]) is not None:
                day = _ord_day(words[end])
                end += 1
                if end < n and words[end] == ",":
                    end += 1
            end, year = _trailing_year(words, end, n)
            y = str(year) if year else "XXXX"
            val = f"{y}-{mon:02d}-{day:02d}" if day else f"{y}-{mon:02d}"
            for k in range(t, end):
                if words[k] != ",":
                    ner[k], nner[k] = "DATE", val
            t = end
            continue
        if _RE_YEAR.match(w):
            ner[t], nner[t] = "DATE", w
            t += 1
            continue
        if lw in ("today", "yesterday", "tomorrow"):
            # symbolic offset Timex; sutime_docs resolves it against docdate
            off = {"today": "P0D", "yesterday": "P-1D", "tomorrow": "P1D"}[lw]
            ner[t], nner[t] = "DATE", f"OFFSET {off}"
            t += 1
            continue
        if _RE_SIGNED_NUM.match(w) \
                and not (t + 1 < n and (words[t + 1].lower() in _MULT_SCALES
                                        or words[t + 1].lower()
                                        in _BIG_SCALES)):
            # digit-initial mixed numbers ("4 million") fall through to
            # the written-number grammar below
            val = float(w.replace(",", ""))
            if t + 1 < n and words[t + 1].lower() in _CURRENCY_UNITS:
                ner[t] = ner[t + 1] = "MONEY"
                nner[t] = nner[t + 1] = "$" + _fmt_num(val)
                t += 2
                continue
            if t + 1 < n and words[t + 1] in ("%", "percent"):
                # PERCENT class with the reference's %-prefixed value
                # (QuantifiableEntityNormalizer PERCENT normalization)
                ner[t] = ner[t + 1] = "PERCENT"
                nner[t] = nner[t + 1] = "%" + _fmt_num(val)
                t += 2
                continue
            ner[t], nner[t] = "NUMBER", _fmt_num(val)
            t += 1
            continue
        # written fractions (QuantifiableEntityNormalizer fraction words):
        # "two thirds" → 0.6667, "three quarters" → 0.75, "half a million"
        # → 500000
        if lw == "half" and t + 2 < n and words[t + 1].lower() in ("a", "an") \
                and words[t + 2].lower() in _NUM_SCALES:
            val = 0.5 * _NUM_SCALES[words[t + 2].lower()]
            for k in range(t, t + 3):
                ner[k], nner[k] = "NUMBER", f"{val:.1f}"
            t += 3
            continue
        # written-number runs: "two hundred [and five]" → one span, one
        # value; a following currency unit upgrades the span to MONEY
        span = _word_number_span(words, t)
        if span is not None:
            end, val = span
            # a trailing ordinal word upgrades the cardinal to a compound
            # ordinal: "twenty first" → 21, "one hundred and fifty first"
            # → 151, "two hundredth" → 200 (NumberNormalizerITest)
            if end < n and words[end].lower() in _ORD_WORDS:
                ov = _ORD_WORDS[words[end].lower()]
                oval = float(val) * ov if ov in (100, 1000, 10**6) \
                    else float(val) + ov
                for k in range(t, end + 1):
                    ner[k], nner[k] = "ORDINAL", f"{oval:.1f}"
                t = end + 1
                continue
            cls, v = "NUMBER", _fmt_num(val)
            if end < n and words[end].lower() in _FRACTION_WORDS:
                frac = float(val) * _FRACTION_WORDS[words[end].lower()]
                v = f"{frac:.4f}".rstrip("0").rstrip(".")
                end += 1
            elif end < n and words[end].lower() in _CURRENCY_UNITS:
                cls, v = "MONEY", "$" + _fmt_num(val)
                end += 1
            for k in range(t, end):
                ner[k], nner[k] = cls, v
            t = end
            continue
        if lw in _ORD_WORDS:
            ner[t], nner[t] = "ORDINAL", f"{float(_ORD_WORDS[lw]):.1f}"
            t += 1
            continue
        if "-" in lw:
            a, _, b = lw.partition("-")
            if a in _NUM_UNITS and b in _ORD_WORDS and _NUM_UNITS[a] % 10 == 0:
                ner[t], nner[t] = "ORDINAL", \
                    f"{float(_NUM_UNITS[a] + _ORD_WORDS[b]):.1f}"
                t += 1
                continue
        t += 1


_PRONOUN_WORDS = {
    "i", "you", "he", "she", "it", "we", "they", "him", "her", "them",
    "his", "hers", "its", "their", "theirs", "our", "ours", "your",
    "yours", "me", "us", "myself", "yourself", "himself", "herself",
    "itself", "ourselves", "themselves", "this", "that", "these", "those",
}


def _ner_force_o(words: list[str]) -> set[int]:
    # punct/number/calendar tokens are owned by the numeric/temporal
    # pass — pin them to O in the model's decode; pronouns/demonstratives
    # are never entity tokens (CoNLL03 convention — a capitalized
    # sentence-initial "It" must not decode as ORGANIZATION)
    out = set()
    for i, w in enumerate(words):
        # all-alphabetic tokens (the common case) cannot contain a digit
        # and their first char is a letter — only the word-set checks apply
        if not w.isalpha() and (
                not w[:1].isalpha()
                or any(c.isdigit() for c in w)):  # Q3, 4:45pm — numeric owns
            out.add(i)
            continue
        lw = w.lower()
        if lw in MONTHS or lw in _DAY_WORDS \
                or (lw in _PRONOUN_WORDS
                    # exempt multi-char ALL-CAPS tokens: 'US'/'IT' in
                    # headline case are acronyms ('the US' = LOCATION),
                    # not the pronouns us/it
                    and not (len(w) > 1 and w.isupper())):
            out.add(i)
    return out


def tag_sentence_ner(words: list[str], pos: list[str]) -> tuple[list[str], list[str]]:
    # trigger fast path: entities require a capitalized alphabetic token —
    # all-lowercase sentences skip the Viterbi DP entirely and go straight
    # to the numeric pass
    if any(w[:1].isupper() for w in words):
        bio = _get_ner_model().decode(words, pos, _ner_force_o(words))
        ner = [b.split("-", 1)[-1] if b != "O" else "O" for b in bio]
        _gazetteer_overwrite(words, ner)
    else:
        ner = ["O"] * len(words)
    nner = [""] * len(words)
    numeric_pass(words, ner, nner)
    return ner, nner


def tag_ner_batch(sents: list[tuple[list[str], list[str]]]
                  ) -> list[tuple[list[str], list[str]]]:
    """Batched tag_sentence_ner over many sentences: the model-eligible
    sentences (any capitalized token) share ONE batched Viterbi
    (StructuredPerceptronNER.decode_batch); the gazetteer overwrite and the
    deterministic numeric pass stay per-sentence. Results equal the
    per-sentence path exactly."""
    results: list[tuple[list[str], list[str]] | None] = [None] * len(sents)
    idxs: list[int] = []
    model_in = []
    for i, (words, pos) in enumerate(sents):
        if any(w[:1].isupper() for w in words):
            idxs.append(i)
            model_in.append((words, pos, _ner_force_o(words)))
        else:
            results[i] = (["O"] * len(words), [""] * len(words))
    if model_in:
        bios = _get_ner_model().decode_batch(model_in)
        for i, bio in zip(idxs, bios):
            words = sents[i][0]
            ner = [b.split("-", 1)[-1] if b != "O" else "O" for b in bio]
            _gazetteer_overwrite(words, ner)
            results[i] = (ner, [""] * len(words))
    for i, (words, pos) in enumerate(sents):
        ner, nner = results[i]
        numeric_pass(words, ner, nner)
    return results


def ner_docs(df: DataFrame) -> DataFrame:
    """DataFrame transform: + ner, nner fields on the tokens array."""
    from corenlp_spark.plans.fused import docs_of, map_docs, ner_phase

    def ner(pdf: pd.DataFrame) -> dict[str, list]:
        docs = docs_of(pdf)
        ner_phase(docs)
        return {"tokens": [t for t, _ in docs]}

    return map_docs(df, {"tokens": NER_TOKENS_TYPE}, ner)
