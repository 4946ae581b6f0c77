"""Fused PTB-style tokenization + sentence splitting as one Arrow-batched stage.

Behavioral reference (re-expressed, not ported):
  - token rules: ``process/PTBLexer.flex`` (rule cascade: URLs, emoticons,
    ellipses, currency, abbreviations, clitic splits like ``I'm → I 'm``,
    ``gonna → gon na``), API ``process/PTBTokenizer.java:61-177``.
  - sentence boundaries: ``process/WordToSentenceProcessor.java:76-131``
    (terminators ``[.!?]+``, boundary followers — close quotes/brackets —
    attach left; annotator ``pipeline/WordsToSentencesAnnotator.java:178``).
  - media spans terminate sentences, the analog of CleanXML block tags
    (``pipeline/CleanXmlAnnotator.java:164-226``).

Implementation is a compiled-regex cascade over each text span, run inside a
``mapInPandas`` iterator (one Python loop per *Arrow batch*, never a Spark
row-at-a-time UDF). The stage is a narrow transformation: no shuffle, and at
cluster scale it pipelines with every other per-doc stage.

Output columns:
  tokens:    array<struct<idx,word,original,begin,end,span_idx,sent>>
  sentences: array<struct<sent_idx,start_tok,end_tok,span_idx>>
The input ``spans`` column passes through untouched (span-sequence invariant).
"""

from __future__ import annotations

import re
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame

TOKENS_TYPE = (
    "array<struct<idx:int,word:string,original:string,begin:int,end:int,"
    "span_idx:int,sent:int>>"
)
SENTENCES_TYPE = "array<struct<sent_idx:int,start_tok:int,end_tok:int,span_idx:int>>"

# ---------------------------------------------------------------------------
# Rule cascade (ordered alternatives, first match wins — the JFlex discipline)
# ---------------------------------------------------------------------------

ABBREVS = {
    "mr.", "mrs.", "ms.", "dr.", "prof.", "sen.", "rep.", "gen.", "gov.",
    "inc.", "ltd.", "co.", "corp.", "pty.", "vs.", "etc.", "jr.", "sr.",
    "st.", "mt.", "dept.", "univ.", "assn.", "bros.", "ph.d.",
    "jan.", "feb.", "mar.", "apr.", "jun.", "jul.", "aug.", "sep.", "sept.",
    "oct.", "nov.", "dec.", "mon.", "tue.", "wed.", "thu.", "fri.", "sat.",
    "sun.", "approx.", "appt.", "est.", "min.", "max.", "misc.",
    "p.m.", "a.m.", "ore.", "calif.", "ave.", "blvd.", "rd.",
    # r5 tranche (PTBLexer.flex ABTITLE/ABCOMP2/ABVARIA additions): Amb for
    # Ambassador, Br for brother, loc./cit. for "loc. cit.", Eng/Det/Insp/
    # Asst titles, Govt, viz, tel/ext/sq (ABNUM)
    "amb.", "br.", "loc.", "cit.", "eng.", "det.", "insp.", "asst.",
    "govt.", "viz.", "tel.", "ext.", "sq.",
    # ABCOMP2 additions: Ph. (for "Ph. D"), Sc. (B. Sc.), Soc., Mk.
    "ph.", "sc.", "soc.", "mk.",
    # ABVARIA/ABTAXONOMY additions (moreGold/mtGold): Pls., wrt., fl.
    # (floruit), subsp./spp. (taxonomy), Pvt. (company form)
    "pls.", "wrt.", "fl.", "subsp.", "spp.", "pvt.",
}

# case-sensitive lowercase-only abbreviations (PTBLexer ABVARIA spells them
# [m][i][n]|[m][a][x]): "max." is an abbreviation, "Max." is a name followed
# by a sentence-ending period ("iPhone 11 Pro Max. The iPhone family …")
LOWER_ONLY_ABBREVS = {"min.", "max."}

# ambiguous abbreviations: the period belongs to the token only when a digit
# follows ("No. 24", "Art. 53", "ca. 1300"); otherwise it ends the sentence
# ("I like Art. And I like History.") — PTBLexer's context-gated abbrevs
CONTEXT_ABBREVS = {"no.", "art.", "fig.", "sec.", "op.", "ch.", "ca.", "pp.",
                   "so.", "para.", "paras.", "vol.", "vols.", "sect.",
                   "prop.", "nr."}

# direction/ordinal abbreviations kept before the specific place names the
# reference allows (``PTBLexer.flex:1138`` — {ABBREVSN}/{SPACENL}+(Africa|
# Korea|Cal) — prefix match, so "Calif." qualifies via "Cal")
_CAP_CONTEXT_ABBREVS = {"no.", "so."}
_ABBREVSN_PLACES = ("Africa", "Korea", "Cal")

# ABBREV1 — abbreviations normally followed by LOWERCASE words
# (PTBLexer.flex:685-718: ABMONTH/ABDAYS/ABSTATE/ABCOMP/ABPTIT/ABVARIA).
# An uppercase word / blank line / markup after them implies a sentence
# boundary: the lexer then re-emits a period (reduplication), or under
# strictTreebank3 splits the period off (processAbbrev1,
# PTBLexer.flex:552-566).
_ABBREV1 = {
    "jan.", "feb.", "mar.", "apr.", "jun.", "jul.", "aug.", "sep.", "sept.",
    "oct.", "nov.", "dec.",
    "mon.", "tue.", "tues.", "wed.", "thu.", "thurs.", "fri.",
    "calif.", "ore.", "okla.", "fla.", "tenn.", "mich.", "minn.", "conn.",
    "inc.", "co.", "cos.", "corp.", "pty.", "pte.", "ltd.", "plc.",
    "bancorp.", "assn.", "univ.", "intl.", "sys.",
    "jr.", "sr.", "bros.", "esq.", "etc.", "al.",
    # r5 tweet tranche: "less than Br." reduplicates at a sentence end
    "br.",
}

# ABBREV2 — abbreviations normally followed by UPPERCASE words (titles,
# acronyms, ABCOMP2; PTBLexer.flex:720-739). Recognized as sentence-final
# only when the following word is a common sentence STARTER
# (PTBLexer.flex:1124 lookahead list, ported verbatim).
_ABBREV2_TITLES = {
    "mr.", "mrs.", "ms.", "dr.", "prof.", "sen.", "rep.", "gen.", "gov.",
    "st.", "mt.", "ft.", "ave.", "blvd.", "rd.", "dept.", "col.", "lt.",
    "maj.", "sgt.", "capt.", "rev.", "hon.", "pres.", "adm.", "natl.",
    "ph.", "sc.", "soc.", "mk.",
}
_SENT_STARTERS = {
    "A", "About", "According", "Additionally", "After", "All", "Also",
    "Although", "An", "Another", "As", "At", "Before", "Both", "But", "By",
    "Did", "During", "Each", "Earlier", "Following", "For", "From", "He",
    "Her", "Here", "His", "How", "However", "If", "In", "It", "Its", "Last",
    "Later", "Many", "More", "Most", "Mr.", "Mrs.", "Ms.", "Now", "On",
    "Once", "One", "Other", "Our", "She", "Since", "So", "Some", "Such",
    "That", "The", "Their", "Then", "There", "These", "They", "This", "Two",
    "Under", "Upon", "We", "When", "While", "What", "Who", "Why", "Yet",
    "You",
}
_ACRO_RE = re.compile(r"(?:[A-Za-z]\.){2,}")
_ACRO1_RE = re.compile(r"(?:[A-Za-z]\.)+")  # incl. single initials ("A.")

# cp1252 control-range bytes inherited into text → unicode equivalents
# (PTBLexer cp1252 normalization set; 1:1 so char offsets are preserved)
CP1252 = {"\x91": "\u2018", "\x92": "\u2019", "\x93": "\u201c",
          "\x94": "\u201d", "\x95": "\u2022", "\x96": "\u2013",
          "\x97": "\u2014", "\x85": "\u2026",
          # r5: euro sign and low-9 quotes (PTBLexer QUOTES class carries
          # \u0082/\u0084 raw; DOLSIGN2 carries \u0080)
          "\x80": "\u20ac", "\x82": "\u201a", "\x84": "\u201e"}
_CP1252_RE = re.compile("[" + "".join(CP1252) + "]")

# multi-word split table: PTBLexer splits these informal contractions
SPLIT_WORDS = {
    "gimme": ("gim", "me"),
    "c'mon": ("c'm", "on"),
    "gonna": ("gon", "na"),
    "wanna": ("wan", "na"),
    "gotta": ("got", "ta"),
    "lemme": ("lem", "me"),
    "outta": ("out", "ta"),
    "dunno": ("du", "n", "no"),
    "cannot": ("can", "not"),
    # r5: apostrophe-less negations/contractions (PTBLexer ASSIMILATIONS2 —
    # "wont" excluded there too, as it is also a word)
    "dont": ("do", "nt"),
    "doesnt": ("does", "nt"),
    "didnt": ("did", "nt"),
    "aint": ("ai", "nt"),
    "theyre": ("they", "re"),
}

CLITICS = ("n'ts", "'s", "'m", "'re", "'ve", "'ll", "'d", "n't", "'S", "'M",
           "'RE", "'VE", "'LL", "'D", "N'T")  # n'ts: plural "don'ts" → do n'ts

# faithful SGML/XML tag shape (LexCommon.tokens SGML1): <!doctype/<?pi
# free-form up to >, or a named tag whose attribute section is RESTRICTED
# to name / name=value (quoted or bare) — so "<pH 4)" is NOT a tag and
# lexes as `<` + words, while "<foo bar=\"baz !$*) 422\" >" is one tag.
_SGML_NAME = r"[A-Za-z][A-Za-z0-9_:.\-]*"
_SGML_ATTR = (rf"(?:{_SGML_NAME}[ \r\n]*=[ \r\n]*"
              rf"(?:'[^']*'|\"[^\"]*\"|[A-Za-z_][A-Za-z0-9_:.\-]*)"
              rf"|{_SGML_NAME})")
SGML_TAG = (rf"<(?:[!?][A-Za-z\-][^>\r\n]*"
            rf"|{_SGML_NAME}(?:[ \r\n]+{_SGML_ATTR})*[ \r\n]*/?"
            rf"|/{_SGML_NAME})[ \r\n]*>")

# word-character class approximating flex {LETTER}+\p{Mn}\p{Mc}: Latin &
# extensions, spacing-modifier letters (\u02B0-\u02FF: ʻokina, ʼ), Greek,
# Cyrillic, Hebrew, Arabic, Indic blocks incl. their combining vowel signs
# (Devanagari..Malayalam, Sinhala), Thai/Lao, kana, CJK, Hangul
_LETTERS = ("A-Za-z\u00c0-\u024f\u02b0-\u02ff\u0370-\u04ff"
            "\u0590-\u05ff\u0600-\u06ff\u0900-\u0dff\u0e00-\u0eff"
            "\u1e00-\u1eff\u3040-\u30ff\u3400-\u9fff\uac00-\ud7af")

# filenames with a known extension are one token (PTBLexer FILENAME);
# also consulted by _split_on so splitHyphenated never cuts "a-b.jpg"
_FILENAME_PAT = (r"[\w\-]+(?:[./][\w\-]+)*\.(?:jpe?g|png|gif|bmp|tiff?|"
                 r"pdf|html?|txt|doc|docx|xlsx?|csv|tsv|zip|tar|gz|bz2|"
                 r"mp[34]|wav|avi|mov|mkv|py|java|cpp|js|rs|go|sh)(?![\w.])")
_FILENAME_RE = re.compile(_FILENAME_PAT)

_RULES = [
    # SGML/XML markup: recognized first; by default excluded from
    # linguistic tokens, preserved positionally, forces a sentence break
    # (pipeline/CleanXmlAnnotator.java:164-240 block-element semantics);
    # with keep_sgml_tokens the tag is ONE token, inner spaces → NBSP
    # (PTBLexer.flex:852-867 {SGML1} action)
    ("XMLTAG", SGML_TAG),
    # angle-bracket-wrapped URIs/addresses stay whole: <mailto:…>, <x@y.z>
    ("ANGLEURI", r"<mailto:[^\s<>]+>|<[\w.+%\-]+@[\w\-]+(?:\.[\w\-]+)+>"),
    ("URL", r"(?:(?:https?|ftp|svn(?:\+ssh)?)://|www\.|mailto:)[\w.\-@]+(?:/[\w.\-/%&?=+#~:@]*)?"),
    # EMAIL (PTBLexer.flex:672): optional &lt; / &gt; entity wrappers ride
    # along ("&lt;b...@canada.com&gt;" is ONE token)
    ("EMAIL", r"(?:&lt;)?[\w.+%\-]+@[\w\-]+(?:\.[\w\-]+)+(?:&gt;)?"),
    # filenames with a known extension are one token (PTBLexer FILENAME)
    ("FILENAME", _FILENAME_PAT),
    # ".@name" mentions stay one token (they match the reference's EMAIL
    # rule — "." is a valid local part; PTBTokenizerTest tweetGold)
    ("DOTAT", r"\.[@＠][A-Za-z_]\w*"),
    # TWITTER_NAME special-cases "@50cent" verbatim (PTBLexer.flex:678 —
    # digit-start names would disable "@" as "at" before quantities)
    ("HANDLE", r"[@＠](?:[A-Za-z_]\w*|50cent)|[#＃][^\W\d][\w]*"),
    # EMOJI sequences (PTBLexer {EMOJI}): flag pairs, tag sequences,
    # base + optional skin-tone modifier + optional variation selector,
    # chained with zero-width joiners ("family" composites are ONE token)
    ("EMOJI", r"(?:[\U0001F1E6-\U0001F1FF]{2}"
              r"|\U0001F3F4[\U000E0020-\U000E007E]+\U000E007F"
              r"|(?:[\u00AE\u203C\u2049\u2122\u2139\u2194-\u21AA"
              r"\u231A-\u23FA\u24C2\u25AA-\u25FE\u2600-\u27BF\u2934"
              r"\u2935\u2B00-\u2BFF\u3030\u303D\u3297\u3299"
              r"\U0001F000-\U0001FAFF][\U0001F3FB-\U0001F3FF]?"
              r"[\uFE0E\uFE0F]?))"
              r"(?:\u200D(?:[\u00AE\u203C\u2049\u2122\u2139"
              r"\u2194-\u21AA\u231A-\u23FA\u24C2\u25AA-\u25FE"
              r"\u2600-\u27BF\u2934\u2935\u2B00-\u2BFF\u3030\u303D"
              r"\u3297\u3299\U0001F000-\U0001FAFF]"
              r"[\U0001F3FB-\U0001F3FF]?[\uFE0E\uFE0F]?))*"),
    # ":/" frowny must not eat the colon of a non-URL "://" run (htvp://…);
    # ASIANSMILEY forms (PTBLexer.flex:794): (x.x), (^-^), ^_^, ¯\_(ツ)_/¯
    ("EMOTICON", r"¯\\_\(ツ\)_/¯"
                 r"|\([\-^x=~<>'][_.]?[\-^x=~<>']\)"
                 r"|\([\^x=~<>']-[\^x=~<>'`]\)"
                 r"|[\-^x=~<>']_[\-^x=~<>']"
                 r"|[\^x=~<>]\.[\^x=~<>]"
                 r"|<3|[<>]?[:;=8][\-o*']?[)\](\[dDpP/\\|@3](?!/)"),
    # company/product names with a trailing bang (PTBLexer's lexical list)
    ("BANGWORD", r"(?<![A-Za-z])(?:Yahoo|Jeopardy|OK|E)!"),
    # spaced ellipsis ". . ." normalizes to "..." (one token)
    ("SPACEDOTS", r"\.(?: \.){2,}"),
    ("ELLIPSIS", r"\.\.+|…"),
    # leading-decimal compounds: .38-Magnum, .45
    ("DOTNUM", r"\.\d[\d,]*(?:[-–]\w+)*"),
    # "5 7/8" whole-number + fraction: ONE token, space → NBSP
    # (PTBLexer normalizeSpace; strictFraction splits it — see loop below)
    ("SPACEDFRAC", r"\d{1,3}(?:,\d{3})*[ \u00A0]\d{1,2}/\d{1,4}(?![\d/])"),
    # hyphenated mixed number "5-1/4" stays one token in BOTH modes
    ("HYPHFRAC", r"\d{1,3}(?:,\d{3})*-\d{1,2}/\d{1,4}(?![\d/])"),
    # slash/hyphen dates "3/4/2021", "11-05-99" are ONE token (PTBLexer
    # DATE rule) — must precede FRACTION so "3/4/2021" never half-matches
    ("SLASHDATE", r"(?:\d{1,2}/\d{1,2}/\d{2,4}|\d{1,2}-\d{1,2}-\d{2,4})(?![\d/-])"),
    # bare fraction "3/4" (and season spans "2022/23") is ONE token
    # (PTBLexer FRACTION rule); SPACEDFRAC/HYPHFRAC above win when longer
    ("FRACTION", r"\d{1,4}/\d{1,4}(?![\d/])"),
    # hyphenated ranges / number compounds stay whole: 2010-2015, 20-30,
    # 80,000-man, 1,000-1,200, 5:30-to-10, 9-to-11:45, 555-55-5555
    # (trailing %, ., ' split off — PTBLexer hyphenated-token behavior)
    ("NUMRANGE", r"\d[\d,.:]*(?:[-\u2011\u2012](?:\d{1,3}(?:,\d{3})+|[\w:]+(?:\.\d+)?))+"),
    ("TIME", r"\d{1,2}:\d{2}(?::\d{2})?"),
    ("ORDINAL", r"\d+(?:st|nd|rd|th)\b"),
    # negative number: sign attaches only when space-preceded and glued to
    # the digits ("779.5 -9.5 %" vs "2 - 9.5 %")
    ("NEGNUM", r"(?<!\S)-\d+(?:,\d{3})*(?:\.\d+)?(?![\w-])"),
    ("VERSION", r"\d+\.[A-Za-z]\w*"),  # Windows 3.x
    ("NUMPLURAL", r"['’]?\d+s(?!\w)"),  # decades/plural numbers: 1990s, '60s
    # digit groups joined by thin/narrow-NBSP/soft-hyphen separators are one
    # number; the separators vanish from the normalized form ("3 456 473.89"
    # with U+202F → "3456473.89"; PTBLexer NUM separator class)
    ("SEPNUM", "\\d+(?:[\\u2009\\u202f\\u00ad]\\d+)+(?:\\.\\d+)?"),
    # "intelligent tokenization": digits split from a following unit/
    # currency word ONLY for the lexer's SEP_SUFFIX list ("300USD" → 300
    # USD, "145bpm" → 145 bpm, "@5am" → 5 am); any other digit-led
    # letter run is ONE token ("156bpmt", "5k", "4x4" — PTBLexer.flex:599-
    # 604 SEP_CURRENCY/SEP_UNITS/SEP_OTHER + the THING fallback)
    ("NUMUNIT", r"\d+(?:,\d{3})*(?:\.\d+)?(?=(?:USD|EUR|JPY|GBP|AUD|CAD|CHF|CNY|SEK|NZD|MXN|SGD"
                r"|HKD|NOK|KRW|TRY|RUB|INR|BRL|ZAR|lbs?|ltr|mins?|[kcm][gml]"
                r"|[MGTP](?:B|Hz)|fps|bpm|[MG]bps|[ap]m|hrs?|words?"
                r"|m(?:on)?ths?|y(?:ea)?rs?|pts?)(?![A-Za-z0-9]))"),
    ("THINGNUM", r"\d+[A-Za-z_](?:[A-Za-z0-9_]*[A-Za-z_])?(?=\d+(?:[.:,]\d+)+)"),
    ("THING", r"\d+[A-Za-z_][A-Za-z0-9_]*"),
    # European decimal-comma numbers ("1,7 GHz") — PTBLexer NUM takes any
    # comma-joined digit groups; thousands-grouping alternative tried first
    ("DOTTEDNUM", r"\d+(?:\.\d+){2,}"),
    ("NUMBER", r"\d{1,3}(?:,\d{3})+(?:\.\d+)?|\d+\.\d+|\d+(?:,\d{1,2})+(?!\d)|\d+"),
    # degree units: °C / °F are ONE token (mtGold)
    ("DEGREES", r"°[CF](?![A-Za-z])"),
    # &amp; normalizes to & (LexerUtils normalizeAmpEntity, %caseless)
    ("AMPENT", r"&[Aa][Mm][Pp];(?!\w)"),
    # standalone &lt;/&gt; entities are the < / > tokens
    # (PTBLexer.flex:768-769 LESSTHAN/GREATERTHAN)
    ("LTGTENT", r"&[LlGg][Tt];"),
    # THINGA (PTBLexer.flex:617): uppercase runs joined by +/& are one
    # corporate-name token (AT&T, A&M, C++ handled by PROGLANG below)
    ("AMPWORD", r"[A-Z]+(?:[+&][A-Z]+)+(?![a-z])"),
    ("PROGLANG", r"[A-Za-z]#"),
    ("CENSORED", r"[A-Za-z]+\*+[A-Za-z*]*"),
    ("CURRENCY", r"\$\$+|(?:US|HK|A|C|NZ)?\$|£|€|¥"),  # $$+ one DOLSIGN token
    # letter-dot-digit product/version codes stay whole (PTBTokenizerTest
    # apostropheGold: BA.2.12.1, BA.5, X.500, P.72)
    ("PRODCODE", r"[A-Z][A-Za-z]*\.\d+(?:\.\d+)*(?!\.?\d)(?!\w)"),
    # apostrophe-joined acronyms are one token (apostropheGold:
    # "Retour de L'U.R.S.S." — PTBLexer APOWORD includes ACRO tails)
    ("APOACRO", r"[A-Za-z]+['’](?:[A-Za-z]\.){2,}"),
    ("ACRONYM", r"(?:[A-Za-z]\.){2,}"),
    # inner-dot names: Ph.D, Mesa A.B (alpha parts joined by single dots)
    ("DOTTED", r"[A-Za-z]+(?:\.[A-Za-z]+)+"),
    # standalone leading-apostrophe clitics ('em, 'tis, 'til; bare 's after
    # a non-word token: "60-90 's") — gated on a following non-letter so
    # quoted words ("'email'") are untouched
    # leading-apostrophe assimilation "'Tain't" (whole match; the word
    # splitter re-divides it into 'T + ai + n't)
    ("TAINT", r"['’][Tt]ain['’]t(?![A-Za-z])"),
    ("CLITICTOK", r"['’‘`](?:em|tis|twas|cause|till?|s)(?![A-Za-z])"),
    # word with optional internal hyphens/slashes/apostrophes/backquotes
    # (O'Malley, anti-acquisition, Sydney-based, Mu`ammar); soft hyphens
    # (\u00AD) ride inside and are stripped from the normalized word.
    # Trailing clitics split in post-pass.
    # a letter-final word glued to a decimal/dotted number splits before
    # the number ("SPSS28.0" -> SPSS 28.0, "RM460.35" -> RM 460.35 --
    # PTBLexer {WORD_LETTER}/{LEADING_NUM} currency-prefix rule, flex:940)
    ("WORDNUM", "[" + _LETTERS + "_](?:[" + _LETTERS + "0-9_]*[" + _LETTERS
                + "])?(?=\\d+(?:[.:,]\\d+)+)"),
    # \u00b4 (acute) counts as an apostrophe inside words (PTBLexer APOS)
    ("WORD", "[" + _LETTERS + "0-9_\u00AD]+(?:[-/'\u2019`\u00b4]["
             + _LETTERS + "0-9_\u00AD]+)*(?:\\.(?!\\.))?"),
    ("MULTIPUNCT", r"[?!]+"),
    ("DASH", r"--+|—|–"),
    ("QUOTE", r"``|''|['‘’`]{2}|[\"'`‘’“”‚„]"),
    ("PUNCT", r"[^\sA-Za-z0-9]"),
]
MASTER = re.compile("|".join(f"(?P<{n}>{p})" for n, p in _RULES))

# normalization map (PTBLexer quote/dash/ellipsis normalization, default opts)
_NORM = {"‘": "`", "’": "'", "“": "``", "”": "''",
         "‚": "`", "„": "``",
         "—": "--", "–": "--", "…": "..."}
_NORM_QUOTES = {"‘", "’", "“", "”", "‚", "„"}
_NORM_DASHES = {"—", "–"}

# PTBTokenizer option surface (process/PTBTokenizer.java:61-177 subset):
#   quotes/ellipses/dashes — the CoreNLP-4.0 normalization ENUM classes
#     (quotes: latex|unicode|ascii|not_cp1252|original; ellipses/dashes:
#     unicode|ptb3|not_cp1252|original). The legacy boolean toggles remain
#     accepted and resolve to an enum (True → latex/ptb3, False →
#     not_cp1252) when the enum key is absent;
#   split_hyphenated — "Sydney-based" → Sydney - based (UD-style);
#   split_forward_slash — "and/or" → and / or (PTBLexer.flex
#     breakByHyphensSlashes FORWARD_SLASH arm; URLs and numeric
#     fractions/dates stay whole, as in the reference's lexer where URLs
#     match a different rule);
#   strict_treebank3 — the two deliberate PTB3 deviations OFF
#     (PTBTokenizer.java:152-177): (i) strict_acronym: an abbreviation at a
#     sentence end splits its period ("Corp" ".") instead of reduplicating
#     it ("Corp." "."), except "U.S."; (ii) strict_fraction: "5 7/8" splits
#     into "5" "7/8" instead of one NBSP-joined token. Also keeps informal
#     contractions whole (gonna/cannot — splitAssimilations=false).
#   strict_acronym / strict_fraction — the two halves individually.
DEFAULT_OPTIONS = {
    "normalize_quotes": True,
    "normalize_dashes": True,
    "normalize_ellipsis": True,
    "normalize_parentheses": False,  # ( → -LRB- etc. (PTB3 token forms)
    "split_hyphenated": False,
    "split_forward_slash": False,
    "strict_treebank3": False,
    # keep SGML/XML tags as single tokens (inner whitespace → NBSP) instead
    # of the fused-CleanXML default of stripping them (PTBTokenizer keeps
    # them; CleanXmlAnnotator removes them in a later stage)
    "keep_sgml_tokens": False,
    # British → American spelling rewrite of the normalized word
    # (Americanize.java via the PTBTokenizer "americanize" option)
    "americanize": False,
    # no pattern may span a newline; each line tokenizes independently
    # (PTBLexer tokenizePerLine=true)
    "tokenize_per_line": False,
    # ssplit.newlineIsSentenceBreak (WordToSentenceProcessor
    # NewlineIsSentenceBreak): "never" | "always" | "two_consecutive".
    # The U+2029 paragraph separator breaks in every mode.
    "newline_is_sentence_break": "never",
    # ssplit.isOneSentence: the whole span is one sentence (the
    # WordToSentenceProcessor null splitter)
    "ssplit_one_sentence": False,
    # CleanXmlAnnotator knobs: None → every tag is a sentence barrier
    # (this engine's fused default); a set → only those tag names break
    "sentence_ending_tags": None,
    # False → CleanXmlAnnotator strict mode: mismatched/unclosed tags raise
    "allow_flawed_xml": True,
    "strict_acronym": None,   # None → follow strict_treebank3
    "strict_fraction": None,  # None → follow strict_treebank3
    "quotes": None,           # None → normalize_quotes ? latex : not_cp1252
    "ellipses": None,         # None → normalize_ellipsis ? ptb3 : not_cp1252
    "dashes": None,           # None → normalize_dashes ? ptb3 : not_cp1252
}


_DEFAULT_RESOLVED: dict | None = None


def _resolve_options(options: dict | None) -> dict:
    global _DEFAULT_RESOLVED
    if not options:
        # default options resolve once; callers never mutate the dict
        # (per-line recursion copies before overriding)
        if _DEFAULT_RESOLVED is None:
            d = dict(DEFAULT_OPTIONS)
            _apply_option_defaults(d)
            _DEFAULT_RESOLVED = d
        return _DEFAULT_RESOLVED
    opt = dict(DEFAULT_OPTIONS, **options)
    _apply_option_defaults(opt)
    return opt


def _apply_option_defaults(opt: dict) -> None:
    if opt["quotes"] is None:
        opt["quotes"] = "latex" if opt["normalize_quotes"] else "not_cp1252"
    if opt["ellipses"] is None:
        opt["ellipses"] = "ptb3" if opt["normalize_ellipsis"] else "not_cp1252"
    if opt["dashes"] is None:
        opt["dashes"] = "ptb3" if opt["normalize_dashes"] else "not_cp1252"
    if opt["strict_acronym"] is None:
        opt["strict_acronym"] = bool(opt["strict_treebank3"])
    if opt["strict_fraction"] is None:
        opt["strict_fraction"] = bool(opt["strict_treebank3"])


# quote mapping tables per enum value (PTBLexer latexQuotes/unicodeQuotes/
# asciiQuotes). Straight " is handled contextually (opening vs closing).
_QUOTES_LATEX = {"‘": "`", "’": "'", "“": "``", "”": "''",
                 "‚": "`", "„": "``"}
_QUOTES_UNICODE = {"`": "‘", "'": "’", "``": "“", "''": "”"}
_QUOTES_ASCII = {"‘": "'", "’": "'", "`": "'", "“": '"', "”": '"',
                 "‚": "'", "„": '"',
                 "``": '"', "''": '"'}

# PTB3 bracket token forms (PTBLexer normalizeParentheses/normalizeOtherBrackets)
_PAREN_NORM = {"(": "-LRB-", ")": "-RRB-", "[": "-LSB-", "]": "-RSB-",
               "{": "-LCB-", "}": "-RCB-"}

# WordToSentenceProcessor.DEFAULT_BOUNDARY_REGEX = "\\.|[!?]+": a single
# period or a !/? run ends a sentence; an ELLIPSIS token ("...") does not
_SENT_END = re.compile(r"^(\.|[!?]+)$|^[。！？]+$")
_FOLLOWER = re.compile(r"^[\"'`)\]}’”]+$|^''$")


_PLAIN_ASCII_WORD = re.compile(r"[A-Za-z0-9]+\Z")


def _split_word(original: str, begin: int, opt: dict):
    """Post-pass on a WORD match: abbreviation periods, clitics, split table.

    Yields (word, original, begin, end) 4-tuples. ``opt`` is the resolved
    option dict — threaded explicitly so concurrent pipelines with different
    tokenize options never share state (no module-level option global).
    """
    # fast path: a plain ASCII alphanumeric word can only be transformed by
    # the SPLIT_WORDS table (every other branch needs a period, hyphen,
    # apostrophe variant, or soft hyphen); outside that table it passes
    # through verbatim — provably the same 4-tuple the full cascade yields
    if _PLAIN_ASCII_WORD.match(original) \
            and original.lower() not in SPLIT_WORDS:
        yield (original, original, begin, begin + len(original))
        return
    # soft hyphens vanish from the normalized word, stay in the original;
    # a token that is ONLY soft hyphens surfaces as "-" (ptbGold:
    # "Indo\u00ADnesian ship\u00ADping \u00AD" \u2192 Indonesian shipping -)
    if "\u00AD" in original:
        cleaned = original.replace("\u00AD", "")
        yield (cleaned if cleaned else "-",
               original, begin, begin + len(original))
        return
    lower = original.lower()
    # a word with BOTH an apostrophe and a hyphen splits at the hyphens:
    # flex {WORD}/{APOWORD} have no hyphen arm, so "ʻAbdu'l-Bahá" lexes as
    # APOWORD - WORD (apostropheGold); pure-hyphen compounds (al-Qaddafi)
    # and pure-apostrophe words (O'Malley) stay whole
    if ("-" in original.strip("-")
            and any(a in original for a in "'\u2019`\u00b4")
            and not any(c.isdigit() for c in original)):
        pos = 0
        for part in re.split(r"(-)", original):
            if part:
                yield from _split_word(part, begin + pos, opt) if part != "-" \
                    else iter([("-", "-", begin + pos, begin + pos + 1)])
                pos += len(part)
        return
    # abbreviation: keep trailing period iff known abbrev, else detach
    # (CONTEXT_ABBREVS kept here; tokenize_text re-splits them when no digit
    # follows — the context the lexer state machine sees)
    if original.endswith("."):
        if (lower in ABBREVS or lower in CONTEXT_ABBREVS) and not (
                lower in LOWER_ONLY_ABBREVS and original != lower):
            yield (original, original, begin, begin + len(original))
            return
        core = original[:-1]
        yield from _split_word(core, begin, opt)
        yield (".", ".", begin + len(core), begin + len(original))
        return
    # curly/backquote apostrophe variants hit the split table too (c’mon);
    # normalized output parts, original slices preserved by length
    if lower not in SPLIT_WORDS \
            and lower.replace("’", "'").replace("`", "'") in SPLIT_WORDS:
        lower = lower.replace("’", "'").replace("`", "'")
    if lower in SPLIT_WORDS and not opt.get("strict_treebank3"):
        parts = SPLIT_WORDS[lower]
        pos = 0
        for i, p in enumerate(parts):
            seg = original[pos : pos + len(p)] if i < len(parts) - 1 else original[pos:]
            fold = seg.lower().replace("\u2019", "'").replace("`", "'")
            if fold == p.lower():
                # keep case; curly apostrophe folds only under latex/ascii
                word = (seg.replace("\u2019", "'")
                        if opt.get("quotes") in ("latex", "ascii") else seg)
            else:
                word = p
            yield (word, seg, begin + pos, begin + pos + len(seg))
            pos += len(seg)
        return
    # clitic split: don't → do + n't ; Mary's → Mary + 's ; didn`t → did n`t.
    # ``norm`` (backquote folded to ') is for MATCHING only; emitted forms
    # come from ``disp``, which keeps backquotes verbatim — PTBLexer {APOS}
    # covers '’´ but NOT ` (ptbGold: "didn`t" → did n`t, "Mu`ammar" whole)
    norm = original.replace("’", "'").replace("`", "'").replace("´", "'")
    # the curly apostrophe folds to ' only under latex/ascii quote
    # normalization; not_cp1252/unicode/original keep the glyph verbatim
    # ("wasn’t" → was n’t in UD mode, ptbGoldSplitHyphenated)
    if opt.get("quotes") in ("latex", "ascii"):
        disp = original.replace("’", "'").replace("´", "'")
    else:
        disp = original.replace("´", "'")
    # leading-apostrophe 'tain't: "'Tain't" → 'T + ai + n't (the lexer's
    # APOWORD 't prefix composes with the ain't assimilation)
    if norm.lower().startswith("'tain") and len(norm) > 5:
        pre_orig = original[:2]
        yield (pre_orig.replace("\u2019", "'").replace("\u2018", "`"),
               pre_orig, begin, begin + 2)
        yield from _split_word(original[2:], begin + 2, opt)
        return
    # apostrophe-PREFIX forms (PTBLexer APOWORD1 prefixes th'/y'/t'/d'/ol'):
    # "Th'enchanting" → Th' + enchanting ; "y'all" → y' + all. Only these
    # lexical prefixes split — "Qur'an" / "O'Malley" stay whole.
    m_pre = re.match(r"(?i)^(th|y|t|d|ol)'(?=[A-Za-z]{3,})", norm)
    if m_pre and norm.lower() not in ("they'll", "there's", "that's",
                                      "this'll", "you'll", "you're"):
        cut = m_pre.end()
        yield (norm[:cut], original[:cut], begin, begin + cut)
        yield from _split_word(original[cut:], begin + cut, opt)
        return
    # trailing 'em clitic pronoun: "shoot'em" → shoot + 'em
    if norm.lower().endswith("'em") and len(norm) > 3:
        cut = len(norm) - 3
        yield from _split_word(original[:cut], begin, opt)
        yield (norm[cut:], original[cut:], begin + cut, begin + len(original))
        return
    for cl in CLITICS:
        if norm.lower().endswith(cl.lower()) and len(norm) > len(cl):
            stem_orig = original[: len(original) - len(cl)]
            cl_orig = original[len(original) - len(cl):]
            if cl.lower().startswith("n't"):
                yield (stem_orig, stem_orig, begin, begin + len(stem_orig))
            else:
                yield from _split_word(stem_orig, begin, opt)
            yield (disp[len(disp) - len(cl):], cl_orig,
                   begin + len(stem_orig), begin + len(original))
            return
    # normalized word form (curly apostrophes → ', backquotes kept), raw
    # original
    yield (disp, original, begin, begin + len(original))


def _norm_word(matched: str, opt: dict, raw: str) -> str:
    """Apply the quote/dash/ellipsis normalization ENUM for one matched
    punctuation token (PTBTokenizer.java quotes/ellipses/dashes classes).
    ``raw`` is the pre-cp1252 slice (the 'original' enum value)."""
    if len(matched) == 2 and all(c in "'‘’`" for c in matched) \
            and matched not in ("``", "''"):
        # mixed 2-char quote runs (QUOTES{1,2}: "’'" is ONE token) normalize
        # per character (hyphenGold: ''Charlie’' → `` Charlie '')
        q = opt["quotes"]
        if q == "latex":
            return "".join(_QUOTES_LATEX.get(c, c) for c in matched)
        if q == "unicode":
            return "".join(_QUOTES_UNICODE.get(c, c) for c in matched)
        if q == "ascii":
            return "".join(_QUOTES_ASCII.get(c, c) for c in matched)
        return raw if q == "original" else matched
    if matched in _NORM_QUOTES or matched in ("`", "'", "``", "''"):
        q = opt["quotes"]
        if q == "latex":
            return _QUOTES_LATEX.get(matched, matched)
        if q == "unicode":
            return _QUOTES_UNICODE.get(matched, matched)
        if q == "ascii":
            return _QUOTES_ASCII.get(matched, matched)
        if q == "original":
            return raw
        return matched  # not_cp1252: cp1252 already remapped globally
    if matched in "‐‑‒" and matched:
        # U+2010..U+2012 hyphen variants → ASCII hyphen under ptb3 dashes
        # (LexerUtils HYPHENS class)
        return "-" if opt["dashes"] == "ptb3" else (
            raw if opt["dashes"] == "original" else matched)
    if matched in _NORM_DASHES or set(matched) == {"-"}:
        d = opt["dashes"]
        if d == "ptb3":
            # any hyphen run of 2+ normalizes to the PTB double hyphen
            # ("---" → "--", LexerUtils.handleDashes)
            return "--" if (matched in _NORM_DASHES
                            or len(matched) >= 2) else matched
        if d == "unicode":
            return "—" if matched in ("--", "---") else matched
        if d == "original":
            return raw
        return matched
    if matched == "…" or set(matched) == {"."}:
        e = opt["ellipses"]
        if e == "ptb3":
            return "..." if matched == "…" else matched
        if e == "unicode":
            return "…" if matched.startswith("..") else matched
        if e == "original":
            return raw
        return matched
    return _NORM.get(matched, matched)


# hyphen-compound exceptions that stay WHOLE under splitHyphenated
# (PTBLexer.flex:641-645 HTHINGEXCEPTION{PREFIXED,SUFFIXED,WHOLE}, %caseless)
_HTHING_PREFIXES = ("e|a|u|x|agro|ante|anti|arch|be|bi|bio|co|counter|cross|"
                    "cyber|de|eco|ex|extra|inter|intra|macro|mega|micro|mid|"
                    "mini|multi|neo|non|over|pan|para|peri|post|pre|pro|"
                    "pseudo|quasi|re|semi|sub|super|tri|ultra|un|uni|vice")
_HTHING_SUFFIXES = ("esque|ette|fest|fold|gate|itis|less|most|o-torium|rama|"
                    "wise")
_HTHING_EXC_RE = re.compile(
    r"(?i)(?:(?:" + _HTHING_PREFIXES + r")(?:-[^\W_]+)+"
    r"|[^\W_][\w.,]*-(?:" + _HTHING_SUFFIXES + r")(?:s|es|d|ed)?"
    r"|(?:mm-hm|mm-mm|o-kay|uh-huh|uh-oh)(?:s|es|d|ed)?)")

def _split_on(tokens, cls: str):
    """breakByHyphensSlashes post-pass (PTBLexer.flex:357-374): internal
    separators of class ``cls`` become their own tokens ("Sydney-based" →
    Sydney - based; "and/or" → and / or). Number-bearing tokens (ranges,
    fractions, dates) and URL-shaped tokens stay whole — in the reference
    those match different lexer rules and never reach this split."""
    rx = re.compile(f"([{cls}])")
    out = []
    skip_next = False
    for ti, (w, o, b, e) in enumerate(tokens):
        if skip_next:
            skip_next = False
            continue
        # decade clitic re-attaches across the split: "60-90's" → 60 - 90's
        # (flex APOWORD [1-9]0{APOS}s wins over the range under UD)
        nxt = tokens[ti + 1] if ti + 1 < len(tokens) else None
        if ("-" in cls and nxt is not None and nxt[0] in ("'s", "’s")
                and nxt[2] == e
                and re.fullmatch(r"\d+-[1-9]0", w)):
            d1, d2 = w.split("-")
            out.append((d1, d1, b, b + len(d1)))
            out.append(("-", "-", b + len(d1), b + len(d1) + 1))
            out.append((d2 + nxt[0], o[len(d1) + 1:] + nxt[1],
                        b + len(d1) + 1, nxt[3]))
            skip_next = True
            continue
        core = w[1:-1]
        splittable = (any(ch in core for ch in cls.replace("\\", ""))
                      and "://" not in w and len(w) == e - b
                      and not w.startswith("<")   # SGML tags stay whole
                      and _FILENAME_RE.fullmatch(w) is None  # a-b.jpg whole
                      # word-shaped only (emoticons like ¯\_(ツ)_/¯ whole)
                      and re.fullmatch(r"[\w\u00AD'’`´:.,/-]+", w) is not None
                      and set(w) != {"-"}          # --- is a dash, not a compound
                      # phone/SSN/date digit shapes stay (908-333-4444,
                      # 555-55-5555, 11-05-99 — flex DATE/number rules are
                      # never fed to breakByHyphensSlashes)
                      and re.fullmatch(r"\d{1,6}(?:[-/]\d{1,6}){2,}", w) is None
                      and re.fullmatch(r"\d{3}-\d{4}", w) is None  # 555-0199
                      # ISO 8601 datetimes stay whole (mtGoldUD)
                      and re.fullmatch(r"\d{4}-\d{2}-\d{2}T[\d:.]+", w) is None
                      and re.fullmatch(r"\d+/\d+", w) is None   # fractions
                      and re.fullmatch(r"\d+-\d+/\d+", w) is None  # 5-1/4
                      and _HTHING_EXC_RE.fullmatch(w) is None)  # anti-X, o-kay
        if splittable:
            pos = b
            for part in rx.split(w):
                if part:
                    out.append((part, part, pos, pos + len(part)))
                    pos += len(part)
        else:
            out.append((w, o, b, e))
    return out


def _split_hyphenated(tokens):
    return _split_on(tokens, "-")


def _sentend_follows(s: str, i: int) -> bool:
    """SENTEND1 lookahead (PTBLexer.flex:574): whitespace then
    (whitespace | uppercase | markup), or end of text."""
    rest = s[i:]
    if rest.strip() == "":
        return True
    if not rest[0].isspace():
        return False
    c = rest[1] if len(rest) > 1 else ""
    return c == "" or c.isspace() or c.isupper() or c == "<"


def _abbrev_sentence_end(tokens, barriers, norm_text, opt):
    """Sentence-final abbreviation handling (processAbbrev1/processAbbrev2,
    PTBLexer.flex:528-566):

    - ABBREV1 ("Corp.", months, …) followed by SENTEND1 → by default the
      period is REDUPLICATED ("Corp." + "." — the deliberate PTB3
      deviation); under strictAcronym the period splits off ("Corp" + ".").
      Exception: "U.S." always keeps its period. "Pty. Ltd." stays
      sentence-internal (the lexer's special case).
    - ABBREV2 (titles/acronyms like "U.S.A.") only when the NEXT token is a
      known sentence starter (flex:1124 list) or markup: 2-letter forms
      ("I.") always split; otherwise same dup/strict choice.

    The reduplicated period is zero-width (original "" at the abbreviation's
    end offset) so the invertibility invariant — originals at offsets
    reconstruct the input — is untouched; the reference does the same via an
    empty OriginalTextAnnotation on the re-emitted period."""
    out = []
    shifts = []  # positions (old index) that gained one extra token
    n = len(tokens)
    for i, (w, o, b, e) in enumerate(tokens):
        lw = w.lower()
        is_a1 = lw in _ABBREV1 and w.endswith(".")
        is_a2 = (not is_a1 and w.endswith(".")
                 and (lw in _ABBREV2_TITLES or _ACRO1_RE.fullmatch(w)))
        fire = False
        if is_a1 and _sentend_follows(norm_text, e):
            nxt = tokens[i + 1][0] if i + 1 < n else ""
            # "(pty|pte|pvt|co)\./{SPACE}(ltd|lim|llc)" special case
            # (PTBLexer.flex:1149, %caseless): company-form abbreviations
            # before Ltd/Limited/LLC never end a sentence
            if not (lw in ("pty.", "pte.", "pvt.", "co.")
                    and nxt.lower().startswith(("ltd", "lim", "llc"))):
                fire = True
        elif is_a2:
            nxt = tokens[i + 1][0] if i + 1 < n else ""
            if nxt in _SENT_STARTERS or (i + 1) in barriers:
                fire = True
        if not fire:
            out.append((w, o, b, e))
            continue
        strict = opt["strict_acronym"] and w != "U.S."
        if len(w) == 2 or strict:
            # split: "Corp" + "." (strictTreebank3 / single-letter acronym)
            out.append((w[:-1], o[:-1], b, e - 1))
            out.append((".", ".", e - 1, e))
        else:
            # reduplicate: "Corp." + zero-width "."
            out.append((w, o, b, e))
            out.append((".", "", e, e))
        shifts.append(i)
    if shifts:
        barriers = {x + sum(1 for p in shifts if p < x) for x in barriers}
    return out, barriers


def tokenize_text_with_barriers(text: str, options: dict | None = None):
    """Tokenize one text span → (tokens, barriers) where tokens are
    (word, original, begin, end) and barriers is the set of token indices
    at which markup forced a sentence break (CleanXML: tags are excluded
    from tokens, preserved positionally, and break sentences).

    ``word`` is the normalized form; ``original`` is the raw slice of the
    input (invertible: originals + offsets reconstruct the span exactly)."""
    opt = _resolve_options(options)
    if opt.get("tokenize_per_line"):
        # PTBLexer tokenizePerLine=true: no pattern (SGML tag, abbreviation
        # context, acronym reduplication, …) may span a newline — each line
        # tokenizes independently, offsets shifted back into the whole text.
        sub = dict(opt, tokenize_per_line=False)
        out: list[tuple[str, str, int, int]] = []
        barriers: set[int] = set()
        pos = 0
        for line in text.split("\n"):
            toks, bars = tokenize_text_with_barriers(line, sub)
            base = len(out)
            out.extend((w, o, b + pos, e + pos) for w, o, b, e in toks)
            barriers.update(base + x for x in bars)
            pos += len(line) + 1
        return out, barriers
    # cp1252 control-range normalization (1:1, offsets preserved); raw text
    # still supplies the originals
    norm_text = _CP1252_RE.sub(lambda m: CP1252[m.group()], text)
    out: list[tuple[str, str, int, int]] = []
    barriers: set[int] = set()
    tag_stack: list[str] = []
    for m in MASTER.finditer(norm_text):
        kind = m.lastgroup
        matched = m.group()
        raw = text[m.start():m.end()]
        if kind == "XMLTAG":
            if opt.get("keep_sgml_tokens"):
                out.append((re.sub("[ \r\n]", " ", matched), raw,
                            m.start(), m.end()))
                barriers.add(len(out))
                continue
            # CleanXmlAnnotator semantics: maintain the open-tag stack for
            # flaw detection; break sentences at every tag (this engine's
            # fused default) or only at ``sentence_ending_tags``
            inner = matched.strip("<>/ ")
            tag_name = re.split(r"[\s/>]", inner, 1)[0].lower()
            if matched.startswith("</"):
                if tag_stack and tag_stack[-1] == tag_name:
                    tag_stack.pop()
                elif not opt.get("allow_flawed_xml", True):
                    raise ValueError(
                        f"mismatched close tag </{tag_name}> "
                        f"(CleanXmlAnnotator strict mode)")
                elif tag_name in tag_stack:
                    while tag_stack and tag_stack[-1] != tag_name:
                        tag_stack.pop()
                    if tag_stack:
                        tag_stack.pop()
            elif not matched.endswith("/>") and not matched.startswith("<!") \
                    and not matched.startswith("<?"):
                tag_stack.append(tag_name)
            se = opt.get("sentence_ending_tags")
            if se is None or tag_name in se:
                barriers.add(len(out))
            continue
        if matched == "\ufeff" or (len(matched) == 1
                                   and "\ud800" <= matched <= "\udfff"):
            # byte-order mark is deleted outright (PTBTokenizerTest
            # hyphenGold: BOM-led input starts at the first real token);
            # an UNPAIRED surrogate half is likewise dropped, not crashed on
            # (ptbGold "half codepoint" cases)
            continue
        if kind in ("WORD", "TAINT"):
            # words split on NORMALIZED text; originals re-sliced from the
            # raw input at the same offsets (1:1 mapping → invertible)
            out.extend((w, text[b:e], b, e)
                       for w, _, b, e in _split_word(matched, m.start(), opt))
        elif kind == "URL" and matched.endswith("."):
            core = matched[:-1]
            out.append((core, core, m.start(), m.end() - 1))
            out.append((".", ".", m.end() - 1, m.end()))
        elif kind == "SPACEDOTS":
            el = opt["ellipses"]
            word = "..." if el == "ptb3" else "\u2026" if el == "unicode" else raw
            if matched.count(".") >= 4:
                # 4+ dots = ellipsis + the sentence-final period
                # (PTBTokenizerTest "First sentence . . . . Second" gold)
                if el not in ("ptb3", "unicode"):
                    word = raw[:-1].rstrip()
                out.append((word, text[m.start():m.end() - 1],
                            m.start(), m.end() - 1))
                out.append((".", ".", m.end() - 1, m.end()))
            else:
                out.append((word, raw, m.start(), m.end()))
        elif kind == "ELLIPSIS" and set(matched) == {"."} \
                and len(matched) >= 4:
            # "sentence...." \u2192 "..." + "." (ellipsis, then the terminator)
            el = opt["ellipses"]
            word = ("\u2026" if el == "unicode"
                    else matched[:-1] if el == "original" else "...")
            out.append((word, text[m.start():m.end() - 1],
                        m.start(), m.end() - 1))
            out.append((".", ".", m.end() - 1, m.end()))
        elif kind == "SEPNUM":
            # thin/narrow-NBSP/soft-hyphen digit separators vanish from the
            # normalized number, stay in the original (invertible)
            out.append((re.sub("[\u2009\u202f\u00ad]", "", matched), raw,
                        m.start(), m.end()))
        elif kind == "SPACEDFRAC":
            # "5 7/8" — one NBSP-joined token (normalizeSpace), or two
            # tokens under strictFraction (PTBTokenizer.java:152-171)
            if opt["strict_fraction"]:
                whole = re.split(r"[ \u00A0]", matched, maxsplit=1)[0]
                out.append((whole, text[m.start():m.start() + len(whole)],
                            m.start(), m.start() + len(whole)))
                fb = m.start() + len(whole) + 1
                out.append((norm_text[fb:m.end()], text[fb:m.end()], fb, m.end()))
            else:
                out.append((matched.replace(" ", "\u00A0"), raw,
                            m.start(), m.end()))
        else:
            word = _norm_word(matched, opt, raw)
            if kind == "PUNCT" and opt.get("normalize_parentheses") \
                    and matched in _PAREN_NORM:
                word = _PAREN_NORM[matched]
            if kind == "EMOTICON" and opt.get("normalize_parentheses"):
                # parens INSIDE smileys normalize too (":(" → ":-LRB-" —
                # LexerUtils.pennNormalizeParens in the SMILEY action)
                word = "".join(_PAREN_NORM.get(c, c) for c in word)
            if kind == "CLITICTOK":
                word = matched.replace("\u2019", "'").replace("\u2018", "`")
            if kind == "AMPENT":
                word = "&"  # &amp; \u2192 & (normalizeAmpersandEntity)
            if kind == "LTGTENT":
                word = "<" if matched[1] in "Ll" else ">"
            if kind == "QUOTE" and matched == "'" \
                    and opt["quotes"] in ("latex", "unicode") \
                    and (m.start() == 0
                         or norm_text[m.start() - 1].isspace()
                         or norm_text[m.start() - 1] in "([{") \
                    and norm_text[m.end():m.end() + 1].isalpha() \
                    and not re.match(r"(?:em|till?|cause|twixt)[A-Za-z]",
                                     norm_text[m.end():m.end() + 7]):
                # a straight single quote OPENING a word is an open-quote
                # (latex: `) \u2014 except before APOWORD3 tails (em/til/cause/
                # twixt + letters: "'email'"), where the lexer leaves '
                # (PTBLexer.flex:963-976)
                word = "`" if opt["quotes"] == "latex" else "\u2018"
            if kind == "QUOTE" and matched in ('"', "''") \
                    and opt["quotes"] in ("latex", "unicode"):
                # straight double quote is directional: ``/\u201c if opening
                # else ''/\u201d
                prev_sp = m.start() == 0 or norm_text[m.start() - 1].isspace() \
                    or norm_text[m.start() - 1] in "([{"
                word = ("``" if prev_sp else "''") if opt["quotes"] == "latex" \
                    else ("\u201c" if prev_sp else "\u201d")
            out.append((word, raw, m.start(), m.end()))
    # single-initial merge: a lone capital letter + glued period re-joins
    # into one token when a capitalized word follows ("I met A. I. Markov" —
    # PTBLexer ACRO = [A-Za-z](\.[A-Za-z])* covers single initials; the
    # ABBREV2 sentence-starter pass below re-splits "He got an A. The …")
    merged: list[tuple[str, str, int, int]] = []
    drops: list[int] = []
    i = 0
    while i < len(out):
        w, o, b, e = out[i]
        if (len(w) == 1 and w.isupper() and w.isalpha()
                and i + 1 < len(out) and out[i + 1][0] == "."
                and out[i + 1][1] == "." and out[i + 1][2] == e
                and (i + 2 == len(out)  # EOF: "Pius X." keeps X. (tweetGold)
                     or out[i + 2][0] not in _SENT_STARTERS
                     # a starter word IMMEDIATELY followed by a glued "."
                     # is itself an initial ("B. A."), not a new sentence —
                     # the flex lookahead requires space/?! after it
                     or (i + 3 < len(out) and out[i + 3][0] == "."
                         and out[i + 3][2] == out[i + 2][3]))
                and (i + 2 == len(out) or out[i + 2][0][:1].isalnum())
                and i + 1 not in barriers):
            merged.append((w + ".", o + out[i + 1][1], b, out[i + 1][3]))
            drops.append(i + 1)
            i += 2
            continue
        # "Alex\./{SPACENL}Brown" (PTBLexer.flex:1184): the brokerage
        # "Alex. Brown" keeps its period; any other "Alex." splits
        if (w == "Alex" and i + 1 < len(out) and out[i + 1][0] == "."
                and out[i + 1][2] == e
                and i + 2 < len(out) and out[i + 2][0] == "Brown"):
            merged.append((w + ".", o + out[i + 1][1], b, out[i + 1][3]))
            drops.append(i + 1)
            i += 2
            continue
        merged.append((w, o, b, e))
        i += 1
    if drops:
        barriers = {x - sum(1 for p in drops if p < x) for x in barriers}
        out = merged
    else:
        out = merged
    # context gate for ambiguous abbreviations: "No. 24" keeps the period,
    # "I like Art. And…" detaches it (sentence boundary). Split positions are
    # recorded in INPUT space and all barriers remapped once at the end —
    # shifting barriers inside the loop while comparing against unshifted
    # input indices moves a barrier too far after 2+ splits.
    gated: list[tuple[str, str, int, int]] = []
    split_pts: list[int] = []
    for i, (w, o, b, e) in enumerate(out):
        if w.lower() in CONTEXT_ABBREVS:
            nxt = out[i + 1][0] if i + 1 < len(out) else ""
            keep = nxt[:1].isdigit() or (
                w.lower() in _CAP_CONTEXT_ABBREVS
                and nxt.startswith(_ABBREVSN_PLACES))
            if not keep:
                gated.append((w[:-1], o[:-1], b, e - 1))
                gated.append((".", ".", e - 1, e))
                split_pts.append(i)
                continue
        gated.append((w, o, b, e))
    if split_pts:
        barriers = {x + sum(1 for p in split_pts if p < x) for x in barriers}
    gated, barriers = _abbrev_sentence_end(gated, barriers, norm_text, opt)
    if opt.get("split_hyphenated") and opt.get("split_forward_slash"):
        gated = _split_on(gated, "-/")
    elif opt.get("split_hyphenated"):
        gated = _split_on(gated, "-")
    elif opt.get("split_forward_slash"):
        gated = _split_on(gated, "/")
    if opt.get("americanize"):
        gated = [(americanize(w), o, b, e) for w, o, b, e in gated]
    if tag_stack and not opt.get("allow_flawed_xml", True):
        raise ValueError(f"unclosed tags at end of text: {tag_stack} "
                         f"(CleanXmlAnnotator strict mode)")
    return gated, barriers


def tokenize_text(text: str, options: dict | None = None) -> list[tuple[str, str, int, int]]:
    """Tokenize one text span → list of (word, original, begin, end)."""
    return tokenize_text_with_barriers(text, options)[0]


def annotate_doc(spans: Iterable[dict],
                 options: dict | None = None) -> tuple[list[dict], list[dict]]:
    """Tokenize + ssplit one document's span list. Media spans are barriers."""
    tokens: list[dict] = []
    sentences: list[dict] = []
    sent_start = 0

    def close_sentence(span_idx: int):
        nonlocal sent_start
        if len(tokens) > sent_start:
            sidx = len(sentences)
            for t in tokens[sent_start:]:
                t["sent"] = sidx
            sentences.append(
                {"sent_idx": sidx, "start_tok": sent_start,
                 "end_tok": len(tokens), "span_idx": span_idx}
            )
            sent_start = len(tokens)

    for span in spans:
        kind = span["kind"]
        if kind != "text" or not span["text"]:
            close_sentence(span["offset"])  # media barrier ends open sentence
            continue
        span_idx = span["offset"]
        opt = _resolve_options(options)
        nl_mode = opt["newline_is_sentence_break"]
        one_sentence = opt["ssplit_one_sentence"]
        text = span["text"]
        toks, barriers = tokenize_text_with_barriers(text, options)
        i = 0
        prev_end = 0
        while i < len(toks):
            if i in barriers:
                close_sentence(span_idx)  # markup forces a sentence break
            w, orig, b, e = toks[i]
            # inter-token whitespace drives the newline strategies
            # (WordToSentenceProcessor NewlineIsSentenceBreak) and the
            # always-breaking U+2029 paragraph separator
            if i > 0:
                gap = text[prev_end:b]
                if "\u2029" in gap or (not one_sentence and (
                        (nl_mode == "always" and "\n" in gap)
                        or (nl_mode == "two_consecutive"
                            and gap.count("\n") >= 2))):
                    close_sentence(span_idx)
            prev_end = e
            tokens.append(
                {"idx": len(tokens), "word": w, "original": orig,
                 "begin": b, "end": e, "span_idx": span_idx, "sent": -1}
            )
            if not one_sentence and _SENT_END.match(w):
                # attach boundary followers (close quotes / brackets) left
                while i + 1 < len(toks) and _FOLLOWER.match(toks[i + 1][0]):
                    i += 1
                    w2, o2, b2, e2 = toks[i]
                    tokens.append(
                        {"idx": len(tokens), "word": w2, "original": o2,
                         "begin": b2, "end": e2, "span_idx": span_idx, "sent": -1}
                    )
                close_sentence(span_idx)
            i += 1
        close_sentence(span_idx)  # span end is also a boundary
    return tokens, sentences


def tokenize_docs(df: DataFrame, options: dict | None = None) -> DataFrame:
    """DataFrame transform: docs(doc_id, spans, ...) → + tokens, sentences.
    Null spans and null span structs give no tokens.

    ``options``: PTBTokenizer option subset (DEFAULT_OPTIONS keys)."""
    from corenlp_spark.plans.fused import map_docs, tokenize_phase

    def tokenize(pdf: pd.DataFrame) -> dict[str, list]:
        docs = tokenize_phase(pdf["spans"], options)
        return {"tokens": [t for t, _ in docs], "sentences": [s for _, s in docs]}

    return map_docs(df, {"tokens": TOKENS_TYPE, "sentences": SENTENCES_TYPE},
                    tokenize)


# ---------------------------------------------------------------------------
# PTB → text untokenization (approximate inverse of the tokenizer).
# Behavioral reference (re-expressed): process/PTB2TextLexer.flex:55-140 and
# PTBTokenizer.ptb2Text — a longest-match rule cascade with an INQUOTE state
# driving straight-quote direction.
# ---------------------------------------------------------------------------

_P2T_SP = " "
_P2T_DQUOT = r'(?:"|&\ ?(?:amp\ ?;\ ?)?quot\ ?;?)'
_P2T_LETTER = r"[^\W\d_]"
_P2T_ALNUM = r"[^\W_]"
# function words after " - " (or speech verbs before it) that keep the
# hyphen spaced instead of collapsing into a compound
_P2T_NOJOIN = (
    "in|as|at|for|therefore|so|thus|they|who|which|and|such|including|"
    "according|to|the|a|one|that|this|those|these|some|she|he|we|you|on|"
    "before|after|there|here|are|is|was|were|has|have|should|would|"
    "AFP|Reuters|News"
)
_P2T_HYPHEN_KEEP = (
    rf"(?:{_P2T_ALNUM}+\ -\ (?:{_P2T_NOJOIN})"
    rf"|(?:said|says|say|saying|headline)\ -\ {_P2T_ALNUM}+)"
)
_P2T_QUOTE_KEEP = rf"{_P2T_ALNUM}+\ '(?:cause|n'|em|till?|[2-9]0s)"

#: (state, pattern, replacement, next_state) — state None = both states;
#: replacement None = matched text verbatim, "~strip" = drop spaces,
#: "~lstrip" = drop the leading space.  Order = flex rule order (ties on
#: match length go to the earlier rule; otherwise longest match wins).
_P2T_RULES: list[tuple[str | None, str, str | None, str | None]] = [
    ("INITIAL", rf"{_P2T_DQUOT}\ {_P2T_DQUOT}\ (?={_P2T_LETTER})", '" "', "INQUOTE"),
    ("INITIAL", rf"{_P2T_DQUOT}\ (?={_P2T_LETTER})", '"', "INQUOTE"),
    ("INITIAL", _P2T_DQUOT, '"', "INQUOTE"),
    (None, rf"\ {_P2T_DQUOT}(?=\n|$)", '"', None),
    ("INQUOTE", rf"\ {_P2T_DQUOT}", '"', "INITIAL"),
    ("INQUOTE", _P2T_DQUOT, '"', "INITIAL"),
    (None, rf"{_P2T_HYPHEN_KEEP}(?=\ |\n|$)", None, None),
    (None, rf"{_P2T_QUOTE_KEEP}(?=\ |\n|$)", None, None),
    (None, rf"{_P2T_ALNUM}+(?:\ -\ {_P2T_LETTER}+){{1,3}}", "~strip", None),
    (None, r"&\ ?lt\ ?;", "<", None),
    (None, r"&\ ?gt\ ?;", ">", None),
    (None, r"&\ ?amp\ ?;?", "&", None),
    (None, r"&", "&", None),
    (None, r"can\ not", "cannot", None),
    (None, r"[a-z]{3,30}\ '\ s(?=\ )", "~strip", None),
    (None, r"\ ''", '"', None),
    (None, r"``\ ", '"', None),
    (None, r"\ (?:\.\.\.|[.:,;?!])", "~lstrip", None),
    (None, r"`\ ", "`", None),
    (None, r"\ '[^\n]", "~lstrip", None),
    (None, r"\ n't", "n't", None),
    (None, r"\ \??\\/", "/", None),
    (None, r"\\/", "/", None),
    (None, r"(?:-LRB-|\()\ ", "(", None),
    (None, r"\ (?:-RRB-|\))", ")", None),
    (None, r"(?:-LCB-|\{)\ ", "{", None),
    (None, r"\ (?:-RCB-|\})", "}", None),
    (None, r"\ %", "%", None),
    (None, r"\$\ ", "$", None),
    (None, r'[^ \n\\/&"]+', None, None),
    (None, r"/", None, None),
    (None, r"\\", None, None),
    (None, r"\ ", None, None),
    (None, r"\n", "\n", "INITIAL"),
]

_P2T_COMPILED = [
    (st, re.compile(pat, re.IGNORECASE), rep, nxt)
    for st, pat, rep, nxt in _P2T_RULES
]


def ptb2_text(ptb: str | list[str]) -> str:
    """Untokenize PTB-style tokens back to approximately normal text.

    Accepts either a space-joined PTB token string (the reference API shape)
    or a token list. Quote direction, bracket/clitic/punctuation attachment,
    entity unescaping, and spaced-hyphen compound collapsing follow the
    reference lexer; see the rule table above."""
    if not isinstance(ptb, str):
        ptb = " ".join(ptb)
    out: list[str] = []
    state = "INITIAL"
    i = 0
    n = len(ptb)
    while i < n:
        best: tuple[int, int] | None = None  # (length, rule_idx)
        for idx, (st, rx, _rep, _nxt) in enumerate(_P2T_COMPILED):
            if st is not None and st != state:
                continue
            m = rx.match(ptb, i)
            if m and (best is None or m.end() - i > best[0]):
                best = (m.end() - i, idx)
        if best is None:  # unmatchable byte: emit and advance
            out.append(ptb[i])
            i += 1
            continue
        length, idx = best
        _st, _rx, rep, nxt = _P2T_COMPILED[idx]
        text = ptb[i:i + length]
        if rep is None:
            out.append(text)
        elif rep == "~strip":
            out.append(text.replace(" ", ""))
        elif rep == "~lstrip":
            out.append(text[1:])
        else:
            out.append(rep)
        if nxt is not None:
            state = nxt
        i += length
    return "".join(out)


# ---------------------------------------------------------------------------
# British → American spelling conversion (the PTBTokenizer "americanize"
# option). Behavioral reference (re-expressed): process/Americanize.java:
# exact-map lookup first (timex capitalization, then spelling table), then
# an ordered suffix-pattern cascade with an -our exception list.
# ---------------------------------------------------------------------------

_AMER_CONVERTERS = {
    "anaesthetic": "anesthetic", "analogue": "analog", "analogues": "analogs",
    "analyse": "analyze", "analysed": "analyzed", "analysing": "analyzing",
    "armoured": "armored", "cancelled": "canceled", "cancelling": "canceling",
    "capitalise": "capitalize", "capitalised": "capitalized",
    "capitalisation": "capitalization", "centre": "center",
    "chimaeric": "chimeric", "coloured": "colored", "colouring": "coloring",
    "colourful": "colorful", "defence": "defense", "Defence": "Defense",
    "discoloured": "discolored", "discolouring": "discoloring",
    "encyclopaedia": "encyclopedia", "endeavoured": "endeavored",
    "endeavouring": "endeavoring", "favoured": "favored",
    "favouring": "favoring", "favourite": "favorite",
    "favourites": "favorites", "fibre": "fiber", "fibres": "fibers",
    "finalise": "finalize", "finalised": "finalized",
    "finalising": "finalizing", "flavoured": "flavored",
    "flavouring": "flavoring", "grey": "gray", "homologue": "homolog",
    "homologues": "homologs", "honoured": "honored", "honouring": "honoring",
    "honourable": "honorable", "humoured": "humored", "humouring": "humoring",
    "kerb": "curb", "labelled": "labeled", "labelling": "labeling",
    "Labour": "Labor", "laboured": "labored", "labouring": "laboring",
    "leant": "leaned", "learnt": "learned", "localise": "localize",
    "localised": "localized", "manoeuvre": "maneuver",
    "manoeuvres": "maneuvers", "maximise": "maximize",
    "maximised": "maximized", "maximising": "maximizing", "meagre": "meager",
    "minimise": "minimize", "minimised": "minimized",
    "minimising": "minimizing", "modernise": "modernize",
    "modernised": "modernized", "modernising": "modernizing",
    "neighbourhood": "neighborhood", "neighbourhoods": "neighborhoods",
    "oestrogen": "estrogen", "oestrogens": "estrogens",
    "organisation": "organization", "organisations": "organizations",
    "penalise": "penalize", "penalised": "penalized",
    "popularise": "popularize", "popularised": "popularized",
    "popularises": "popularizes", "popularising": "popularizing",
    "practise": "practice", "practised": "practiced",
    "pressurise": "pressurize", "pressurised": "pressurized",
    "pressurises": "pressurizes", "pressurising": "pressurizing",
    "realise": "realize", "realised": "realized", "realising": "realizing",
    "realises": "realizes", "recognise": "recognize",
    "recognised": "recognized", "recognising": "recognizing",
    "recognises": "recognizes", "rumoured": "rumored",
    "rumouring": "rumoring", "savoured": "savored", "savouring": "savoring",
    "theatre": "theater", "theatres": "theaters", "titre": "titer",
    "titres": "titers", "travelled": "traveled", "travelling": "traveling",
}

_AMER_TIMEX = {
    m: m.capitalize()
    for m in ("january february april june july august september october "
              "november december monday tuesday wednesday thursday friday "
              "saturday sunday").split()
}  # not march/may — they are common words in lowercase

_AMER_OUR_EXCEPTIONS = re.compile(
    "abatjour|beflour|bonjour|calambour|carrefour|cornflour|contour|"
    "de[tv]our|dortour|dyvour|downpour|giaour|glamour|holour|inpour|outpour|"
    "pandour|paramour|pompadour|recontour|repour|ryeflour|sompnour|"
    "tambour|troubadour|tregetour|velour"
)

_AMER_PATS: list[tuple[re.Pattern, str, re.Pattern | None]] = [
    (re.compile(r"haem(at)?o"), r"hem\1o", None),
    (re.compile(r"aemia$"), "emia", None),
    (re.compile(r"([lL])eukaem"), r"\1eukem", None),
    (re.compile(r"programme(s?)$"), r"program\1", None),
    (re.compile(r"^([a-z]{3,})our(s?)$"), r"\1or\2", _AMER_OUR_EXCEPTIONS),
]


def americanize(word: str, capitalize_timex: bool = True) -> str:
    """British → American spelling (Americanize.java semantics)."""
    if len(word) < 4:  # MINIMUM_LENGTH_CHANGED
        return word
    if capitalize_timex:
        out = _AMER_TIMEX.get(word)
        if out is not None:
            return out
    out = _AMER_CONVERTERS.get(word)
    if out is not None:
        return out
    if len(word) < 6:  # MINIMUM_LENGTH_PATTERN_MATCH
        return word
    for pat, rep, ex in _AMER_PATS:
        if pat.search(word):
            if ex is not None and ex.search(word):
                continue
            return pat.sub(rep, word)
    return word


# ---------------------------------------------------------------------------
# Whitespace tokenizer (the "tokenize.whitespace=true" pipeline option).
# Behavioral reference (re-expressed): process/WhitespaceTokenizer.java —
# tokens are maximal runs of non-whitespace; Java's Character.isWhitespace
# excludes the non-breaking spaces (U+00A0/U+2007/U+202F), so
# "(800) 326-1456" stays ONE token while U+3000 splits. With
# ``tokenize_nls`` each newline yields a "*NL*" token.
# ---------------------------------------------------------------------------

_NONBREAKING = "\u00a0\u2007\u202f"


def whitespace_tokenize(text: str, tokenize_nls: bool = False
                        ) -> list[tuple[str, str, int, int]]:
    """Whitespace tokenization → (word, original, begin, end) tuples."""
    out: list[tuple[str, str, int, int]] = []
    i = 0
    n = len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            if tokenize_nls:
                out.append(("*NL*", "\n", i, i + 1))
            i += 1
            continue
        if c.isspace() and c not in _NONBREAKING:
            i += 1
            continue
        j = i
        while j < n and not (text[j].isspace()
                             and text[j] not in _NONBREAKING):
            j += 1
        out.append((text[i:j], text[i:j], i, j))
        i = j
    return out
