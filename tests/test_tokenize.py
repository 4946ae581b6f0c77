"""Golden tokenization + sentence-split cases.

Ported behaviors from ``test/src/edu/stanford/nlp/process/PTBTokenizerTest.java:24-60``
and ``process/WordToSentenceProcessor.java:76-131`` (see FIXTURES.md §2-3).
"""

from corenlp_spark.operators.tokenize import annotate_doc, tokenize_text

GOLDEN = [
    ("This is a sentence.", ["This", "is", "a", "sentence", "."]),
    ("Gimme a phone, I'm gonna call.",
     ["Gim", "me", "a", "phone", ",", "I", "'m", "gon", "na", "call", "."]),
    ('"John & Mary\'s dog," Jane thought (to herself).',
     ["``", "John", "&", "Mary", "'s", "dog", ",", "''", "Jane",
      "thought", "(", "to", "herself", ")", "."]),
    ("I said at 4:45pm.", ["I", "said", "at", "4:45", "pm", "."]),
    ("You paid US$170,000?!", ["You", "paid", "US$", "170,000", "?!"]),
    ("Here is one: http://google.com.",
     ["Here", "is", "one", ":", "http://google.com", "."]),
    ("I'm happy ^_^", ["I", "'m", "happy", "^_^"]),
    ("I wasn’t really ... well", ["I", "was", "n't", "really", "...", "well"]),
    ("anti-acquisition front", ["anti-acquisition", "front"]),
    ("The Sydney-based Creative Pack Pty. Ltd. shipped boxes.",
     ["The", "Sydney-based", "Creative", "Pack", "Pty.", "Ltd.", "shipped", "boxes", "."]),
    ("don't", ["do", "n't"]),
    ("O'Malley", ["O'Malley"]),
    ("U.S. policy", ["U.S.", "policy"]),
    ("the 44th President", ["the", "44th", "President"]),
    ("21 February 2013", ["21", "February", "2013"]),
    ("cannot", ["can", "not"]),
    ("2010-2015 and 1986-87", ["2010-2015", "and", "1986-87"]),
    ("80,000-man march", ["80,000-man", "march"]),
    ("I like F# more than C#.", ["I", "like", "F#", "more", "than", "C#", "."]),
    ("a f**k word", ["a", "f**k", "word"]),
    ("Download from ftp://myname@host.dom/%2Fetc/motd",
     ["Download", "from", "ftp://myname@host.dom/%2Fetc/motd"]),
    ("I dispute Art. 53 now.", ["I", "dispute", "Art.", "53", "now", "."]),
    ("at 3 p.m., eastern", ["at", "3", "p.m.", ",", "eastern"]),
    ("I can't believe they wanna keep 40% of that.",
     ["I", "ca", "n't", "believe", "they", "wan", "na", "keep", "40", "%",
      "of", "that", "."]),
    # r2 widening: soft hyphens, cp1252, context abbrevs, spaced ellipsis,
    # handles, backquote clitics/names, inner-dot names, versions
    # standalone soft hyphen surfaces as "-" (ptbGold)
    ("Indo­nesian ship­ping ­", ["Indonesian", "shipping", "-"]),
    ("I lived in O\x92Malley.", ["I", "lived", "in", "O'Malley", "."]),
    ("No. I like No. 24 and no.47.",
     ["No", ".", "I", "like", "No.", "24", "and", "no.", "47", "."]),
    # 4+ dots (spaced or not) = ellipsis + the sentence-final period
    # (reference ptbGold; the pre-r5 single-"..." expectation was wrong)
    ("First sentence . . . . Second.",
     ["First", "sentence", "...", ".", "Second", "."]),
    ("First sentence.... Second sentence.",
     ["First", "sentence", "...", ".", "Second", "sentence", "."]),
    ("Here is one: htvp://google.com.",
     ["Here", "is", "one", ":", "htvp", ":", "/", "/", "google.com", "."]),
    ("Download from svn://user@location.edu/path/to/magic/unicorns",
     ["Download", "from", "svn://user@location.edu/path/to/magic/unicorns"]),
    ("Download from svn+ssh://user@location.edu/path/to/magic/unicorns",
     ["Download", "from",
      "svn+ssh://user@location.edu/path/to/magic/unicorns"]),
    ("NBC Live will be available free through the Yahoo! Chat Web site.",
     ["NBC", "Live", "will", "be", "available", "free", "through", "the",
      "Yahoo!", "Chat", "Web", "site", "."]),
    ("I lived in O’Malley and read OK! Magazine.",
     ["I", "lived", "in", "O'Malley", "and", "read", "OK!", "Magazine", "."]),
    ("60-90's", ["60-90", "'s"]),
    ("From July 23-24. Radisson Miyako Hotel.",
     ["From", "July", "23-24", ".", "Radisson", "Miyako", "Hotel", "."]),
    ("23 percent-2 percent higher than today",
     ["23", "percent-2", "percent", "higher", "than", "today"]),
    ("23 percent--2 percent higher than today",
     ["23", "percent", "--", "2", "percent", "higher", "than", "today"]),
    ("438798-438804", ["438798-438804"]),
    ("a top-35 finish.", ["a", "top-35", "finish", "."]),
    ("the 5:30-to-10 a.m. show.",
     ["the", "5:30-to-10", "a.m.", "show", "."]),
    ("The .38-Magnum bullet, a TRS-80, and IBM OS/2 sophisticated sound/graphics",
     ["The", ".38-Magnum", "bullet", ",", "a", "TRS-80", ",", "and", "IBM",
      "OS/2", "sophisticated", "sound/graphics"]),
    ("i got (89.2%) in my exams",
     ["i", "got", "(", "89.2", "%", ")", "in", "my", "exams"]),
    ("I like: •wine, cheese, ‣salami, & ⁃speck.",
     ["I", "like", ":", "•", "wine", ",", "•", "cheese", ",",
      "‣", "salami", ",", "&", "⁃", "speck", "."]),
    # backquotes inside words are NOT apostrophes (PTBLexer {APOS} covers
    # '’´ only) — the clitic splits but keeps its backquote verbatim
    ("@Harry_Styles didn`t like Mu`ammar al-Qaddafi",
     ["@Harry_Styles", "did", "n`t", "like", "Mu`ammar", "al-Qaddafi"]),
    ("a B.S. or a Ph.D from Stanford",
     ["a", "B.S.", "or", "a", "Ph.D", "from", "Stanford"]),
    ("Windows 3.1, Windows 3.x", ["Windows", "3.1", ",", "Windows", "3.x"]),
    ("The Iron Age (ca. 1300 – ca. 300 BC).",
     ["The", "Iron", "Age", "(", "ca.", "1300", "--", "ca.", "300", "BC",
      ")", "."]),
    ("I like Art. And I like History.",
     ["I", "like", "Art", ".", "And", "I", "like", "History", "."]),
    # r3 tranche (PTBTokenizerTest.java:24-110 gold, paren-raw variant):
    # direction abbrevs, dunno, angle-bracket URIs, %-local emails,
    # filenames, number ranges w/ commas+colons, negative numbers, SSN/phone
    # compounds, standalone clitics, bang-names, .38-style decimals
    ("We traveled from No. Korea to So. Calif. yesterday.",
     ["We", "traveled", "from", "No.", "Korea", "to", "So.", "Calif.", "yesterday", "."]),
    ("I dunno.", ["I", "du", "n", "no", "."]),
    ("Email: recruiters@marvelconsultants.com <mailto:recruiters@marvelconsultants.com>",
     ["Email", ":", "recruiters@marvelconsultants.com", "<mailto:recruiters@marvelconsultants.com>"]),
    ("Jeremy Meier <jermeier@earthlink.net>",
     ["Jeremy", "Meier", "<jermeier@earthlink.net>"]),
    ("[Jgerma5@aol.com]. Danny_Jones%ENRON@eott.com",
     ["[", "Jgerma5@aol.com", "]", ".", "Danny_Jones%ENRON@eott.com"]),
    ("20-30%", ["20-30", "%"]),
    ("Total Private Orders 779.5 -9.5%",
     ["Total", "Private", "Orders", "779.5", "-9.5", "%"]),
    ("Witt was 2-for-34 as a hitter",
     ["Witt", "was", "2-for-34", "as", "a", "hitter"]),
    ("An Atlanta-bound DC-9 crashed", ["An", "Atlanta-bound", "DC-9", "crashed"]),
    ("weigh 1,000-1,200 pounds ,", ["weigh", "1,000-1,200", "pounds", ","]),
    ("Dial 908-333-4444 to unban mox opal",
     ["Dial", "908-333-4444", "to", "unban", "mox", "opal"]),
    ("number 555-55-5555.", ["number", "555-55-5555", "."]),
    ("the file thicc_antennae.jpg ?", ["the", "file", "thicc_antennae.jpg", "?"]),
    ("the file thicc_antennae . asdf ?",
     ["the", "file", "thicc_antennae", ".", "asdf", "?"]),
    ("I sent 'em an ' email '", ["I", "sent", "'em", "an", "'", "email", "'"]),
    ("60-90 's", ["60-90", "'s"]),
    ("E! Entertainment said Jeopardy! is a game show.",
     ["E!", "Entertainment", "said", "Jeopardy!", "is", "a", "game", "show", "."]),
    ("read OK! Magazine.", ["read", "OK!", "Magazine", "."]),
    ("the 5:30-to-10 a.m. show", ["the", "5:30-to-10", "a.m.", "show"]),
    ("the 9-to-11:45 a.m. weekday shift",
     ["the", "9-to-11:45", "a.m.", "weekday", "shift"]),
    ("The .38-Magnum bullet, a TRS-80, and IBM OS/2 sophisticated sound/graphics",
     ["The", ".38-Magnum", "bullet", ",", "a", "TRS-80", ",", "and", "IBM",
      "OS/2", "sophisticated", "sound/graphics"]),
    ("1:01-minute time", ["1:01-minute", "time"]),
    ("438798-438804", ["438798-438804"]),
    ("a top-35 finish.", ["a", "top-35", "finish", "."]),
    ("i got (89.2%) in my exams",
     ["i", "got", "(", "89.2", "%", ")", "in", "my", "exams"]),
    ("There are, 2 days left", ["There", "are", ",", "2", "days", "left"]),
    ("two character codepoint: \U0001F638",
     ["two", "character", "codepoint", ":", "\U0001F638"]),
    ("From July 23-24. Radisson Miyako Hotel.",
     ["From", "July", "23-24", ".", "Radisson", "Miyako", "Hotel", "."]),
    ("23 percent-2 percent higher than today",
     ["23", "percent-2", "percent", "higher", "than", "today"]),
]


def test_golden_tokens():
    for text, expected in GOLDEN:
        got = [t[0] for t in tokenize_text(text)]
        assert got == expected, f"{text!r}: {got} != {expected}"


def test_offsets_reconstruct_original():
    for text, _ in GOLDEN:
        for word, original, b, e in tokenize_text(text):
            assert text[b:e] == original


def _sents(text):
    spans = [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]
    toks, sents = annotate_doc(spans)
    return [[toks[i]["word"] for i in range(s["start_tok"], s["end_tok"])] for s in sents]


def test_cleanxml_strips_markup_and_breaks_sentences():
    """CleanXmlAnnotator semantics (pipeline/CleanXmlAnnotator.java:164-240):
    markup never reaches the token stream, offsets are preserved, and a tag
    forces a sentence break."""
    text = "Conseco acquires Kemper Corp. </HEADLINE>\n<P>\nU.S. insurance grew."
    toks = tokenize_text(text)
    words = [t[0] for t in toks]
    assert "</HEADLINE>" not in words and "<P>" not in words
    assert "Conseco" in words and "U.S." in words
    for w, o, b, e in toks:
        assert text[b:e] == o  # offsets still index the RAW text
    sents = _sents(text)
    assert len(sents) == 2
    assert sents[1][0] == "U.S."


def test_barrier_remap_after_multiple_context_abbrev_splits():
    """Two context-gated abbreviation splits BEFORE an XML barrier must shift
    the barrier by exactly the number of preceding insertions (ADVICE r2:
    in-loop shifting compared shifted indices against unshifted positions and
    could move a sentence break one token too far)."""
    text = "See Art. and Fig. above <br/> Next sentence here."
    toks, barriers = __import__(
        "corenlp_spark.operators.tokenize", fromlist=["x"]
    ).tokenize_text_with_barriers(text)
    assert barriers == {[t[0] for t in toks].index("Next")}
    sents = _sents(text)
    assert ["Next", "sentence", "here", "."] in sents


def test_tokenizer_options():
    """PTBTokenizer option subset (process/PTBTokenizer.java:61-177)."""
    # normalize_quotes off: raw quote characters survive
    raw = tokenize_text('“hi”', {"normalize_quotes": False})
    assert [t[0] for t in raw] == ["“", "hi", "”"]
    assert [t[0] for t in tokenize_text('“hi”')] == ["``", "hi", "''"]
    # normalize_dashes off
    assert [t[0] for t in tokenize_text("a — b", {"normalize_dashes": False})] \
        == ["a", "—", "b"]
    # split_hyphenated: UD-style hyphen splitting — number ranges split
    # too (ptbGoldSplitHyphenated: 2010-2015 → 2010 - 2015); phone/SSN/
    # date shapes and ETTB exception compounds stay whole
    got = [t[0] for t in tokenize_text("Sydney-based firms kept 2010-2015 plans",
                                       {"split_hyphenated": True})]
    assert got[:3] == ["Sydney", "-", "based"]
    assert got[5:8] == ["2010", "-", "2015"]
    # strict_treebank3: informal-contraction splits disabled
    assert [t[0] for t in tokenize_text("gonna", {"strict_treebank3": True})] == ["gonna"]
    assert [t[0] for t in tokenize_text("gonna")] == ["gon", "na"]
    # offsets remain invertible under every option combination
    for opts in ({"split_hyphenated": True}, {"normalize_quotes": False},
                 {"strict_treebank3": True}):
        text = 'He said “Sydney-based firms” are gonna win.'
        for w, o, b, e in tokenize_text(text, opts):
            assert text[b:e] == o


def test_default_options_are_read_only():
    """Every default-options caller shares one resolved mapping, so a write
    through it must fail instead of leaking into later calls."""
    import pytest

    from corenlp_spark.operators.tokenize import _resolve_options

    opt = _resolve_options(None)
    assert opt is _resolve_options({})
    with pytest.raises(TypeError):
        opt["normalize_quotes"] = False
    assert opt["quotes"] == "latex"
    assert opt.get("tokenize_per_line") is False
    assert dict(opt, tokenize_per_line=True)["tokenize_per_line"] is True
    assert [t[0] for t in tokenize_text('“hi”')] == ["``", "hi", "''"]


def test_docdate_from_tags(spark):
    import pandas as pd

    from corenlp_spark.data.synth import DOCS_SCHEMA
    from corenlp_spark.operators.sutime import with_docdate

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": ["a", "b"],
            "spans": [
                [{"kind": "text", "text": "<DOCDATE>2013-02-21</DOCDATE> Obama spoke.",
                  "media_ref": None, "offset": 0}],
                [{"kind": "text", "text": "No date markup here.",
                  "media_ref": None, "offset": 0}],
            ],
        }),
        schema=DOCS_SCHEMA,
    )
    rows = {r.doc_id: r.docdate for r in with_docdate(docs, from_tags=True).collect()}
    assert rows["a"] == "2013-02-21"
    assert rows["b"] and rows["b"] != "2013-02-21"  # falls back to derived


def test_sentence_split_basic():
    s = _sents("Obama visited Paris. Obama spoke. He was president.")
    assert len(s) == 3
    assert s[0] == ["Obama", "visited", "Paris", "."]


def test_sentence_split_multipunct_and_followers():
    s = _sents('He said "stop!" Then he left.')
    assert len(s) == 2
    assert s[0][-1] == "''"  # close quote attaches to first sentence


def test_abbrev_no_split():
    s = _sents("Creative Pack Pty. Ltd. shipped boxes. It works.")
    assert len(s) == 2


def test_media_span_is_sentence_barrier():
    spans = [
        {"kind": "text", "text": "Obama visited", "media_ref": None, "offset": 0},
        {"kind": "media", "text": None, "media_ref": "img://x", "offset": 1},
        {"kind": "text", "text": "Paris is nice.", "media_ref": None, "offset": 2},
    ]
    toks, sents = annotate_doc(spans)
    # the unterminated "Obama visited" must NOT merge with the next span's text
    assert len(sents) == 2
    assert [t["word"] for t in toks[sents[0]["start_tok"]:sents[0]["end_tok"]]] == ["Obama", "visited"]
    assert [t["word"] for t in toks[sents[1]["start_tok"]:sents[1]["end_tok"]]] == ["Paris", "is", "nice", "."]


def test_normalize_parentheses_option():
    """PTB3 bracket forms behind the normalizeParentheses option
    (PTBLexer normalizeParentheses/normalizeOtherBrackets)."""
    text = "Diamond (the chair) lives in {1. A trade:} [sic]."
    norm = [t[0] for t in tokenize_text(text, {"normalize_parentheses": True})]
    assert "-LRB-" in norm and "-RRB-" in norm
    assert "-LCB-" in norm and "-RCB-" in norm
    assert "-LSB-" in norm and "-RSB-" in norm
    # default stays raw and invertible
    raw = tokenize_text(text)
    assert "(" in [t[0] for t in raw]
    for w, o, b, e in tokenize_text(text, {"normalize_parentheses": True}):
        assert text[b:e] == o  # originals still reconstruct the input


def test_ssplit_reference_cases():
    """WordToSentenceProcessorTest.java:66-110 ported: multi-terminator
    runs, incomplete finals, paren/quote followers, newline non-breaks,
    leading-follower attachment, abbreviation non-breaks."""
    def sents(text):
        spans = [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]
        tokens, sentences = annotate_doc(spans)
        return len(sentences)

    assert sents("This should only be one sentence.") == 1
    assert sents("This should be two sentences.  There is a split.") == 2
    assert sents("This should be two sentences!!!?!!  There is a split.") == 2
    assert sents("This should be two sentences.  Second one incomplete") == 2
    assert sents("One incomplete sentence") == 1
    assert sents('(Break after a parenthesis.)  (Or after "quoted stuff!")') == 2
    assert sents("  ") == 0
    assert sents("This should be\n one sentence.") == 1
    assert sents("'') Funny stuff joined on.") == 1
    assert sents("Mr. White got a loaf of bread") == 1


def test_apostrophe_decade():
    assert [t[0] for t in tokenize_text("music of the '60s era")] == \
        ["music", "of", "the", "'60s", "era"]


# ---------------------------------------------------------------------------
# Round-4 tranche: sentence-final abbreviations (PTBTokenizerTest testCorp /
# testJacobEisensteinApostropheCase neighborhoods), strictTreebank3, spaced
# fractions, and the quotes/ellipses/dashes normalization enums
# (PTBTokenizer.java:61-177, PTBLexer.flex:528-566,1124)
# ---------------------------------------------------------------------------

_CORP = "So, too, many analysts predict, will Exxon Corp., Chevron Corp. and Amoco Corp."


def test_abbrev1_sentence_end_reduplicates_period():
    got = [t[0] for t in tokenize_text(_CORP)]
    assert got == ["So", ",", "too", ",", "many", "analysts", "predict", ",",
                   "will", "Exxon", "Corp.", ",", "Chevron", "Corp.", "and",
                   "Amoco", "Corp.", "."]


def test_abbrev1_sentence_end_strict_treebank3_splits():
    got = [t[0] for t in tokenize_text(_CORP, {"strict_treebank3": True})]
    assert got[-2:] == ["Corp", "."]
    assert got[10] == "Corp."  # sentence-internal "Corp.," untouched


def test_acronym_before_sentence_starter_reduplicates():
    got = [t[0] for t in tokenize_text(
        "We traveled from No.\nKorea to the U.S.A.\nWhy?")]
    assert got == ["We", "traveled", "from", "No.", "Korea", "to", "the",
                   "U.S.A.", ".", "Why", "?"]


def test_acronym_double_period_input():
    got = [t[0] for t in tokenize_text(
        "Buy a new Chevrolet (37%-owned in the U.S..) . 15%")]
    assert got == ["Buy", "a", "new", "Chevrolet", "(", "37", "%", "-",
                   "owned", "in", "the", "U.S.", ".", ")", ".", "15", "%"]


def test_us_exception_under_strict():
    # "U.S." keeps its period even under strictTreebank3 (processAbbrev2)
    got = [t[0] for t in tokenize_text("Made in the U.S. Then exported.",
                                       {"strict_treebank3": True})]
    assert "U.S." in got and got[got.index("U.S.") + 1] == "."


def test_reduplicated_period_is_zero_width_invertible():
    text = "Kemper Corp. Analysts agree."
    toks = tokenize_text(text)
    dup = [t for t in toks if t[1] == ""]
    assert dup == [(".", "", 12, 12)]
    for w, o, b, e in toks:
        assert text[b:e] == o


def test_spaced_fractions():
    text = "5-1/4 plus 2 3/16 = 7 7/16 in the U.S.S.R. Why not?"
    assert [t[0] for t in tokenize_text(text)] == \
        ["5-1/4", "plus", "2 3/16", "=", "7 7/16", "in", "the",
         "U.S.S.R.", ".", "Why", "not", "?"]
    assert [t[0] for t in tokenize_text(text, {"strict_treebank3": True})] == \
        ["5-1/4", "plus", "2", "3/16", "=", "7", "7/16", "in", "the",
         "U.S.S.R", ".", "Why", "not", "?"]


def test_pty_ltd_stays_sentence_internal():
    got = [t[0] for t in tokenize_text("Creative Pack Pty. Ltd. shipped boxes.")]
    assert got == ["Creative", "Pack", "Pty.", "Ltd.", "shipped", "boxes", "."]


def test_abbrevsn_place_prefix_gate():
    # reference allows only (Africa|Korea|Cal…) after So./No. (flex:1138)
    assert [t[0] for t in tokenize_text("from So. Africa came")][1] == "So."
    assert [t[0] for t in tokenize_text("to So. Calif. we went")][1] == "So."
    got = [t[0] for t in tokenize_text("He said no. Maybe tomorrow.")]
    assert got[2:4] == ["no", "."]


_ENUM_TEXT = "he said “yes” and ‘no’ — twice…"


def test_quote_ellipsis_dash_enums():
    latex = [t[0] for t in tokenize_text(
        _ENUM_TEXT, {"quotes": "latex", "ellipses": "ptb3", "dashes": "ptb3"})]
    assert latex == ["he", "said", "``", "yes", "''", "and", "`", "no", "'",
                     "--", "twice", "..."]
    uni = [t[0] for t in tokenize_text(
        "say ``yes'' -- ok...",
        {"quotes": "unicode", "ellipses": "unicode", "dashes": "unicode"})]
    assert uni == ["say", "“", "yes", "”", "—", "ok", "…"]
    ascii_ = [t[0] for t in tokenize_text(_ENUM_TEXT, {"quotes": "ascii"})]
    assert ascii_[2] == '"' and ascii_[4] == '"' and ascii_[6] == "'"
    orig = [t[0] for t in tokenize_text(_ENUM_TEXT, {
        "quotes": "original", "ellipses": "original", "dashes": "original"})]
    assert orig == ["he", "said", "“", "yes", "”", "and", "‘",
                    "no", "’", "—", "twice", "…"]


def test_straight_double_quote_directional():
    for q, opening, closing in [("latex", "``", "''"),
                                ("unicode", "“", "”")]:
        got = [t[0] for t in tokenize_text('he said "yes" again',
                                           {"quotes": q})]
        assert got[2] == opening and got[4] == closing


def test_fractions_dates_and_slash_split():
    """PTBLexer FRACTION/DATE rules + the splitForwardSlash option
    (breakByHyphensSlashes FORWARD_SLASH arm): bare fractions and
    slash/hyphen dates are ONE token; and/or splits only under the
    option; URLs and numeric tokens never split."""
    from corenlp_spark.operators.tokenize import tokenize_text

    def words(s, **opt):
        return [t[0] for t in tokenize_text(s, opt or None)]

    assert words("It rose 3/4 of a point.") == \
        ["It", "rose", "3/4", "of", "a", "point", "."]
    assert words("The 2022/23 season was long.") == \
        ["The", "2022/23", "season", "was", "long", "."]
    assert words("On 3/4/2021 it rained.") == \
        ["On", "3/4/2021", "it", "rained", "."]
    assert words("Due 11-05-99 at noon.") == \
        ["Due", "11-05-99", "at", "noon", "."]
    # splitForwardSlash
    assert words("Snacks and/or drinks.", split_forward_slash=True) == \
        ["Snacks", "and", "/", "or", "drinks", "."]
    assert words("Snacks and/or drinks.") == \
        ["Snacks", "and/or", "drinks", "."]
    assert words("Visit http://google.com/a/b now.",
                 split_forward_slash=True) == \
        ["Visit", "http://google.com/a/b", "now", "."]
    assert words("It rose 3/4 of a point.", split_forward_slash=True) == \
        ["It", "rose", "3/4", "of", "a", "point", "."]
    # combined with splitHyphenated
    assert words("The Sydney-based and/or Paris-based teams.",
                 split_hyphenated=True, split_forward_slash=True) == \
        ["The", "Sydney", "-", "based", "and", "/", "or",
         "Paris", "-", "based", "teams", "."]


def test_apostrophe_prefixes_em_clitic_prodcodes():
    """PTBTokenizerTest testApostrophes tranche: APOWORD1 prefixes
    (Th'/y'/t'/d'/ol' split after the apostrophe; Qur'an / O'Malley stay
    whole), the 'em clitic pronoun, and letter-dot-digit product codes
    (BA.2.12.1, X.500, P.72 one token)."""
    from corenlp_spark.operators.tokenize import tokenize_text

    def words(s):
        return [t[0] for t in tokenize_text(s)]

    assert words("Th'enchanting tale") == ["Th'", "enchanting", "tale"]
    assert words("Y'know y'all want it") == \
        ["Y'", "know", "y'", "all", "want", "it"]
    assert words("Let's shoot'em up") == ["Let", "'s", "shoot", "'em", "up"]
    assert words("The Qur'an's Allah") == ["The", "Qur'an", "'s", "Allah"]
    assert words("Grace O'Malley's Castle.") == \
        ["Grace", "O'Malley", "'s", "Castle", "."]
    assert words("In Louis L'Amour's 1985 historical novel") == \
        ["In", "Louis", "L'Amour", "'s", "1985", "historical", "novel"]
    assert words("I'd've thought that they'd've liked it.") == \
        ["I", "'d", "'ve", "thought", "that", "they", "'d", "'ve",
         "liked", "it", "."]
    assert words("I caught BA.2.12.1 and BA.5 while reading about X.500") == \
        ["I", "caught", "BA.2.12.1", "and", "BA.5", "while", "reading",
         "about", "X.500"]
    assert words("IT IS ON P.72") == ["IT", "IS", "ON", "P.72"]
    assert words("It is X.500.") == ["It", "is", "X.500", "."]


def test_r5_tranche_initials_bom_sepnum_abbrevs():
    """PTBTokenizerTest r5 tranche: single-initial merge (ACRO covers
    single initials before a capitalized continuation; ABBREV2
    sentence-starter logic still ends 'He got an A.'), BOM deletion
    (hyphenGold fixture leads with U+FEFF), thin/narrow-NBSP/soft-hyphen
    digit separators (PTBLexer SEPNUM — vanish from normalized token,
    preserved in original), case-sensitive min./max. abbreviations, and
    the r5 ABTITLE/ABNUM/context tranche (Amb., Insp., para., vol.)."""
    from corenlp_spark.operators.tokenize import (tokenize_text,
                                                  tokenize_text_with_barriers)

    def words(s, **o):
        return [t[0] for t in tokenize_text(s, o or None)]

    # single-initial merge vs grade-'A.' sentence end
    assert words("I met A. I. Markov yesterday.") == \
        ["I", "met", "A.", "I.", "Markov", "yesterday", "."]
    assert words("He got an A. The grade pleased him.") == \
        ["He", "got", "an", "A", ".", "The", "grade", "pleased", "him", "."]
    # BOM deleted, offsets start at the first real character
    toks, _ = tokenize_text_with_barriers("﻿Hello world.")
    assert [t[0] for t in toks] == ["Hello", "world", "."]
    assert toks[0][2] == 1  # offset past the BOM (original text preserved)
    # SEPNUM: narrow-NBSP-grouped digits are one numeric token, original kept
    toks, _ = tokenize_text_with_barriers("1 000 000 people")
    assert [t[0] for t in toks] == ["1000000", "people"]
    assert toks[0][1] == "1 000 000"
    assert words("5 000 units") == ["5000", "units"]
    # case-sensitive lower-only abbreviations
    assert words("iPhone 11 Pro Max. The iPhone family grew.") == \
        ["iPhone", "11", "Pro", "Max", ".", "The", "iPhone", "family",
         "grew", "."]
    assert words("max. 5 units") == ["max.", "5", "units"]
    assert words("min. 3 chars needed") == ["min.", "3", "chars", "needed"]
    # new title/context abbreviations
    assert words("Amb. Smith and Insp. Jones arrived.") == \
        ["Amb.", "Smith", "and", "Insp.", "Jones", "arrived", "."]
    assert words("See para. 7 and vol. 2.") == \
        ["See", "para.", "7", "and", "vol.", "2", "."]
    assert words("Govt. policy, viz. the tax code.") == \
        ["Govt.", "policy", ",", "viz.", "the", "tax", "code", "."]


def test_r5_cp1252_euro_low9_quotes():
    """cp1252 control bytes 0x80/0x82/0x84 normalize to euro and low-9
    quotes; low-9 quotes participate in the latex/ascii quote maps
    (PTBLexer QUOTES/DOLSIGN2 classes)."""
    from corenlp_spark.operators.tokenize import tokenize_text

    def words(s, **o):
        return [t[0] for t in tokenize_text(s, o or None)]

    assert words("It cost \x80100 total.")[2:4] == ["€", "100"]
    # \x93 is cp1252 U+201C (an OPENING quote even when German usage closes
    # with it) — latex maps it positionally-blind to ``
    assert words("\x84Guten Tag\x93, sagte er.", quotes="latex") == \
        ["``", "Guten", "Tag", "``", ",", "sagte", "er", "."]
    assert words("‚ein‘ Wort", quotes="ascii") == \
        ["'", "ein", "'", "Wort"]


def test_r5_tweet_tranche():
    """PTBTokenizerTest tweetGold tranche: hashtags/handles, the SEP_SUFFIX
    digit-unit split gate (PTBLexer.flex:599-604 — '300USD'/'145bpm'/'@5am'
    split, '156bpmt'/'5k'/'4x4'/'iPhone 6s' stay whole), Br. reduplication,
    C'mon assimilation, RM-currency prefix, loc. cit."""
    from corenlp_spark.operators.tokenize import tokenize_text

    def words(s):
        return [t[0] for t in tokenize_text(s)]

    assert words("Happy #StarWars week!") == ["Happy", "#StarWars", "week", "!"]
    assert words("RT @Suns: combine @50cent, #StarWars at an @NBA game?") == \
        ["RT", "@Suns", ":", "combine", "@50cent", ",", "#StarWars",
         "at", "an", "@NBA", "game", "?"]
    assert words("Check out .@WHMPodcast's rant") == \
        ["Check", "out", ".@WHMPodcast", "'s", "rant"]
    assert words("with an i7@1,7GHz") == ["with", "an", "i7", "@", "1,7", "GHz"]
    assert words("audio track 1 @145bpm and now 145bpm") == \
        ["audio", "track", "1", "@", "145", "bpm", "and", "now", "145", "bpm"]
    assert words("the mall opens @5am.") == \
        ["the", "mall", "opens", "@", "5", "am", "."]
    assert words("worth 300USD. Not 156bpmt. playback choppy on 5k iMac") == \
        ["worth", "300", "USD", ".", "Not", "156bpmt", ".", "playback",
         "choppy", "on", "5k", "iMac"]
    assert words("RM460.35 million") == ["RM", "460.35", "million"]
    assert words("I like Amb. McFaul.") == ["I", "like", "Amb.", "McFaul", "."]
    assert words("I is less than Br. The marked reduction is predicted.") == \
        ["I", "is", "less", "than", "Br.", ".", "The", "marked",
         "reduction", "is", "predicted", "."]
    assert words("states (loc. cit.) that") == \
        ["states", "(", "loc.", "cit.", ")", "that"]
    assert words("U.S. vs. The World") == ["U.S.", "vs.", "The", "World"]
    assert words("stems reach a max. of 3.5 m") == \
        ["stems", "reach", "a", "max.", "of", "3.5", "m"]
    assert words("C'mon, c’mon.") == ["C'm", "on", ",", "c'm", "on", "."]
    assert words("phone: 47-42-17-11; fax, 47-42-80-44 or 47-42-18-81;") == \
        ["phone", ":", "47-42-17-11", ";", "fax", ",", "47-42-80-44",
         "or", "47-42-18-81", ";"]
    assert words("I installed SPSS28.0.") == ["I", "installed", "SPSS",
                                              "28.0", "."]
    assert words("a 4x4 truck and iPhone 6s phones") == \
        ["a", "4x4", "truck", "and", "iPhone", "6s", "phones"]
    assert words("weighs 20lbs over 10km in 42mins") == \
        ["weighs", "20", "lbs", "over", "10", "km", "in", "42", "mins"]


def test_r5_apostrophe_gold_residue():
    """apostropheGold residue: backquote possessive after curly open-quote
    (Mu'min‘s → `s), apostrophe-joined acronyms (L'U.R.S.S.), leading
    'Tain't assimilation, digit-led THING before decimal (408R 9.20),
    dotted version numbers (BA 2.12.1, IPs whole)."""
    from corenlp_spark.operators.tokenize import tokenize_text

    def words(s):
        return [t[0] for t in tokenize_text(s)]

    assert words("Mu'min knows Mu'min‘s tribe") == \
        ["Mu'min", "knows", "Mu'min", "`s", "tribe"]
    assert words('in "Retour de L\'U.R.S.S." in 1936') == \
        ["in", "``", "Retour", "de", "L'U.R.S.S.", "''", "in", "1936"]
    assert words("``'Tain't mine and 'tain't enough.''") == \
        ["``", "'T", "ai", "n't", "mine", "and", "'t", "ai", "n't",
         "enough", ".", "''"]
    assert words("The Z-R relationship was Z = 408R9.20") == \
        ["The", "Z-R", "relationship", "was", "Z", "=", "408R", "9.20"]
    assert words("Some people write BA2.12.1. Tests were DM899.00.") == \
        ["Some", "people", "write", "BA", "2.12.1", ".", "Tests",
         "were", "DM", "899.00", "."]
    assert words("host 10.0.42.7 responds") == ["host", "10.0.42.7",
                                                "responds"]


def test_ptb3_escaping_goldens():
    """PTBTokenizerTest ptbGold/moreGold cases under ptb3Escaping
    (normalizeParentheses + SGML tokens kept), r5 tranche."""
    opt = {"normalize_parentheses": True, "keep_sgml_tokens": True}
    cases = [
        ("The Iron Age (ca. 1300 – ca. 300 BC).",
         ["The", "Iron", "Age", "-LRB-", "ca.", "1300", "--", "ca.", "300",
          "BC", "-RRB-", "."]),
        ("I like you ;-) but do you care :(.",
         ["I", "like", "you", ";--RRB-", "but", "do", "you", "care",
          ":-LRB-", "."]),
        ("I'm happy ^_^ but shy (x.x)!",
         ["I", "'m", "happy", "^_^", "but", "shy", "-LRB-x.x-RRB-", "!"]),
        ("``I like AT&T''.", ["``", "I", "like", "AT&T", "''", "."]),
        ("I don't --- think so...,",
         ["I", "do", "n't", "--", "think", "so", "...", ","]),
        ("@Harry_Styles didn`t like Mu`ammar al-Qaddafi",
         ["@Harry_Styles", "did", "n`t", "like", "Mu`ammar", "al-Qaddafi"]),
        ("You can get a B.S. or a B. A. or a Ph.D (sometimes a Ph. D) here.",
         ["You", "can", "get", "a", "B.S.", "or", "a", "B.", "A.", "or", "a",
          "Ph.D", "-LRB-", "sometimes", "a", "Ph.", "D", "-RRB-", "here",
          "."]),
        ("drop 1,350kg (3,000lb) sandbags",
         ["drop", "1,350", "kg", "-LRB-", "3,000", "lb", "-RRB-",
          "sandbags"]),
        ("U.S. insurance: Conseco acquires Kemper Corp. \n</HEADLINE>\n<P>\n"
         "U.S insurance",
         ["U.S.", "insurance", ":", "Conseco", "acquires", "Kemper", "Corp.",
          ".", "</HEADLINE>", "<P>", "U.S", "insurance"]),
        ("20°C is 68°F", ["20", "°C", "is", "68", "°F"]),
        ("Pls. copy the text and explain wrt. the principles.",
         ["Pls.", "copy", "the", "text", "and", "explain", "wrt.", "the",
          "principles", "."]),
        ("Joseph Someone (fl. 2050–75) liked gases, viz. helium.",
         ["Joseph", "Someone", "-LRB-", "fl.", "2050", "--", "75", "-RRB-",
          "liked", "gases", ",", "viz.", "helium", "."]),
        ("Sambucus nigra subsp. canadensis and Canis spp. missing",
         ["Sambucus", "nigra", "subsp.", "canadensis", "and", "Canis",
          "spp.", "missing"]),
        ("Xanadu Pvt. Ltd. replied.",
         ["Xanadu", "Pvt.", "Ltd.", "replied", "."]),
        ("whenever one goes 'tisk tisk' at something",
         ["whenever", "one", "goes", "`", "tisk", "tisk", "'", "at",
          "something"]),
        ("I sent 'em an 'email'",
         ["I", "sent", "'em", "an", "'", "email", "'"]),
        ("via Alex. Brown &amp; Sons. She hates Alex.",
         ["via", "Alex.", "Brown", "&", "Sons", ".", "She", "hates", "Alex",
          "."]),
        ("half codepoint:" + chr(55296) + " ",
         ["half", "codepoint", ":"]),
        ("#Čeština #日本語ハッシュタグ #1",
         ["#Čeština", "#日本語ハッシュタグ", "#", "1"]),
        ("a.jpg a-b/c-d_e.jpg 0-1-2.jpg",
         ["a.jpg", "a-b/c-d_e.jpg", "0-1-2.jpg"]),
    ]
    for text, expected in cases:
        got = [t[0] for t in tokenize_text(text, opt)]
        assert got == expected, f"{text!r}: {got} != {expected}"


def test_sgml_tag_tokens():
    """sgmlGold cases: faithful SGML1 tag shape, inner spaces → NBSP,
    non-tags lex as < + words (PTBTokenizerTest testPTBTokenizerSGML)."""
    opt = {"keep_sgml_tokens": True, "split_forward_slash": True}
    nb = " "
    cases = [
        ("Oesophageal acid exposure (% time <pH 4) was similar "
         "(19.2% v 19.3% p>0.05).",
         ["Oesophageal", "acid", "exposure", "(", "%", "time", "<", "pH",
          "4", ")", "was", "similar", "(", "19.2", "%", "v", "19.3", "%",
          "p", ">", "0.05", ")", "."]),
        ("Hi! <foo bar=\"baz xy = foo !$*) 422\" > "
         "<?PITarget PIContent?> <?PITarget PIContent> Hi!",
         ["Hi", "!", f"<foo{nb}bar=\"baz{nb}xy{nb}={nb}foo{nb}!$*){nb}422\"{nb}>",
          f"<?PITarget{nb}PIContent?>", f"<?PITarget{nb}PIContent>",
          "Hi", "!"]),
        ("<chapter xml:id=\"chapter_1\"><?php echo $a; ?>\n"
         "<!-- This is an SGML/XML comment \"Hi!\" -->\n<p> </p> <p-fix / >",
         [f"<chapter{nb}xml:id=\"chapter_1\">", f"<?php{nb}echo{nb}$a;{nb}?>",
          f"<!--{nb}This{nb}is{nb}an{nb}SGML/XML{nb}comment{nb}\"Hi!\"{nb}-->",
          "<p>", "</p>", f"<p-fix{nb}/{nb}>"]),
        ("<a href=\"http:\\\\it's\\here\"> <quote orig_author='some \"dude'/>"
         " <not sgmltag",
         [f"<a{nb}href=\"http:\\\\it's\\here\">",
          f"<quote{nb}orig_author='some{nb}\"dude'/>", "<", "not",
          "sgmltag"]),
        ("&lt;b...@canada.com&gt; funky@thedismalscience.net "
         "<myemail@where.com>",
         ["&lt;b...@canada.com&gt;", "funky@thedismalscience.net",
          "<myemail@where.com>"]),
        ("Samsung Electronics Co. Ltd. Sanyo products aren't.",
         ["Samsung", "Electronics", "Co.", "Ltd.", ".", "Sanyo", "products",
          "are", "n't", "."]),
    ]
    for text, expected in cases:
        got = [t[0] for t in tokenize_text(text, opt)]
        assert got == expected, f"{text!r}: {got} != {expected}"


def test_sgml_stripped_by_default_but_not_overeager():
    """Default mode strips true tags (CleanXML-fused) but must NOT treat
    '<pH 4) …  p>' as markup (the r4 tag regex over-stripped it)."""
    got = [t[0] for t in tokenize_text("(% time <pH 4) similar p>0.05")]
    assert "pH" in got and "0.05" in got and "similar" in got
    got2 = [t[0] for t in tokenize_text("a <b>bold</b> claim")]
    assert got2 == ["a", "bold", "claim"]


def test_ud_split_hyphenated_goldens():
    """ptbGoldSplitHyphenated / emojiGold / mtGoldUD cases: UD-style
    splitHyphenated+splitForwardSlash with the ETTB exception lists."""
    opt = {"quotes": "not_cp1252", "dashes": "not_cp1252",
           "split_hyphenated": True, "split_forward_slash": True}
    cases = [
        ("2010-2015 and 1986-87", ["2010", "-", "2015", "and", "1986", "-", "87"]),
        ("An Atlanta-bound DC-9 crashed",
         ["An", "Atlanta", "-", "bound", "DC", "-", "9", "crashed"]),
        ("the anti-acquisition front on its foolishness-filled market",
         ["the", "anti-acquisition", "front", "on", "its", "foolishness",
          "-", "filled", "market"]),
        ("o-kay pre-tests Watergate-esque uh-oh",
         ["o-kay", "pre-tests", "Watergate-esque", "uh-oh"]),
        ("Dial 908-333-4444 or 555-0199 re 555-55-5555",
         ["Dial", "908-333-4444", "or", "555-0199", "re", "555-55-5555"]),
        ("1202-03-04 5:32:56 2004-03-04T18:32:56",
         ["1202-03-04", "5:32:56", "2004-03-04T18:32:56"]),
        ("60-90's", ["60", "-", "90's"]),
        ("wasn’t really", ["was", "n’t", "really"]),  # curly kept in UD
        ("proposed ₱5.024-trillion budget",
         ["proposed", "₱", "5.024", "-", "trillion", "budget"]),
        ("IBM OS/2 and 5/2 μg", ["IBM", "OS", "/", "2", "and", "5/2", "μg"]),
    ]
    for text, expected in cases:
        got = [t[0] for t in tokenize_text(text, opt)]
        assert got == expected, f"{text!r}: {got} != {expected}"


def test_emoji_sequences():
    """emojiGold: flags, skin tones, ZWJ composites, variation selectors,
    tag sequences — each composite is ONE token."""
    opt = {"quotes": "not_cp1252"}
    cases = [
        ("😉😀🇦🇺🍺", ["😉", "😀", "🇦🇺", "🍺"]),
        ("👦🏻👧🏿", ["👦🏻", "👧🏿"]),
        ("👨‍👩‍👧🧀", ["👨‍👩‍👧", "🧀"]),
        ("⚠⚠️❤️❤", ["⚠", "⚠️", "❤️", "❤"]),
        ("🏴\U000e0075\U000e0073\U000e0063\U000e0061\U000e007f",
         ["🏴\U000e0075\U000e0073\U000e0063\U000e0061\U000e007f"]),
        ("555‒0199", ["555‒0199"]),
        ("Kanakadasa's (ರಾಮಧಾನ್ಯ ಚರಿತೆ ) is rare.",
         ["Kanakadasa", "'s", "(", "ರಾಮಧಾನ್ಯ", "ಚರಿತೆ", ")", "is",
          "rare", "."]),
    ]
    for text, expected in cases:
        got = [t[0] for t in tokenize_text(text, opt)]
        assert got == expected, f"{text!r}: {got} != {expected}"


def test_apostrophe_unicode_goldens():
    """apostropheGold: modifier-letter apostrophes are word letters;
    apostrophe+hyphen compounds split at hyphens; CJK sticks to words."""
    cases = [
        ("ʻAbdu'l-Bahá, born ʻAbbás, son of Baháʼu'lláh",
         ["ʻAbdu'l", "-", "Bahá", ",", "born", "ʻAbbás", ",", "son", "of",
          "Baháʼu'lláh"]),
        ("I use SPSS28.0 to measure Lee’s指数 as 其IC50约为4.814μmol / L",
         ["I", "use", "SPSS", "28.0", "to", "measure", "Lee's指数", "as",
          "其IC50约为", "4.814", "μmol", "/", "L"]),
        ("''Charlie’' Bridges", ["``", "Charlie", "''", "Bridges"]),
    ]
    for text, expected in cases:
        got = [t[0] for t in tokenize_text(text)]
        assert got == expected, f"{text!r}: {got} != {expected}"


def test_ptb2_text_untokenize():
    """Standalone untok goldens (PTBTokenizerTest.java:442-455 ported)."""
    from corenlp_spark.operators.tokenize import ptb2_text

    assert ptb2_text("London - AFP reported junk .") == "London - AFP reported junk."
    assert ptb2_text("HEADLINE - New Android phone !") == "HEADLINE - New Android phone!"
    assert (ptb2_text("I did it 'cause I wanted to , and you 'n' me know that .")
            == "I did it 'cause I wanted to, and you 'n' me know that.")
    assert (ptb2_text("He said that `` Luxembourg needs surface - to - air missiles . ''")
            == 'He said that "Luxembourg needs surface-to-air missiles."')
    # token-list input, brackets, entities, currency, possessive
    assert ptb2_text(["-LRB-", "a", "-RRB-"]) == "(a)"
    assert ptb2_text("&amp; &lt; &gt;") == "& < >"
    assert ptb2_text("$ 5 , or 10 %") == "$5, or 10%"
    assert ptb2_text("the dog ' s bone") == "the dog's bone"


def test_americanize_option():
    """AmericanizeTest.java goldens + the tokenizer option wiring."""
    from corenlp_spark.operators.tokenize import americanize

    br = ["colour", "encyclopaedia", "devour", "glamour", "armour",
          "haematophilia", "programme", "behaviours", "vapours",
          "travelling", "realise", "rumours", "detour", "Defence"]
    us = ["color", "encyclopedia", "devour", "glamour", "armor",
          "hematophilia", "program", "behaviors", "vapors", "traveling",
          "realize", "rumors", "detour", "Defense"]
    assert [americanize(w) for w in br] == us
    # timex capitalization (not march/may), suppressible
    assert americanize("january") == "January"
    assert americanize("march") == "march" and americanize("may") == "may"
    assert americanize("january", capitalize_timex=False) == "january"
    # option wiring: normalized word changes, original stays invertible
    toks = tokenize_text("The colour of Labour.", {"americanize": True})
    assert [t[0] for t in toks] == ["The", "color", "of", "Labor", "."]
    assert [t[1] for t in toks] == ["The", "colour", "of", "Labour", "."]


def test_tokenize_per_line_and_ltgt_entities():
    """tokenizePerLine: SGML tags cannot span newlines (sgmlPerLineGold);
    standalone &lt;/&gt; entities are < / > tokens (PTBLexer LESSTHAN)."""
    text = '<quote previouspost="\n&gt; I agree.\n">'
    per_line = [t[0] for t in tokenize_text(
        text, {"keep_sgml_tokens": True, "tokenize_per_line": True,
               "normalize_quotes": False})]
    assert per_line == ["<", "quote", "previouspost", "=", '"',
                        ">", "I", "agree", ".", '"', ">"]
    # without per-line mode the multi-line tag matches whole (NBSP-joined)
    whole = [t[0] for t in tokenize_text(text, {"keep_sgml_tokens": True})]
    assert whole[0].startswith("<quote\xa0previouspost=")
    # entity-wrapped email still one token (EMAIL beats LESSTHAN)
    assert [t[0] for t in tokenize_text("&lt;b...@canada.com&gt; hi")][0] \
        == "&lt;b...@canada.com&gt;"


def test_ssplit_newline_strategies():
    """WordToSentenceProcessorTest testParagraphStrategies +
    testNullSplitter + testParagraphSeparator: the
    ssplit.newlineIsSentenceBreak modes, one-sentence mode, and the
    always-breaking U+2029 paragraph separator."""
    def sents(text, **opts):
        spans = [{"kind": "text", "text": text, "media_ref": None,
                  "offset": 0}]
        toks, ss = annotate_doc(spans, opts or None)
        return [" ".join(t["word"] for t in toks[s["start_tok"]:s["end_tok"]])
                for s in ss]

    i1 = ("Depending on the options,\nthis could be all sorts of things,"
          "\n\n as I like chocolate. And cookies.")
    assert sents(i1) == [
        "Depending on the options , this could be all sorts of things , "
        "as I like chocolate .", "And cookies ."]
    assert sents(i1, newline_is_sentence_break="always") == [
        "Depending on the options ,", "this could be all sorts of things ,",
        "as I like chocolate .", "And cookies ."]
    assert sents(i1, newline_is_sentence_break="two_consecutive") == [
        "Depending on the options , this could be all sorts of things ,",
        "as I like chocolate .", "And cookies ."]
    # single newline is NOT a blank line under two_consecutive
    i2 = i1.replace("\n\n", "\n")
    assert len(sents(i2, newline_is_sentence_break="two_consecutive")) == 2
    # null splitter: whole input is one sentence
    assert sents("This should be one sentence.  There is no split.",
                 ssplit_one_sentence=True) == [
        "This should be one sentence . There is no split ."]
    # U+2029 paragraph separator breaks in every mode
    assert sents("Hello World.") == ["Hello", "World ."]
    assert sents("Hello. World.") == ["Hello .", "World ."]
    assert sents("Hello World. More text.") == ["Hello World .",
                                                "More text ."]


def test_whitespace_tokenizer():
    """WhitespaceTokenizerTest.java ported: NL modes, non-breaking spaces
    stay inside tokens, U+3000 splits, whitespace-only and no-whitespace
    bounds."""
    from corenlp_spark.operators.tokenize import whitespace_tokenize

    def words(text, nls=False):
        return [t[0] for t in whitespace_tokenize(text, tokenize_nls=nls)]

    assert words("This is a test . \n This is a second line .") == [
        "This", "is", "a", "test", ".",
        "This", "is", "a", "second", "line", "."]
    assert words("This is a test . \n This is a second line .", nls=True) == [
        "This", "is", "a", "test", ".", "*NL*",
        "This", "is", "a", "second", "line", "."]
    assert words("A \n B \n \n C") == ["A", "B", "C"]
    assert words("A \n B \n \n C", nls=True) == ["A", "*NL*", "B", "*NL*",
                                                 "*NL*", "C"]
    assert words("A. B") == ["A.", "B"]
    assert words("皇后　　後世 and (800) 326-1456") == [
        "皇后", "後世", "and", "(800) 326-1456"]
    assert words("        ", nls=True) == []
    assert words("") == []
    assert words("\n\n\n") == []
    for s in ["Thisisatest.Thisisasecondline.", "ABC", "A.B"]:
        assert words(s, nls=True) == [s]
    # invertibility: originals + offsets reconstruct
    toks = whitespace_tokenize("a  b c \n d", tokenize_nls=True)
    for w, o, b, e in toks:
        assert "a  b c \n d"[b:e] == o


def test_cleanxml_annotator_options():
    """CleanXmlAnnotatorTest.java ported: sentence-ending-tag selection,
    nested tags, flawed-XML tolerance vs strict mode."""
    import pytest

    def sents(text, **opts):
        spans = [{"kind": "text", "text": text, "media_ref": None,
                  "offset": 0}]
        toks, ss = annotate_doc(spans, opts or None)
        return [" ".join(t["word"] for t in toks[s["start_tok"]:s["end_tok"]])
                for s in ss]

    two_tags = "<p>This sentence is split</p><foo>over two tags</foo>"
    # no sentence-ending tags: ONE sentence spans the tags
    assert sents(two_tags, sentence_ending_tags=set()) == [
        "This sentence is split over two tags"]
    # cleanXmlEndSentences("p"): break at p
    assert sents(two_tags, sentence_ending_tags={"p"}) == [
        "This sentence is split", "over two tags"]
    # nested tags
    assert sents("<p><p>This text is in a</p>nested tag</p>",
                 sentence_ending_tags={"p"}) == [
        "This text is in a", "nested tag"]
    assert sents("<p><p>This text is in a</p>nested tag</p>",
                 sentence_ending_tags=set()) == [
        "This text is in a nested tag"]
    # flawed XML tolerated by default, rejected in strict mode
    flawed = "<text><p>This text <p>has closing tags wrong</text>"
    assert sents(flawed, sentence_ending_tags=set()) == [
        "This text has closing tags wrong"]
    with pytest.raises(ValueError):
        sents(flawed, allow_flawed_xml=False)
    with pytest.raises(ValueError):
        sents("<text>This text ends before all tags closed",
              allow_flawed_xml=False)
