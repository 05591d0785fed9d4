"""Round-2 fixes: reference one-liners, token_set_ratio parity, stdlib xlsx
scan, WARC resync, lang pass-through, plan-only strict PRF, degenerate-input
guards."""

from __future__ import annotations

import zipfile

import pytest


# --- token_set_ratio searchTerm parity --------------------------------------


def test_search_candidates_token_set_ratio_matches_reference_semantics(spark):
    """The token_set_ratio variant must reproduce searchTerm
    (knowledge_bases/manbyo.py:44-49): score every dictionary row with
    fuzz.token_set_ratio, sort desc, top-k — including a reordered
    multi-token surface where the levenshtein variant ranks differently."""
    from bert_namedentityrecognition_spark.operators.normalize import (
        search_candidates_topk,
    )
    from bert_namedentityrecognition_spark.oracle.fuzzy import token_set_ratio

    dim_rows = [
        ("acute severe headache", "H1"),
        ("headache severe acute", "H2"),
        ("mild headache", "H3"),
        ("stomach ache", "H4"),
    ]
    dim = spark.createDataFrame(dim_rows, "surface string, canonical string")
    surfaces = spark.createDataFrame(
        [("severe acute headache",)], "word string"
    )
    got = (
        search_candidates_topk(surfaces, dim, k=3, scorer="token_set_ratio")
        .orderBy("rank")
        .collect()
    )
    # pure-Python reference replay (deterministic tie-break: score desc,
    # surface asc — the operator's documented total order)
    scored = sorted(
        (
            (round(token_set_ratio("severe acute headache", s), 6), s, c)
            for s, c in dim_rows
        ),
        key=lambda t: (-t[0], t[1]),
    )[:3]
    assert [(r.surface, r.canonical, r.score) for r in got] == [
        (s, c, sc) for sc, s, c in scored
    ]
    # token-set semantics: both orderings of the same tokens score 100
    assert got[0].score == 100.0 and got[1].score == 100.0
    # and the default levenshtein scorer disagrees on the reordered surface
    lev = (
        search_candidates_topk(surfaces, dim, k=3, scorer="levenshtein")
        .orderBy("rank")
        .collect()
    )
    assert lev[0].score < 100.0


def test_token_set_ratio_single_token_equals_indel():
    """For whitespace-free (Japanese) surfaces token_set_ratio degenerates to
    fuzz.ratio — the regime where the default scorer substitution is safe."""
    from bert_namedentityrecognition_spark.oracle.fuzzy import ratio, token_set_ratio

    for a, b in [("頭痛", "頭痛症"), ("ロキソニン", "ロキソニソ"), ("発熱", "めまい")]:
        assert token_set_ratio(a, b) == ratio(a, b)


# --- stdlib xlsx scan --------------------------------------------------------


def _write_min_xlsx(path):
    """Minimal OOXML spreadsheet: shared + inline strings, a numeric cell,
    and a row with a missing human_check cell."""
    shared = ["word", "human_check", "頭痛", "頭痛症", "めまい"]
    ss = (
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(f"<si><t>{s}</t></si>" for s in shared)
        + "</sst>"
    )
    sheet = (
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2" t="s"><v>3</v></c></row>'
        '<row r="3"><c r="A3" t="inlineStr"><is><t>発熱</t></is></c></row>'
        '<row r="4"><c r="A4" t="s"><v>4</v></c><c r="B4"><v>42</v></c></row>'
        "</sheetData></worksheet>"
    )
    types = (
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/></Types>'
    )
    workbook = (
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"/>'
        "</sheets></workbook>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", types)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/sharedStrings.xml", ss)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


def test_dim_from_excel_stdlib_fallback(spark, tmp_path):
    from bert_namedentityrecognition_spark.sources.dims import (
        dim_from_excel,
        read_xlsx_rows,
    )

    p = tmp_path / "oici.xlsx"
    _write_min_xlsx(str(p))
    rows = read_xlsx_rows(str(p))
    assert rows == [
        {"word": "頭痛", "human_check": "頭痛症"},
        {"word": "発熱", "human_check": None},
        {"word": "めまい", "human_check": "42"},
    ]
    dim = dim_from_excel(spark, str(p)).orderBy("entity_id").collect()
    assert [(r.surface, r.canonical) for r in dim] == [
        ("頭痛", "頭痛症"),
        ("発熱", None),
        ("めまい", "42"),
    ]
    assert all(r.kind == "symptom" for r in dim)


# --- WARC malformed-framing resync ------------------------------------------


def test_warc_malformed_content_length_resyncs_at_next_record():
    from bert_namedentityrecognition_spark.sources.readers import parse_warc_bytes

    body = b"HTTP/1.1 200 OK\r\n\r\n<html>good</html>"
    good = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://ex.com/good\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body + b"\r\n\r\n"
    )
    # record with a garbage Content-Length whose HTTP payload contains a
    # CRLFCRLF — naive +4 resync would emit spurious records from inside it
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://ex.com/bad\r\n"
        b"Content-Length: oops\r\n\r\n"
        b"HTTP/1.1 200 OK\r\n\r\n<html>trap\r\n\r\nWARC-like text</html>\r\n\r\n"
    )
    rows = parse_warc_bytes(bad + good)
    assert [r["url"] for r in rows] == ["http://ex.com/good"]
    assert bytes(rows[0]["html"]) == b"<html>good</html>"
    # missing Content-Length entirely → same clean skip
    rows = parse_warc_bytes(
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://x/\r\n\r\n"
        b"payload\r\n\r\n" + good
    )
    assert [r["url"] for r in rows] == ["http://ex.com/good"]


# --- prepare_pages lang pass-through ----------------------------------------


def test_prepare_pages_preserves_lang_when_text_unfillable(spark):
    from bert_namedentityrecognition_spark.operators.sentences import prepare_pages

    pages = spark.createDataFrame(
        [("u1", None, None, None, "ja")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = prepare_pages(pages).collect()[0]
    assert got.text is None and got.lang == "ja"


# --- plan-only strict PRF ----------------------------------------------------


def test_strict_span_prf_is_plan_only_and_correct(spark):
    from bert_namedentityrecognition_spark.operators.metrics import (
        strict_span_counts,
        strict_span_prf,
    )

    schema = "url string, sent_id int, start int, end int, type string"
    gold = spark.createDataFrame(
        [("u", 0, 0, 2, "C"), ("u", 0, 5, 8, "C"), ("u", 1, 0, 3, "M")], schema
    )
    pred = spark.createDataFrame(
        [("u", 0, 0, 2, "C"), ("u", 0, 5, 9, "C"), ("u", 2, 1, 2, "M")], schema
    )
    r = strict_span_prf(gold, pred).collect()[0]
    assert (r.tp, r.fp, r.fn) == (1, 2, 2)
    assert r.precision == pytest.approx(1 / 3)
    assert r.recall == pytest.approx(1 / 3)
    assert r.f1 == pytest.approx(1 / 3)
    c = strict_span_counts(gold, pred).collect()[0]
    assert (c.tp, c.fp, c.fn) == (r.tp, r.fp, r.fn)
    # zero-denominator guard
    empty = spark.createDataFrame([], schema)
    z = strict_span_prf(empty, empty).collect()[0]
    assert (z.precision, z.recall, z.f1) == (0.0, 0.0, 0.0)


# --- degenerate-input percentiles -------------------------------------------


# --- pattern-based predicates -------------------------------------------------


def test_build_triples_patterned_precedence_dedup_floors(spark):
    """First matching pattern wins; per-sentence dedup; ≥2-char floor on
    both sides; default predicate when nothing matches."""
    from bert_namedentityrecognition_spark.operators.triples import (
        build_triples_patterned,
    )

    sents = spark.createDataFrame(
        [
            ("u1", 0, "aspirin stopped then rash improved"),   # both patterns → first wins
            ("u1", 1, "aspirin caused rash"),                  # second pattern
            ("u2", 0, "tylenol with itch and itch again"),     # no pattern → default
            ("u3", 0, "x y"),                                  # short mentions drop
        ],
        "url string, sent_id int, sent string",
    )
    mentions = spark.createDataFrame(
        [
            ("u1", 0, "drug", "aspirin"),
            ("u1", 0, "symptom", "rash"),
            ("u1", 1, "drug", "aspirin"),
            ("u1", 1, "symptom", "rash"),
            ("u2", 0, "drug", "tylenol"),
            ("u2", 0, "symptom", "itch"),
            ("u2", 0, "symptom", "itch"),  # duplicate mention → dedup
            ("u3", 0, "drug", "x"),        # < 2 chars → floor
            ("u3", 0, "symptom", "y"),
        ],
        "url string, sent_id int, type string, word string",
    )
    patterns = [("improved", "IMPROVED_ON_WITHDRAWAL"), ("caused", "CAUSES")]
    got = {
        (r.subj, r.pred, r.obj): r["count"]
        for r in build_triples_patterned(
            mentions, sents, patterns, default_pred="CO_OCCURS_WITH"
        ).collect()
    }
    assert got == {
        ("aspirin", "IMPROVED_ON_WITHDRAWAL", "rash"): 1,
        ("aspirin", "CAUSES", "rash"): 1,
        ("tylenol", "CO_OCCURS_WITH", "itch"): 1,
    }


# --- lookbehind-free split reformulation (property) ---------------------------


def test_positional_split_equals_regex_split_property():
    """The e2e oracle's per-character split reformulation must equal the
    reference regex split on ALL whitespace-free texts, not just the fixture
    corpus — property-tested over a mixed JA/ASCII/delimiter alphabet."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bert_namedentityrecognition_spark.oracle.textproc import (
        positional_split_no_ws,
        split_sentences,
    )

    alphabet = list("頭痛発熱。．.?？!！」あいabAB0９ー・") 
    alphabet = [c for c in alphabet if c != " "]

    @settings(max_examples=500, deadline=None)
    @given(st.text(alphabet=alphabet, max_size=24))
    def check(s):
        assert positional_split_no_ws(s) == split_sentences(s), repr(s)

    check()


# --- heatmap sink -------------------------------------------------------------


def test_heatmap_svg_sink(spark, tmp_path):
    """The §2.2 heatmap sink, dependency-free: top cell darkest-to-brightest
    ordering, one rect per matrix cell, labels present, file written."""
    import re
    import xml.etree.ElementTree as ET

    from bert_namedentityrecognition_spark.operators.triples import (
        _heat_color,
        write_heatmap_svg,
    )

    triples = spark.createDataFrame(
        [
            ("aspirin", "HAS_ADVERSE_EVENT", "rash", 9),
            ("aspirin", "HAS_ADVERSE_EVENT", "itch", 1),
            ("tylenol", "HAS_ADVERSE_EVENT", "rash", 3),
        ],
        "subj string, pred string, obj string, count long",
    )
    p = str(tmp_path / "ade.svg")
    write_heatmap_svg(triples, p)
    root = ET.parse(p).getroot()
    ns = "{http://www.w3.org/2000/svg}"
    rects = root.findall(f"{ns}rect")
    assert len(rects) == 4  # 2 subj × 2 obj
    labels = {t.text for t in root.findall(f"{ns}text")}
    assert {"aspirin", "tylenol", "rash", "itch"} <= labels
    # color ramp is monotone: the vmax cell gets the ramp's bright end
    fills = {r.find(f"{ns}title").text: r.get("fill") for r in rects}
    assert fills["aspirin × rash: 9"] == _heat_color(1.0)
    assert fills["aspirin × itch: 1"] != fills["aspirin × rash: 9"]


# --- findstem (reference quirks pinned) ---------------------------------------


def test_findstem_matches_reference_goldens():
    """Goldens captured by executing the reference function in isolation —
    including its quirks (last word unchecked; n<2 degenerate cases)."""
    from bert_namedentityrecognition_spark.oracle.textproc import findstem

    assert findstem(["flower", "flow", "flight"]) == "flow"  # flight unchecked
    assert findstem(["abc"]) == ""
    assert findstem([]) == ""
    assert findstem(["abcd", "zzz"]) == "zzz"  # 2-word quirk
    assert findstem(["grace", "graceful", "disgraceful"]) == "grace"
    assert findstem(["xy", "ab", "cd"]) == ""
    assert findstem(["頭痛", "頭痛薬", "偏頭痛"]) == "頭痛"
