"""Deterministic synthetic fixtures (seed=42, no external data).

Generates the Common-Crawl-style ``pages`` corpus of BASELINE.json's
input_hint — ``(url, warc_ts, html, text, lang)`` — plus the canonical
``entity_dim`` dimension table of FIXTURES.md §4. Content is medical-NER
styled (drug / symptom surfaces) so the KG pipeline exercises every
reference path:

- multi-sentence texts (。-terminated, exercises the split regex)
- half-width surfaces (han_to_zen path, ``BERT/Model.py:403-405``)
- a > 512-char sentence (drop path, ``util/text_utils.py:50-61``)
- null / empty texts (NaN-skip, ``scripts/predict/predict_for_xls_folder.py:56-58``)
- duplicate mentions in one doc (dedup, ``ade_table/ade_table.py:25-27``)
- drug-only docs ("No Symptoms", ``ade_table/ade_table.py:41-46``)
- one hot drug in ~30% of docs (skew / salting path)
- non-ja rows (lang filter)
- near-miss dictionary spellings at controlled edit distance (fuzzy join)
- alias chains A→B→C (connected-components canonicalization)

Everything is derived from ``random.Random(seed)`` — same seed, same corpus,
on any machine. The generator is pure Python returning row dicts; Spark /
pandas / DuckDB ingestion is the caller's choice.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random

HOT_DRUG = "ロキソニン"

DRUGS = [
    "ロキソニン",
    "アスピリン",
    "イブプロフェン",
    "カロナール",
    "バファリン",
    "ボルタレン",
    "セレコックス",
    "リリカ",
]
# half-width variants that han_to_zen folds onto full-width dictionary surfaces
DRUGS_HALFWIDTH = {"バファリン": "ﾊﾞﾌｧﾘﾝ", "ロキソニン": "ﾛｷｿﾆﾝ"}

SYMPTOMS = [
    "頭痛",
    "発熱",
    "腹痛",
    "めまい",
    "嘔吐",
    "倦怠感",
    "発疹",
    "動悸",
]

# canonical ids for the dimension table
DRUG_IDS = {d: f"DRG{i:03d}" for i, d in enumerate(DRUGS)}
SYMPTOM_IDS = {s: f"SYM{i:03d}" for i, s in enumerate(SYMPTOMS)}

# near-miss surfaces (edit distance 1-2 from a real surface) — fuzzy path
NEAR_MISS = {
    "ロキソニソ": "ロキソニン",  # dist 1
    "アスピリソ": "アスピリン",
    "頭痛い": "頭痛",
    "発熱感": "発熱",
}

# alias chains for connected components: surface aliases pointing at the
# same canonical entity through intermediate ids
ALIAS_CHAINS = [
    ("ロキソプロフェン", "ロキソニン"),  # A -> B (B already canonical)
    ("ロキソプロフェンナトリウム", "ロキソプロフェン"),  # C -> A (chain)
]

_TEMPLATES = [
    "{drug}を服用後、{symptom}が出現した。",
    "{drug}の投与により{symptom}を認めた。",
    "{symptom}に対して{drug}を処方した。",
    "{drug}内服中に{symptom}および{symptom2}が見られた。",
    "患者は{drug}と{drug2}を併用し、{symptom}を訴えた。",
    "{drug}を中止したところ{symptom}は改善した。",
]
_FILLER = [
    "経過は良好である。",
    "特記すべき所見はない。",
    "定期検査を実施した。",
    "既往歴に特記事項なし。",
]


def generate_pages(
    n_docs: int = 200,
    seed: int = 42,
    min_sents: int = 1,
    max_sents: int = 5,
) -> list[dict]:
    """Synthetic pages rows: url, warc_ts, html, text, lang."""
    rng = random.Random(seed)
    rows: list[dict] = []
    base_ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for i in range(n_docs):
        url = f"https://crawl.example/{i:07d}"
        ts = base_ts + dt.timedelta(minutes=i * 13 % 50000)
        lang = "ja" if rng.random() < 0.85 else rng.choice(["en", "zh"])
        kind = rng.random()
        if kind < 0.03:
            text = None  # NaN-skip path
        elif kind < 0.05:
            text = ""  # empty path
        elif kind < 0.08:
            # >512-char single sentence (drop path)
            text = "こ" * 600 + "。"
        else:
            n_sent = rng.randint(min_sents, max_sents)
            sents = []
            hot = rng.random() < 0.30
            for _ in range(n_sent):
                t = rng.choice(_TEMPLATES)
                drug = HOT_DRUG if hot else rng.choice(DRUGS)
                if rng.random() < 0.10 and drug in DRUGS_HALFWIDTH:
                    drug = DRUGS_HALFWIDTH[drug]
                symptom = rng.choice(SYMPTOMS)
                if rng.random() < 0.05:
                    symptom = rng.choice(list(NEAR_MISS))
                sent = t.format(
                    drug=drug,
                    drug2=rng.choice(DRUGS),
                    symptom=symptom,
                    symptom2=rng.choice(SYMPTOMS),
                )
                sents.append(sent)
                hot = False
                if rng.random() < 0.3:
                    sents.append(rng.choice(_FILLER))
            if rng.random() < 0.10:  # drug-only doc (No Symptoms path)
                sents = [f"{rng.choice(DRUGS)}を処方した。"]
            if rng.random() < 0.10:  # duplicate-mention doc
                sents.append(sents[0])
            text = "".join(sents)
        html = (
            ("<html><body>" + (text or "") + "</body></html>").encode("utf-8")
            if text is not None
            else None
        )
        rows.append(
            {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang}
        )
    return rows


def generate_entity_dim() -> list[dict]:
    """Canonical-entity dimension rows (FIXTURES.md §4)."""
    rows: list[dict] = []
    for surface, eid in DRUG_IDS.items():
        rows.append(
            {
                "entity_id": eid,
                "surface": surface,
                "canonical": surface,
                "code": "ATC" + hashlib.md5(surface.encode()).hexdigest()[:4].upper(),
                "kind": "drug",
                "human_check": None,
            }
        )
    for surface, sid in SYMPTOM_IDS.items():
        rows.append(
            {
                "entity_id": sid,
                "surface": surface,
                "canonical": surface,
                "code": "ICD" + hashlib.md5(surface.encode()).hexdigest()[:4].upper(),
                "kind": "symptom",
                "human_check": None,
            }
        )
    # short surface (≤2 chars) exercising the candidate floor
    rows.append(
        {
            "entity_id": "SYM900",
            "surface": "咳",
            "canonical": "咳嗽",
            "code": "ICDR05",
            "kind": "symptom",
            "human_check": None,
        }
    )
    return rows


def generate_alias_edges() -> list[dict]:
    """Alias edges (src_surface -> dst_surface) for canonicalization."""
    return [{"src": a, "dst": b} for a, b in ALIAS_CHAINS]


def pipeline_term_types() -> dict[str, str]:
    """Tagger dictionary for the e2e pipeline: dimension surfaces plus the
    near-miss spellings (the NER model would emit unseen surfaces too —
    including them makes the fuzzy-normalization path fire end-to-end)."""
    tt = {d: "drug" for d in DRUGS}
    tt.update({s: "symptom" for s in SYMPTOMS})
    for near, target in NEAR_MISS.items():
        tt[near] = "drug" if target in DRUG_IDS else "symptom"
    return tt


def pages_to_spark(spark, rows: list[dict]):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )
    return spark.createDataFrame(rows, schema=schema)


def entity_dim_to_spark(spark, rows: list[dict] | None = None):
    from pyspark.sql import types as T

    from .dims import local_frame

    schema = T.StructType(
        [
            T.StructField("entity_id", T.StringType(), False),
            T.StructField("surface", T.StringType(), False),
            T.StructField("canonical", T.StringType(), True),
            T.StructField("code", T.StringType(), True),
            T.StructField("kind", T.StringType(), False),
            T.StructField("human_check", T.StringType(), True),
        ]
    )
    return local_frame(spark, rows or generate_entity_dim(), schema)


# --- WARC ingest fixture (driver-gate raw-source scan) -----------------------

WARC_DRUGS = ["アスピリン", "イブプロフェン", "ロキソプロフェン"]
WARC_SYMS = ["腹痛", "めまい", "発疹"]
WARC_TERM_TYPES = {
    **{d: "drug" for d in WARC_DRUGS},
    **{s: "symptom" for s in WARC_SYMS},
}
WARC_URL_PREFIX = "https://warc.example/"


def generate_warc_corpus(n_pages: int, seed: int = 7) -> list[dict]:
    """Ground-truth corpus for the WARC ingest gate query: per page the
    KNOWN sentence strings, the html that wraps them (entity-escaped, with
    a script subtree the extractor must drop), the EXPECTED extracted text
    (derived from the ground-truth strings, NOT from the extractor — the
    oracle pins the kernel against this), the WARC-Date timestamp, and the
    expected lang. Prefix-stable: page i's rng draws depend only on pages
    < i, so ``generate_warc_corpus(n)[i] == generate_warc_corpus(m)[i]``.

    Term vocabulary is closed and non-overlapping (no term a substring of
    another, no cross-term in-text overlap possible), so greedy matching
    degenerates to plain substring counting — the property the SQL twin's
    length-replace occurrence counting needs; the gate's generation-time
    assertion re-checks it against the Aho-Corasick matcher per sentence.
    """
    import html as _htmllib

    rng = random.Random(seed)
    base_ts = dt.datetime(2024, 3, 1)
    rows: list[dict] = []
    for i in range(n_pages):
        url = f"{WARC_URL_PREFIX}{i:07d}"
        ts = base_ts + dt.timedelta(minutes=i * 7 % 40000)
        is_en = i % 10 == 9
        if is_en:
            title = f"document {i}."
            sents = ["the patient took medicine and felt fine."]
            lang = "en"
        else:
            # full-width digits: han_to_zen must be IDENTITY on ja pages so
            # the fused stage's normalization cannot move any byte the md5
            # invariant or the matcher sees
            fw = str(i).translate(str.maketrans("0123456789", "０１２３４５６７８９"))
            title = f"文書{fw}。"
            sents = []
            n_sent = rng.randint(1, 4)
            for j in range(n_sent):
                d = rng.choice(WARC_DRUGS)
                s = rng.choice(WARC_SYMS)
                t = rng.randrange(4) if j else rng.randrange(3)
                if t == 0:
                    sents.append(f"{d}を服用した後、{s}が現れた。")
                elif t == 1:
                    sents.append(f"{s}のため{d}の投与を中止した。")
                elif t == 2:
                    d2 = rng.choice(WARC_DRUGS)
                    sents.append(f"{d}と{d2}を併用し、{s}を認めた。")
                else:
                    sents.append("経過は良好だった。")
            lang = "cjk"
        body = "".join(f"<p>{_htmllib.escape(s)}</p>" for s in sents)
        html_doc = (
            f"<html><head><title>{title}</title>"
            f"<script>var x = {i};</script></head>"
            f"<body>{body}</body></html>"
        )
        rows.append(
            {
                "url": url,
                "ts": ts,
                "title": title,
                "sents": sents,
                "html": html_doc.encode("utf-8"),
                # ground truth, independent of the extractor: title line +
                # one line per <p> block
                "text": "\n".join([title] + sents),
                "lang": lang,
            }
        )
    return rows


def warc_record_bytes(url: str, ts: dt.datetime, html: bytes) -> bytes:
    """One WARC/1.0 response record wrapping an HTTP response."""
    payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    )
    return head.encode("utf-8") + payload + b"\r\n\r\n"


def write_warc_fixture(base_dir: str, n_pages: int, segment_pages: int = 50) -> str:
    """Materialize the first ``n_pages`` ground-truth pages as WARC segment
    files under ``base_dir`` (every 2nd segment gzipped, so even the
    smallest sf fixture — 2 segments — carries both container forms under
    the gate). Deterministic contents; rewritten on each call."""
    import glob
    import gzip
    import os

    os.makedirs(base_dir, exist_ok=True)
    for stale in glob.glob(os.path.join(base_dir, "seg*")):
        os.remove(stale)  # a leftover segment would duplicate records
    rows = generate_warc_corpus(n_pages)
    for seg_start in range(0, n_pages, segment_pages):
        seg = rows[seg_start : seg_start + segment_pages]
        blob = b"".join(
            warc_record_bytes(r["url"], r["ts"], r["html"]) for r in seg
        )
        idx = seg_start // segment_pages
        if idx % 2 == 1:
            path = os.path.join(base_dir, f"seg{idx:04d}.warc.gz")
            data = gzip.compress(blob, mtime=0)  # mtime=0: byte-deterministic
        else:
            path = os.path.join(base_dir, f"seg{idx:04d}.warc")
            data = blob
        with open(path, "wb") as f:
            f.write(data)
    return base_dir


ARTICLE_TERM_TYPES = WARC_TERM_TYPES  # same closed, non-overlapping vocab


def generate_articles_corpus(n_articles: int, seed: int = 11) -> list[dict]:
    """Ground-truth corpus for the XML sink→scan roundtrip gate query
    (``xml_articles_roundtrip``): per article the header map HANDED TO the
    sink (``headers``), the body text handed to the sink (``text_in``),
    and the EXPECTED values after ``write_articles_xml`` →
    ``read_articles_xml`` (``text_out`` — equal to ``text_in`` except for
    the documented truncation quirk below). Prefix-stable like
    ``generate_warc_corpus``: article i depends only on draws < i.

    Exercises the format's edge semantics on a deterministic cadence:

    - attr-value escaping (``&``, ``"``, ``<`` in the ``src`` header —
      `readers.py:write_articles_xml` escapes, the scan's ``_unescape``
      inverts);
    - RAW body roundtrip: inline NER-style markup (``<adr>…</adr>``)
      passes through unescaped — the payload of the reference's format
      (``util/xml_parser.py:247-266``);
    - the shared truncation quirk: a body containing a literal
      ``</article>`` truncates at it on re-read (reference's
      ``check_xml_structure`` likewise drops the tail); ``text_out`` is
      the truncated-and-stripped prefix, and the discarded tail never
      contains ``<article`` so no phantom article appears.

    Every article carries ≥1 vocabulary term INSIDE ``text_out`` (asserted
    here), so every article's md5/headers row is actually compared by the
    gate; terms never overlap, so length-replace counting equals greedy
    matching.
    """
    rng = random.Random(seed)
    drugs, syms = WARC_DRUGS, WARC_SYMS
    rows: list[dict] = []
    for i in range(n_articles):
        aid = f"a{i:05d}"
        src = (
            f'journal "{i % 7}" & <eds>' if i % 4 == 1 else f"journal {i % 7}"
        )
        headers = {"id": aid, "src": src, "year": str(2000 + i % 20)}
        sents = []
        for j in range(rng.randint(1, 3)):
            d, s = rng.choice(drugs), rng.choice(syms)
            t = rng.randrange(3)
            if t == 0:
                sents.append(f"{d}を服用した後、{s}が現れた。")
            elif t == 1:
                sents.append(f"{s}のため<adr>{d}</adr>の投与を中止した。")
            else:
                sents.append(f"{d}と{rng.choice(drugs)}を併用し、{s}を認めた。")
        text_in = "\n".join(sents)
        if i % 37 == 17:
            text_out = text_in  # prefix survives, tail is truncated
            text_in = text_in + "</article>切断された残り。"
        else:
            text_out = text_in
        assert any(t in text_out for t in ARTICLE_TERM_TYPES), aid
        assert "<article" not in text_in
        assert text_out == text_out.strip()
        rows.append(
            {
                "article_id": aid,
                "headers": headers,
                "text_in": text_in,
                "text_out": text_out,
            }
        )
    return rows


MEDDRA_PT_MOD = 200  # fixed PT vocabulary size (independent of n: prefix-stable)


def generate_meddra_fixture(n_llt: int) -> dict:
    """Ground-truth MedDRA-shaped fixture for the SQLite two-hop gate
    (``meddra_two_hop_normalize``): pure integer arithmetic, no rng, so
    the SQL twin replays it exactly and prefix-stability is trivial.

    - ``pt``: the FULL fixed 200-row PT vocabulary (always all rows — the
      PT table is a closed dimension, only LLT scales with sf);
    - ``llt``: n rows; every ``i % 11 == 5`` row REUSES row i−1's surface
      under a different llt_code (exercises the value-deterministic
      surface dedup in ``two_hop_dim``); every ``i % 7 == 3`` row points
      at a pt_code absent from ``pt`` (exercises the left-join
      ``coalesce(pt_name, surface)`` fallback);
    - ``mentions``: 4n rows, mention j's surface is llt row
      ``(7j+3) mod n``'s.
    """
    pt = [(90000 + k, f"標準症状{k:03d}") for k in range(MEDDRA_PT_MOD)]
    llt = []
    for i in range(n_llt):
        if i % 11 == 5 and i > 0:
            surface = llt[i - 1][1]
        else:
            surface = f"症状{i:04d}の痛み"
        ptc = 99990000 + i if i % 7 == 3 else 90000 + (i * 13 % MEDDRA_PT_MOD)
        llt.append((80000000 + i, surface, ptc))
    assert any(i % 11 == 5 for i in range(n_llt)), n_llt
    assert any(i % 7 == 3 for i in range(n_llt)), n_llt
    mentions = [(j, llt[(j * 7 + 3) % n_llt][1]) for j in range(4 * n_llt)]
    return {"llt": llt, "pt": pt, "mentions": mentions}


def write_meddra_sqlite(path: str, n_llt: int) -> str:
    """Materialize the fixture as a real SQLite file (the §2.1 MedDRA
    source shape: ``llt(llt_code, surface, pt_code)``, ``pt(pt_code,
    pt_name)``). Recreated on every call — stale DBs from another n would
    change the scan."""
    import os
    import sqlite3

    fx = generate_meddra_fixture(n_llt)
    if os.path.exists(path):
        os.remove(path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with sqlite3.connect(path) as con:
        con.execute("CREATE TABLE llt (llt_code INTEGER, surface TEXT, pt_code INTEGER)")
        con.execute("CREATE TABLE pt (pt_code INTEGER, pt_name TEXT)")
        con.executemany("INSERT INTO llt VALUES (?,?,?)", fx["llt"])
        con.executemany("INSERT INTO pt VALUES (?,?)", fx["pt"])
        con.commit()
    return path


def generate_conll_sentences(n_sents: int) -> list[dict]:
    """Ground-truth sentences for the CoNLL sink→scan roundtrip gate
    (``conll_roundtrip``): pure arithmetic (no rng, prefix-stable by
    construction). Every sentence is unique (tokens embed the index), so
    set-comparison survives the sink's partition-order nondeterminism;
    tokens avoid tab/newline/space (the format's delimiters). Tags cycle
    O → B-{C,D} → I-{C,D} on an index-shifted cadence so every sentence
    mixes entity and O tokens and both tag families appear."""
    rows = []
    for i in range(n_sents):
        fam = "C" if i % 2 else "D"
        tokens, tags = [], []
        for k in range(3 + i % 5):
            r = (i + k) % 3
            tokens.append(f"語{i:04d}_{k}")
            tags.append("O" if r == 0 else (f"B-{fam}" if r == 1 else f"I-{fam}"))
        rows.append({"tokens": tokens, "tags": tags})
    return rows


def oici_excel_rows(n_rows: int) -> list[dict]:
    """Ground truth for the Excel-scan gate (``oici_excel_normalize``):
    pure arithmetic. ``human_check`` is MISSING (no B cell at all) on the
    ``i % 5 == 2`` cadence — the reference's NaN-skip shape
    (``knowledge_bases/OICI_database.py:8-20``). String-only values so
    any Excel engine (pandas or the stdlib zip+XML fallback) yields
    identical strings."""
    return [
        {
            "word": f"症状{i:04d}漢",
            "human_check": None if i % 5 == 2 else f"標準{i:04d}",
        }
        for i in range(n_rows)
    ]


def write_oici_xlsx(path: str, n_rows: int) -> str:
    """Materialize ``oici_excel_rows`` as a real OOXML spreadsheet via
    stdlib zipfile: header + word cells on the ``i % 3 == 0`` cadence go
    through the sharedStrings table, the rest are inline strings — both
    cell encodings exercised at every scale factor."""
    import os
    import zipfile
    from xml.sax.saxutils import escape

    rows = oici_excel_rows(n_rows)
    shared = ["word", "human_check"] + [
        r["word"] for i, r in enumerate(rows) if i % 3 == 0
    ]
    sidx = {s: k for k, s in enumerate(shared)}
    ss = (
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
        + "</sst>"
    )
    body = [
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
    ]
    for i, r in enumerate(rows):
        rr = i + 2
        if i % 3 == 0:
            a = f'<c r="A{rr}" t="s"><v>{sidx[r["word"]]}</v></c>'
        else:
            a = f'<c r="A{rr}" t="inlineStr"><is><t>{escape(r["word"])}</t></is></c>'
        b = (
            ""
            if r["human_check"] is None
            else f'<c r="B{rr}" t="inlineStr"><is><t>{escape(r["human_check"])}</t></is></c>'
        )
        body.append(f'<row r="{rr}">{a}{b}</row>')
    sheet = (
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>" + "".join(body) + "</sheetData></worksheet>"
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
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if os.path.exists(path):
        os.remove(path)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", types)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/sharedStrings.xml", ss)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return path


def generate_raw_corpus(n_docs: int) -> list[dict]:
    """Ground truth for the multi-format raw-scan gate
    (``raw_corpus_scans``): per doc the text (no comma/tab/quote/newline —
    the wrapped formats' delimiters; asserted) plus the Yakureki header
    fields. Pure arithmetic, prefix-stable."""
    rows = []
    for i in range(n_docs):
        text = f"文書{i:04d}はテスト文{i % 7}を含む。"
        assert not any(c in text for c in ',\t"\n'), text
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "case_id": f"case{i}",
                "drug": f"drug{i % 5}",
                "ade": f"ade{i % 3}",
            }
        )
    return rows


def write_raw_corpus_fixtures(base_dir: str, n_docs: int) -> dict:
    """Materialize the SAME ground-truth corpus in four raw formats, each
    salted with rows its scan must DROP (NaN-skip semantics):

    - ``csv/``: 4 headerless files of ``id,text`` rows + one empty-text
      row per file (``read_csv_dir`` drops null/blank text);
    - ``corpus.jsonl``: one object per line + one missing-field decoy
      (``read_jsonl`` drops rows without the projected field);
    - ``corpus.tsv``: header + ``doc_id\\ttext`` rows (``read_tsv``);
    - ``yakureki/``: one file per doc — ``%case,drug,ade,place`` header
      line then the text (``read_yakureki_txt``).
    """
    import json as _json
    import os
    import shutil

    rows = generate_raw_corpus(n_docs)
    shutil.rmtree(base_dir, ignore_errors=True)
    csv_dir = os.path.join(base_dir, "csv")
    yak_dir = os.path.join(base_dir, "yakureki")
    os.makedirs(csv_dir)
    os.makedirs(yak_dir)
    n_files = 4
    for f in range(n_files):
        chunk = rows[f::n_files]
        with open(os.path.join(csv_dir, f"part{f}.csv"), "w", encoding="utf-8") as fh:
            for r in chunk:
                fh.write(f"{r['doc_id']},{r['text']}\n")
            fh.write(f"{n_docs + f},\n")  # empty text → dropped by the scan
    jsonl = os.path.join(base_dir, "corpus.jsonl")
    with open(jsonl, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(_json.dumps({"text": r["text"]}, ensure_ascii=False) + "\n")
        fh.write(_json.dumps({"other": "decoy"}) + "\n")  # missing field → dropped
    tsv = os.path.join(base_dir, "corpus.tsv")
    with open(tsv, "w", encoding="utf-8") as fh:
        fh.write("doc_id\ttext\n")
        for r in rows:
            fh.write(f"{r['doc_id']}\t{r['text']}\n")
    for r in rows:
        with open(
            os.path.join(yak_dir, f"case{r['doc_id']:05d}.txt"), "w",
            encoding="utf-8",
        ) as fh:
            fh.write(f"%{r['case_id']},{r['drug']},{r['ade']},place\n{r['text']}")
    return {"csv": csv_dir, "jsonl": jsonl, "tsv": tsv, "yakureki": yak_dir}
