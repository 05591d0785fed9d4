"""The page contract is in the schema: a pages frame without an ``html``
column needs no html→text fallback. ``read_warc``'s parser derives ``text``
from the html bytes in its own Python section and returns
(url, warc_ts, text, lang), so its output and every frame derived from it
(a union, a filter, a withColumn) plan no fallback; pages that carry html
take it.

Each test compares with the fallback path over the same archived bytes
(parquet-style pages: null text and the html ``parse_warc_bytes`` returns
for each record) or with a replay of the oracle kernels.
"""

import gzip
import os

import pytest
from pyspark.sql import functions as F

from bert_namedentityrecognition_spark.operators.sentences import (
    MAX_LEN,
    pages_to_sentences,
    prepare_pages,
)
from bert_namedentityrecognition_spark.operators.tagger import extract_mentions
from bert_namedentityrecognition_spark.oracle.textproc import (
    html_to_text,
    preprocess_text,
    split_sentences,
)
from bert_namedentityrecognition_spark.plans.oracle_pipeline import oracle_mentions
from bert_namedentityrecognition_spark.sources import fixtures
from bert_namedentityrecognition_spark.sources.readers import parse_warc_bytes, read_warc
from tests.test_kg_tail import _plan_nodes, _seq

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
TERMS = fixtures.WARC_TERM_TYPES
DRUG, SYM = fixtures.WARC_DRUGS[0], fixtures.WARC_SYMS[0]
SCRIPT_ONLY = b"<html><head><script>var s = '" + SYM.encode() + b"';</script></head></html>"
ENTITIES = (
    f"<html><body><p>{DRUG}&amp;{SYM} &lt;{DRUG}&gt;。</p>"
    f"<p>&#x{ord(SYM[0]):x};{SYM[1:]}&nbsp;が出た。</p></body></html>"
).encode()
SCRIPT_URL = "https://warc.example/script-only"
ENTITIES_URL = "https://warc.example/entities"
EXTRA_URL, EXTRA_TEXT = "https://warc.example/extra", f"{DRUG}を服用した。{SYM}が出た。"
FALLBACK = ("ArrowEvalPythonExec", ["_html_to_text_batch"])
DERIVED = ("as_read", "union", "filter", "withColumn")


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    """Plain and gzip segments of the gate's corpus, plus a plain segment
    with a script-only page (its text is ``""``) and an entity-heavy page."""
    d = tmp_path_factory.mktemp("warc")
    fixtures.write_warc_fixture(str(d), 100)
    ts = fixtures.generate_warc_corpus(1)[0]["ts"]
    extra = fixtures.warc_record_bytes(SCRIPT_URL, ts, SCRIPT_ONLY)
    extra += fixtures.warc_record_bytes(ENTITIES_URL, ts, ENTITIES)
    (d / "seg0100.warc").write_bytes(extra)
    assert sorted(p.suffix for p in d.iterdir()) == [".gz", ".warc", ".warc"]
    return str(d)


def _archived(d):
    """(url, warc_ts, html) of every response record under ``d``, by the
    reader's kernel."""
    out = []
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            blob = f.read()
        if name.endswith(".gz"):
            blob = gzip.decompress(blob)
        out += [(r["url"], r["warc_ts"], r["html"]) for r in parse_warc_bytes(blob)]
    return out


def _fallback_pages(spark, d):
    """Parquet-style pages of the same archive: text null, html the
    archived bytes, so every page takes the fallback."""
    rows = [(url, ts, html, None, None) for url, ts, html in _archived(d)]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def _derive(kind, df):
    """``df`` as read, or a frame derived from it."""
    if kind == "union":
        extra = df.sparkSession.createDataFrame(
            [(EXTRA_URL, None, EXTRA_TEXT, None)],
            "url string, warc_ts timestamp, text string, lang string",
        )
        return df.unionByName(extra, allowMissingColumns=True)
    if kind == "filter":
        return df.filter(F.col("url") != ENTITIES_URL)
    if kind == "withColumn":
        return df.withColumn("source", F.lit("cc"))
    return df


def _derive_raw(kind, raw):
    """The oracle's page dicts for ``_derive(kind, ...)``."""
    if kind == "union":
        return raw + [{"url": EXTRA_URL, "html": None, "text": EXTRA_TEXT}]
    if kind == "filter":
        return [r for r in raw if r["url"] != ENTITIES_URL]
    return raw


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _python_nodes(df):
    """(node, [udf names]) of every Python node of ``df``'s executed plan,
    root first."""
    df.collect()
    out = []
    for name, p in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if "Python" in name or "Pandas" in name:
            names = []
            if name == "ArrowEvalPythonExec":
                udfs = p.udfs()
                names = [udfs.apply(i).name() for i in range(udfs.size())]
            out.append((name, names))
    return out


# --- plan shape -----------------------------------------------------------------


@pytest.mark.parametrize("lang_filter", [None, "cjk"])
def test_warc_mention_stage_runs_two_python_sections(spark, warc_dir, lang_filter):
    """The reader's section and the tagger's, for ``read_warc`` output and
    for frames derived from it: no ArrowEvalPython between. Pages that
    carry html plan the fallback, once."""
    two = [("MapInPandasExec", []), ("MapInPandasExec", [])]
    for kind in DERIVED:
        pages = prepare_pages(_derive(kind, read_warc(spark, warc_dir)))
        assert _python_nodes(extract_mentions(pages, TERMS, lang_filter)) == two, kind
        assert _python_nodes(pages_to_sentences(pages, lang_filter)) == two, kind
    fallback = prepare_pages(_fallback_pages(spark, warc_dir))
    assert _python_nodes(extract_mentions(fallback, TERMS, lang_filter)) == [
        ("MapInPandasExec", []),
        FALLBACK,
    ]


def test_html_fallback_evaluated_once_on_html_input(spark):
    """Catalyst must not copy the fallback UDF into a pushed filter or a
    collapsed projection: one ArrowEvalPython runs ``html_to_text``. Over
    raw html-only pages ``pages_to_sentences`` runs the page contract in
    its one ``mapInPandas``."""
    rows = [("u1", None, ENTITIES, None, None), ("u2", None, SCRIPT_ONLY, None, None)]
    html_only = spark.createDataFrame(rows, PAGES_SCHEMA)
    mentions = extract_mentions(prepare_pages(html_only), TERMS, lang_filter=None)
    assert _python_nodes(mentions) == [("MapInPandasExec", []), FALLBACK]
    sentences = pages_to_sentences(html_only, lang_filter=None)
    assert _python_nodes(sentences) == [("MapInPandasExec", [])]
    assert _rows(sentences) == _replay(rows, None) != []


def test_warc_gate_parses_the_fixture_once(spark, sf_dir):
    """``warc_ingest_mentions`` reads the prepared pages on two sides, the
    mentions and the per-url text hash: building and collecting it scans
    the WARC fixture once, counted over every SQL execution it runs."""
    import __spark_entry__ as E

    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def recent_executions():
        """The last 50 finished SQL executions, oldest first."""
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return _seq(store.executionsList(max(0, n - 50), min(n, 50))) if n else []

    first = max((e.executionId() for e in recent_executions()), default=-1)
    E.queries()["warc_ingest_mentions"](spark, sf_dir).collect()
    scans = [
        node.name()
        for e in recent_executions()
        if e.executionId() > first
        for node in _seq(store.planGraph(e.executionId()).allNodes())
        if node.name().startswith("Scan binaryFile")
    ]
    assert len(scans) == 1


# --- rows equal the fallback path's -------------------------------------------


def test_read_warc_schema_carries_no_html(spark, warc_dir):
    pages = read_warc(spark, warc_dir)
    assert pages.schema.simpleString() == (
        "struct<url:string,warc_ts:timestamp,text:string,lang:string>"
    )
    texts = {r.url: r.text for r in pages.collect()}
    assert texts == {url: html_to_text(html) for url, _, html in _archived(warc_dir)}
    assert texts[SCRIPT_URL] == ""
    assert "<" in texts[ENTITIES_URL]  # &lt; unescaped


def test_warc_rows_equal_the_fallback_path(spark, warc_dir):
    """For ``read_warc`` output and each derived frame: ``prepare_pages``
    returns the fallback path's rows minus html, and the mentions and
    sentences equal the fallback path's and the oracle's."""
    raw = [{"url": u, "html": h, "text": None} for u, _, h in _archived(warc_dir)]
    for kind in DERIVED:
        warc = _derive(kind, read_warc(spark, warc_dir))
        fallback = _derive(kind, _fallback_pages(spark, warc_dir))
        prepared, prepared_fb = prepare_pages(warc), prepare_pages(fallback)
        assert _rows(prepared) == _rows(prepared_fb.drop("html")), kind
        for lang_filter in (None, "cjk"):
            got = _rows(extract_mentions(prepared, TERMS, lang_filter))
            assert got == _rows(extract_mentions(prepared_fb, TERMS, lang_filter)), kind
            assert _rows(pages_to_sentences(prepared, lang_filter)) == _rows(
                pages_to_sentences(prepared_fb, lang_filter)
            ), kind
        assert _rows(pages_to_sentences(warc, None)) == _rows(
            pages_to_sentences(fallback, None)
        ), kind
        want = sorted(
            (tuple(m.values()) for m in oracle_mentions(_derive_raw(kind, raw), TERMS, None)),
            key=repr,
        )
        assert want and _rows(extract_mentions(prepared, TERMS, None)) == want, kind


# --- html decides the fallback -----------------------------------------------------


def test_frames_with_html_take_the_fallback(spark, warc_dir):
    warc = read_warc(spark, warc_dir)
    html_only = spark.createDataFrame(
        [("https://warc.example/html-only", None, ENTITIES, None, None)], PAGES_SCHEMA
    )
    # the union brings an html column: the html-only page takes the fallback
    union = warc.unionByName(html_only, allowMissingColumns=True)
    filled = {r.url: r.text for r in prepare_pages(union).collect()}
    assert filled["https://warc.example/html-only"] == html_to_text(ENTITIES)
    assert filled[SCRIPT_URL] == ""  # the reader's page has no html: still no text
    want = oracle_mentions(
        [{"url": "https://warc.example/html-only", "html": ENTITIES, "text": None}],
        TERMS,
        lang_filter=None,
    )
    assert want
    for pages in (union, prepare_pages(union)):
        got = extract_mentions(pages, TERMS, None).filter(
            F.col("url") == "https://warc.example/html-only"
        )
        assert _rows(got) == sorted((tuple(m.values()) for m in want), key=repr)
    sentences = pages_to_sentences(union, lang_filter=None)
    assert sentences.filter(F.col("url") == "https://warc.example/html-only").count() == len(
        split_sentences(preprocess_text(html_to_text(ENTITIES)))
    )

    # html added: the page whose text is empty is derived from the new bytes
    with_html = warc.withColumn("html", F.lit(ENTITIES))
    page = {r.url: r for r in prepare_pages(with_html).collect()}[SCRIPT_URL]
    assert page.text == html_to_text(ENTITIES) != ""
    assert pages_to_sentences(with_html, lang_filter=None).filter(
        F.col("url") == SCRIPT_URL
    ).count() == len(split_sentences(preprocess_text(page.text)))
    # no html: text blanked leaves nothing to derive
    blanked = warc.withColumn("text", F.lit(""))
    assert extract_mentions(blanked, TERMS, None).count() == 0
    assert pages_to_sentences(blanked, lang_filter=None).count() == 0


def test_prepare_pages_is_a_fixed_point(spark):
    """On a frame mixing ``""``/null text with null/non-null html,
    ``prepare_pages`` twice equals once, and a row without html is prepared
    as it would be in a frame without an html column: its ``""`` text stays
    ``""`` and gets a lang guess."""
    no_html = [
        ("https://warc.example/empty", None, None, "", None),
        ("https://warc.example/empty-ja", None, None, "", "ja"),
        ("https://warc.example/null", None, None, None, None),
        ("https://warc.example/null-en", None, None, None, "en"),
        (EXTRA_URL, None, None, EXTRA_TEXT, None),
    ]
    with_html = [
        (SCRIPT_URL, None, SCRIPT_ONLY, "", None),
        (ENTITIES_URL, None, ENTITIES, None, None),
        ("https://warc.example/text-and-html", None, ENTITIES, EXTRA_TEXT, "ja"),
    ]
    pages = spark.createDataFrame(no_html + with_html, PAGES_SCHEMA)
    once = prepare_pages(pages)
    assert _rows(prepare_pages(once)) == _rows(once)
    got = {r.url: (r.text, r.lang) for r in once.collect()}
    assert got["https://warc.example/empty"][0] == ""
    text_only = spark.createDataFrame(no_html, PAGES_SCHEMA).drop("html")
    assert {u: got[u] for u, *_ in no_html} == {
        r.url: (r.text, r.lang) for r in prepare_pages(text_only).collect()
    }
    assert got[SCRIPT_URL][0] == "" and got[ENTITIES_URL][0] == html_to_text(ENTITIES)


# --- pages_to_sentences on degenerate input, with and without html ----------------


def _replay(rows, lang_filter):
    """(url, sent_id, sent) by the oracle kernels: the html→text fallback,
    preprocess, split, sent_ids before the length cut."""
    out = []
    for url, _, html, text, lang in rows:
        if not text:
            text = html_to_text(html) if html is not None else ""
        if not text or (lang_filter is not None and lang != lang_filter):
            continue
        out += [
            (url, sid, sent)
            for sid, sent in enumerate(split_sentences(preprocess_text(text)))
            if len(sent) <= MAX_LEN
        ]
    return sorted(out, key=repr)


def _sentences(spark, rows, lang_filter, partitions=None):
    """pages_to_sentences rows of the raw frame, of its prepare_pages output
    and of that output without its html column, per variant."""
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    if partitions is not None:
        pages = pages.repartition(partitions)
    prepared = prepare_pages(pages)
    variants = {"raw": pages, "prepared": prepared, "text_only": prepared.drop("html")}
    return {
        name: _rows(pages_to_sentences(df, lang_filter=lang_filter))
        for name, df in variants.items()
    }


def _mixed_rows(url):
    """Text, html-only, script-only, entity and overlong pages, lang set."""
    return [
        (url(0), None, None, f"{DRUG}を服用した。{SYM}が出た。", "ja"),
        (url(1), None, ENTITIES, None, "ja"),
        (url(2), None, SCRIPT_ONLY, None, "ja"),
        (url(3), None, ENTITIES, "", "en"),
        (url(4), None, None, "頭" * (MAX_LEN + 1) + "。短い。", "ja"),
        (url(5), None, b"<p>" + SYM.encode() + b"</p>", f"{DRUG}。", "ja"),
    ]


@pytest.mark.parametrize("lang_filter", [None, "ja"])
def test_pages_to_sentences_empty_frame(spark, lang_filter):
    got = _sentences(spark, [], lang_filter)
    assert got == {"raw": [], "prepared": [], "text_only": []}


@pytest.mark.parametrize("lang_filter", [None, "ja"])
def test_pages_to_sentences_all_null_text_and_html(spark, lang_filter):
    rows = [(f"u{i}", None, None, None, "ja") for i in range(4)]
    got = _sentences(spark, rows, lang_filter)
    assert got == {"raw": [], "prepared": [], "text_only": []}


@pytest.mark.parametrize("lang_filter", [None, "ja"])
def test_pages_to_sentences_one_partition_equals_four(spark, lang_filter):
    rows = _mixed_rows(lambda i: f"https://ex.com/{i}")
    want = _replay(rows, lang_filter)
    assert want
    for partitions in (1, 4):
        got = _sentences(spark, rows, lang_filter, partitions)
        assert got == {"raw": want, "prepared": want, "text_only": want}


def test_pages_to_sentences_duplicate_urls_across_partitions(spark):
    rows = _mixed_rows(lambda i: "https://ex.com/dup") * 2
    want = _replay(rows, None)
    got = _sentences(spark, rows, None, partitions=4)
    assert got == {"raw": want, "prepared": want, "text_only": want}


def test_pages_to_sentences_non_ascii_urls(spark):
    rows = _mixed_rows(lambda i: f"https://例え.jp/ページ/{i}?q={SYM}")
    want = _replay(rows, "ja")
    assert {u for u, _, _ in want} > {rows[0][0], rows[1][0]}
    got = _sentences(spark, rows, "ja", partitions=4)
    assert got == {"raw": want, "prepared": want, "text_only": want}
