"""WARC pages arrive with text: ``read_warc``'s parser derives ``text`` from
the html bytes in its own Python section and marks the frame it returns
text-complete, so ``prepare_pages``, ``pages_to_sentences`` and the mention
stages plan no second html→text pass over it. Every frame derived from a
marked one takes the fallback again.

Each test compares with the unmarked path (text nulled or the mark dropped,
so the fallback UDF runs) or with a replay of the oracle kernels.
"""

import pytest
from pyspark.sql import functions as F

from bert_namedentityrecognition_spark.operators.sentences import (
    _is_text_complete,
    pages_to_sentences,
    prepare_pages,
)
from bert_namedentityrecognition_spark.operators.tagger import MAX_LEN, extract_mentions
from bert_namedentityrecognition_spark.oracle.textproc import (
    html_to_text,
    preprocess_text,
    split_sentences,
)
from bert_namedentityrecognition_spark.plans.oracle_pipeline import oracle_mentions
from bert_namedentityrecognition_spark.sources import fixtures
from bert_namedentityrecognition_spark.sources.readers import read_warc
from tests.test_kg_tail import _plan_nodes, _seq

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
TERMS = fixtures.WARC_TERM_TYPES
DRUG, SYM = fixtures.WARC_DRUGS[0], fixtures.WARC_SYMS[0]
SCRIPT_ONLY = b"<html><head><script>var s = '" + SYM.encode() + b"';</script></head></html>"
ENTITIES = (
    f"<html><body><p>{DRUG}&amp;{SYM} &lt;{DRUG}&gt;。</p>"
    f"<p>&#x{ord(SYM[0]):x};{SYM[1:]}&nbsp;が出た。</p></body></html>"
).encode()


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    """Plain and gzip segments of the gate's corpus, plus a plain segment
    with a script-only page (its text is ``""``) and an entity-heavy page."""
    d = tmp_path_factory.mktemp("warc")
    fixtures.write_warc_fixture(str(d), 100)
    ts = fixtures.generate_warc_corpus(1)[0]["ts"]
    extra = fixtures.warc_record_bytes("https://warc.example/script-only", ts, SCRIPT_ONLY)
    extra += fixtures.warc_record_bytes("https://warc.example/entities", ts, ENTITIES)
    (d / "seg0100.warc").write_bytes(extra)
    assert sorted(p.suffix for p in d.iterdir()) == [".gz", ".warc", ".warc"]
    return str(d)


def _unmarked(spark, d):
    """``read_warc`` rows with text nulled: every page takes the fallback."""
    return read_warc(spark, d).withColumn("text", F.lit(None).cast("string"))


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
    """The reader's section and the tagger's: no ArrowEvalPython between."""
    marked = extract_mentions(prepare_pages(read_warc(spark, warc_dir)), TERMS, lang_filter)
    assert _python_nodes(marked) == [("MapInPandasExec", []), ("MapInPandasExec", [])]
    # the unmarked frame plans the fallback, once
    unmarked = extract_mentions(prepare_pages(_unmarked(spark, warc_dir)), TERMS, lang_filter)
    assert [n for n, _ in _python_nodes(unmarked)] == [
        "MapInPandasExec",
        "ArrowEvalPythonExec",
        "MapInPandasExec",
    ]


def test_html_fallback_evaluated_once_on_unmarked_input(spark):
    """Catalyst must not copy the fallback UDF into a pushed filter or a
    collapsed projection: one ArrowEvalPython runs ``html_to_text``."""
    html_only = spark.createDataFrame(
        [("u1", None, ENTITIES, None, None), ("u2", None, SCRIPT_ONLY, None, None)],
        PAGES_SCHEMA,
    )
    fallback = ("ArrowEvalPythonExec", ["_html_to_text_batch"])
    mentions = extract_mentions(prepare_pages(html_only), TERMS, lang_filter=None)
    assert _python_nodes(mentions) == [("MapInPandasExec", []), fallback]
    sentences = pages_to_sentences(html_only, lang_filter=None)
    assert _python_nodes(sentences) == [
        ("ArrowEvalPythonExec", ["split_sentences_udf"]),
        fallback,
    ]


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


# --- rows equal the unmarked path's ----------------------------------------------


def test_marked_warc_rows_equal_unmarked(spark, warc_dir):
    marked, unmarked = read_warc(spark, warc_dir), _unmarked(spark, warc_dir)
    assert _is_text_complete(marked) and not _is_text_complete(unmarked)
    texts = {r.url: r.text for r in marked.collect()}
    assert texts["https://warc.example/script-only"] == ""
    assert "<" in texts["https://warc.example/entities"]  # &lt; unescaped

    prepared = prepare_pages(marked)
    assert _rows(prepared) == _rows(prepare_pages(unmarked))
    for lang_filter in (None, "cjk"):
        got = _rows(extract_mentions(prepared, TERMS, lang_filter))
        assert got == _rows(extract_mentions(prepare_pages(unmarked), TERMS, lang_filter))
        assert _rows(pages_to_sentences(prepared, lang_filter=lang_filter)) == _rows(
            pages_to_sentences(prepare_pages(unmarked), lang_filter=lang_filter)
        )
    assert _rows(pages_to_sentences(marked, lang_filter=None)) == _rows(
        pages_to_sentences(unmarked, lang_filter=None)
    )
    # and the mentions are the oracle's over the raw bytes
    raw = [{"url": r.url, "html": bytes(r.html), "text": None} for r in unmarked.collect()]
    want = sorted(
        (tuple(m.values()) for m in oracle_mentions(raw, TERMS, lang_filter=None)), key=repr
    )
    assert _rows(extract_mentions(prepared, TERMS, None)) == want


# --- the mark does not survive a transformation ----------------------------------


def test_derived_frames_take_the_fallback(spark, warc_dir):
    marked = read_warc(spark, warc_dir)
    html_only = spark.createDataFrame(
        [("https://warc.example/html-only", None, ENTITIES, None, None)], PAGES_SCHEMA
    )
    union = marked.union(html_only)
    assert not _is_text_complete(union)
    filled = {r.url: r.text for r in prepare_pages(union).collect()}
    assert filled["https://warc.example/html-only"] == html_to_text(ENTITIES)
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

    # text blanked: the fallback restores it from the html bytes
    blanked = marked.withColumn("text", F.lit(""))
    assert _rows(prepare_pages(blanked)) == _rows(prepare_pages(marked))
    assert _rows(extract_mentions(blanked, TERMS, None)) == _rows(
        extract_mentions(marked, TERMS, None)
    )
    # html replaced: the page whose text is empty is derived from the new bytes
    appended = marked.withColumn("html", F.concat("html", F.lit(ENTITIES)))
    got = {r.url: r for r in prepare_pages(appended).collect()}
    page = got["https://warc.example/script-only"]
    assert page.text == html_to_text(bytes(page.html)) != ""
    assert pages_to_sentences(appended, lang_filter=None).filter(
        F.col("url") == "https://warc.example/script-only"
    ).count() == len(split_sentences(preprocess_text(page.text)))


# --- pages_to_sentences on degenerate input, marked and unmarked ------------------


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
    (marked) and of that output with the mark dropped, per variant."""
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    if partitions is not None:
        pages = pages.repartition(partitions)
    marked = prepare_pages(pages)
    assert _is_text_complete(marked)
    variants = {"raw": pages, "marked": marked, "unmarked": marked.select("*")}
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
    assert got == {"raw": [], "marked": [], "unmarked": []}


@pytest.mark.parametrize("lang_filter", [None, "ja"])
def test_pages_to_sentences_all_null_text_and_html(spark, lang_filter):
    rows = [(f"u{i}", None, None, None, "ja") for i in range(4)]
    got = _sentences(spark, rows, lang_filter)
    assert got == {"raw": [], "marked": [], "unmarked": []}


@pytest.mark.parametrize("lang_filter", [None, "ja"])
def test_pages_to_sentences_one_partition_equals_four(spark, lang_filter):
    rows = _mixed_rows(lambda i: f"https://ex.com/{i}")
    want = _replay(rows, lang_filter)
    assert want
    for partitions in (1, 4):
        got = _sentences(spark, rows, lang_filter, partitions)
        assert got == {"raw": want, "marked": want, "unmarked": want}


def test_pages_to_sentences_duplicate_urls_across_partitions(spark):
    rows = _mixed_rows(lambda i: "https://ex.com/dup") * 2
    want = _replay(rows, None)
    got = _sentences(spark, rows, None, partitions=4)
    assert got == {"raw": want, "marked": want, "unmarked": want}


def test_pages_to_sentences_non_ascii_urls(spark):
    rows = _mixed_rows(lambda i: f"https://例え.jp/ページ/{i}?q={SYM}")
    want = _replay(rows, "ja")
    assert {u for u, _, _ in want} > {rows[0][0], rows[1][0]}
    got = _sentences(spark, rows, "ja", partitions=4)
    assert got == {"raw": want, "marked": want, "unmarked": want}

