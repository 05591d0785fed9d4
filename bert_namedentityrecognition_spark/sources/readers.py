"""Source readers — the reference's scan operators as lazy DataFrame scans.

| reference                                   | here                         |
|---------------------------------------------|------------------------------|
| ``util/Dataset.py`` NaN-skip text corpora    | ``read_text_corpus``         |
| ``util/Dataset.py:72-116`` Twitter CSV dir   | ``read_csv_dir``             |
| ``predict_for_jst_data.py:17-31`` JSON lines | ``read_jsonl``               |
| ``train_data_IM_v6.py:11-18`` TSV corpus     | ``read_tsv``                 |
| ``BERT/data_utils.py:1-20`` CoNLL IOB files  | ``read_conll``               |
| ``util/xml_parser.py`` articles XML          | ``read_articles_xml``        |

All return DataFrames; nothing is materialized on the driver. The CoNLL and
articles-XML readers use one Arrow stage for the stateful parse (sentence /
article grouping), keyed by file + line so results are deterministic under
any partitioning.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from xml.sax.saxutils import unescape as _unescape

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..oracle.textproc import html_to_text


def read_text_corpus(spark: SparkSession, path: str, text_col: str = "value") -> DataFrame:
    """Text files; blank/whitespace rows dropped (NaN-skip semantics)."""
    df = spark.read.text(path).withColumn("source_file", F.input_file_name())
    return df.filter(F.trim(F.col(text_col)) != "").withColumnRenamed(text_col, "text")


def read_csv_dir(
    spark: SparkSession, path: str, text_column: int = 1, header: bool = False
) -> DataFrame:
    df = spark.read.option("header", str(header).lower()).csv(path)
    col = df.columns[text_column]
    return df.select(F.col(col).alias("text")).filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )


def read_jsonl(spark: SparkSession, path: str, field: str) -> DataFrame:
    """JSON-lines scan projecting one field; missing-key rows dropped."""
    df = spark.read.json(path)
    if field not in df.columns:
        return spark.createDataFrame([], "text string")
    return df.select(F.col(field).alias("text")).filter(F.col("text").isNotNull())


def read_tsv(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    return (
        spark.read.option("sep", "\t")
        .option("header", str(header).lower())
        .csv(path)
    )


_CONLL_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)


def read_conll(spark: SparkSession, path: str) -> DataFrame:
    """CoNLL/IOB files (token\\ttag rows, blank-line sentence breaks) →
    (source_file, sent_id, tokens, tags). Whole-file grouping per Arrow
    batch (wholeTextFiles keeps sentence boundaries intact per file)."""
    raw = spark.read.text(path, wholetext=True).withColumn(
        "source_file", F.input_file_name()
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"source_file": [], "sent_id": [], "tokens": [], "tags": []}
            for fname, content in zip(pdf["source_file"], pdf["value"]):
                sid = 0
                for block in content.split("\n\n"):
                    rows = [r.split("\t") for r in block.split("\n") if r != ""]
                    if not rows:
                        continue
                    out["source_file"].append(fname)
                    out["sent_id"].append(sid)
                    out["tokens"].append([r[0] for r in rows])
                    out["tags"].append([r[1] if len(r) > 1 else "O" for r in rows])
                    sid += 1
            yield pd.DataFrame(out)

    return raw.mapInPandas(parse, schema=_CONLL_SCHEMA)


_ARTICLE_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType()),
        T.StructField("article_id", T.StringType()),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType())),
        T.StructField("text", T.StringType()),
    ]
)

_ARTICLE_RE = re.compile(
    r"<article\b([^>]*)>(.*?)</article>", re.DOTALL | re.IGNORECASE
)
_ATTR_RE = re.compile(r"(\w+)\s*=\s*\"([^\"]*)\"")


def read_articles_xml(spark: SparkSession, path: str) -> DataFrame:
    """``<articles><article id=...>text</article>...`` corpus scan
    (``util/xml_parser.py:23-96`` shape): regex-parsed headers → map column,
    article body → text. Whole-file per batch; lazy across files."""
    raw = spark.read.text(path, wholetext=True).withColumn(
        "source_file", F.input_file_name()
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"source_file": [], "article_id": [], "headers": [], "text": []}
            for fname, content in zip(pdf["source_file"], pdf["value"]):
                for m in _ARTICLE_RE.finditer(content):
                    headers = {
                        k: _unescape(v, {"&quot;": '"'})
                        for k, v in _ATTR_RE.findall(m.group(1))
                    }
                    out["source_file"].append(fname)
                    out["article_id"].append(headers.get("id"))
                    out["headers"].append(headers)
                    out["text"].append(m.group(2).strip())
            yield pd.DataFrame(out)

    return raw.mapInPandas(parse, schema=_ARTICLE_SCHEMA)


def read_yakureki_txt(spark: SparkSession, path: str) -> DataFrame:
    """Yakureki txt-folder scan (``util/Dataset.py:119-144``): first line is
    ``%id,drug,ade,place`` metadata, remainder is the text. One Arrow stage
    per whole file."""
    raw = spark.read.text(path, wholetext=True).withColumn(
        "source_file", F.input_file_name()
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"source_file": [], "case_id": [], "drug": [], "ade": [], "text": []}
            for fname, content in zip(pdf["source_file"], pdf["value"]):
                lines = content.split("\n")
                header = lines[0].lstrip("%").split(",") if lines else []
                header += [None] * (4 - len(header))
                out["source_file"].append(fname)
                out["case_id"].append(header[0])
                out["drug"].append(header[1])
                out["ade"].append(header[2])
                out["text"].append("\n".join(lines[1:]).strip())
            yield pd.DataFrame(out)

    return raw.mapInPandas(
        parse,
        schema="source_file string, case_id string, drug string, ade string, text string",
    )


def write_conll(df: DataFrame, path: str) -> None:
    """CoNLL IOB sink (``util/xml_parser.py:186-214`` shape): ``token\\ttag``
    rows, blank line between sentences; one text part per partition."""

    def fmt(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            blocks = []
            for _, row in pdf.iterrows():
                blocks.append(
                    "\n".join(f"{t}\t{g}" for t, g in zip(row["tokens"], row["tags"]))
                )
            yield pd.DataFrame({"value": ["\n\n".join(blocks)]})

    df.mapInPandas(fmt, schema="value string").write.mode("overwrite").text(path)


def write_articles_xml(df: DataFrame, path: str) -> None:
    """Fixture-boundary sink mirroring ``articles_to_xml``
    (``util/xml_parser.py:247-266``): one XML part per partition.

    The body is written RAW, exactly like the reference — article text is
    tagged NER markup (inline entity tags are the payload), so escaping it
    would destroy the format. Consequence shared with the reference: a
    body containing a literal ``</article>`` truncates that article on
    re-read (the reference's ``check_xml_structure`` likewise drops
    mismatched articles). Attribute VALUES are minimally escaped
    (``& " <``) so a quote in a header cannot corrupt the attr framing."""
    from xml.sax.saxutils import escape

    header_col = "headers" if "headers" in df.columns else None

    def fmt(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            rows = []
            for _, row in pdf.iterrows():
                attrs = ""
                if header_col and isinstance(row[header_col], dict):
                    # always double-quoted (the reader's attr regex expects
                    # k="v"), with the quote char itself entity-escaped
                    attrs = "".join(
                        ' {}="{}"'.format(k, escape(str(v), {'"': "&quot;"}))
                        for k, v in sorted(row[header_col].items())
                    )
                rows.append(f"<article{attrs}>{row['text']}</article>")
            yield pd.DataFrame({"value": ["\n".join(rows)]})

    (
        df.mapInPandas(fmt, schema="value string")
        .write.mode("overwrite")
        .text(path)
    )


# --- WARC (Common Crawl container format) -----------------------------------

_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def parse_warc_bytes(blob: bytes) -> list[dict]:
    """Parse WARC/1.0 bytes → (url, warc_ts, html, text, lang) records
    (response records only; ``read_warc`` returns all but ``html``).

    Proper record framing: read the WARC header block (terminated by
    CRLFCRLF), take exactly Content-Length payload bytes, skip the record
    separator. For ``response`` records the payload is an HTTP message —
    the body after its own header block becomes the ``html`` bytes and
    ``html_to_text`` of those bytes the ``text`` (``""`` for a page with no
    text, e.g. script only) — the same kernel as the pipeline's html→text
    fallback, run here while the bytes are already in Python.
    Multi-member gzip (the per-record compression Common Crawl uses) is
    handled upstream by ``gzip`` transparently.
    """
    import datetime as _dt

    rows = []
    i = 0
    n = len(blob)
    while i < n:
        head_end = blob.find(b"\r\n\r\n", i)
        if head_end < 0:
            break
        header_block = blob[i:head_end].decode("utf-8", errors="replace")
        if not header_block.lstrip().startswith("WARC/"):
            i = head_end + 4
            continue
        headers = {}
        for line in header_block.split("\r\n")[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
            if length < 0:
                # a negative length would move the cursor BACKWARDS and
                # re-find the same header forever (task spins at 100% CPU)
                raise ValueError("negative Content-Length")
        except (KeyError, ValueError):
            # malformed framing: a CRLFCRLF scan could land inside an HTTP
            # payload and emit garbage records — resync at the next WARC
            # record magic instead, dropping this record cleanly
            nxt = blob.find(b"\r\n\r\nWARC/", head_end)
            i = n if nxt < 0 else nxt + 4
            continue
        payload = blob[head_end + 4 : head_end + 4 + length]
        i = head_end + 4 + length
        # consume the record separator (CRLFCRLF), tolerant of variants
        while i < n and blob[i : i + 2] == b"\r\n":
            i += 2
        if headers.get("warc-type") != "response":
            continue
        http_end = payload.find(b"\r\n\r\n")
        body = payload[http_end + 4 :] if http_end >= 0 else payload
        ts = None
        if "warc-date" in headers:
            try:
                ts = _dt.datetime.fromisoformat(
                    headers["warc-date"].replace("Z", "+00:00")
                ).replace(tzinfo=None)
            except ValueError:
                ts = None
        rows.append(
            {
                "url": headers.get("warc-target-uri"),
                "warc_ts": ts,
                "html": body,
                "text": html_to_text(body),
                "lang": None,
            }
        )
    return rows


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files → the pages(url, warc_ts, text, lang) input table.

    Spark-first shape: ``binaryFile`` scan (one task per file — Common Crawl
    ships ~1 GB segment files, so file-level parallelism is the natural
    split; WARC gzip members are not block-splittable) → one ``mapInPandas``
    stage running the framing parser per file. ``.gz`` members decompress
    transparently (Python gzip reads concatenated members).

    ``text`` is ``html_to_text(html)``, derived by the parser in the same
    Python section that holds the bytes (the same kernel as the pipeline's
    html→text fallback, so the byte-identical-text invariant stays rooted
    in the archived bytes). The html bytes themselves are not returned:
    nothing downstream reads them, and Spark cannot prune a column out of
    a ``mapInPandas`` output. Without an ``html`` column the pages contract
    (``operators/sentences._pages_text_source``) plans no html→text
    fallback, for this frame and for every frame derived from it.
    ``lang`` is null until ``prepare_pages`` guesses it. The kernel,
    :func:`parse_warc_bytes`, still returns the html of each record.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gzip

        for pdf in batches:
            out = []
            for p, content in zip(pdf["path"], pdf["content"]):
                blob = bytes(content)
                if p.endswith(".gz") or blob[:2] == b"\x1f\x8b":
                    blob = gzip.decompress(blob)
                out.extend(parse_warc_bytes(blob))
            yield pd.DataFrame(out, columns=_PAGES_SCHEMA.fieldNames())

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(run, schema=_PAGES_SCHEMA)


def write_ntriples(
    triples: DataFrame,
    path: str,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> None:
    """N-Triples sink: one ``<subj> <pred> "literal" .`` line per row
    (W3C RDF 1.1) — the standards-format KG export next to the Excel
    pivot (SURVEY §2.2; kernel: ``oracle/ntriples.py``).

    The ECHAR escape runs as a JVM-side chained ``replace`` (backslash
    FIRST — later replacements only introduce backslashes that are
    already escaped), inside whole-stage codegen: no Python in the sink.
    Escape-direction chaining is exact; only UNESCAPE needs a real
    scanner (see ``read_ntriples``).  Partitioned text write — one part
    file per task, safe at any scale."""
    esc = F.col(obj).cast("string")
    for raw, rep in (
        ("\\", "\\\\"),
        ('"', '\\"'),
        ("\n", "\\n"),
        ("\r", "\\r"),
        ("\t", "\\t"),
    ):
        esc = F.replace(esc, F.lit(raw), F.lit(rep))
    line = F.concat(
        F.lit("<"), F.col(subj), F.lit("> <"), F.col(pred),
        F.lit('> "'), esc, F.lit('" .'),
    )
    triples.select(line.alias("value")).write.mode("overwrite").text(path)


_NT_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
    ]
)


def read_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """N-Triples scan: text lines → (subj, pred, obj) with the literal
    UNESCAPED by the left-to-right kernel scanner (chained replaces would
    corrupt ``\\\\n`` — escaped backslash then letter n; rule 6: the
    kernel in ``oracle/ntriples.py`` is the one semantics source).  Blank
    lines and ``#`` comments are skipped; malformed lines raise — a
    truncated export fails loudly.  ONE ``mapInPandas`` stage (rule 1)."""
    from ..oracle.ntriples import parse_line

    raw = spark.read.text(path)

    def parse(chunks: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in chunks:
            rows = [p for p in (parse_line(v) for v in pdf["value"]) if p]
            yield pd.DataFrame(rows, columns=["subj", "pred", "obj"])

    return raw.mapInPandas(parse, schema=_NT_SCHEMA)
