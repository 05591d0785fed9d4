"""Pins for the round-4 self-review findings (sources/streaming/multimodal)."""

import sqlite3

from bert_namedentityrecognition_spark.sources import fixtures


def test_parse_warc_negative_content_length_terminates():
    """A corrupt record with Content-Length: -4 must resync (not spin the
    task forever by moving the cursor backwards) and still parse the good
    record after it."""
    from bert_namedentityrecognition_spark.sources.readers import parse_warc_bytes

    good_body = b"HTTP/1.1 200 OK\r\n\r\n<html>ok</html>"
    good = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://good\r\n"
        b"Content-Length: " + str(len(good_body)).encode() + b"\r\n\r\n"
        + good_body + b"\r\n\r\n"
    )
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://bad\r\n"
        b"Content-Length: -4\r\n\r\npayload\r\n\r\n"
    )
    rows = parse_warc_bytes(bad + good)
    assert [r["url"] for r in rows] == ["https://good"]
    assert rows[0]["html"] == b"<html>ok</html>"


def test_articles_xml_attr_quote_roundtrip(spark, tmp_path):
    """A double quote inside a header value must survive the write/read
    roundtrip (escaped as &quot; in the always-double-quoted attr)."""
    from bert_namedentityrecognition_spark.sources.readers import (
        read_articles_xml,
        write_articles_xml,
    )

    df = spark.createDataFrame(
        [("a1", {"id": "a1", "title": 'say "hi" & bye'}, "本文です。")],
        "article_id string, headers map<string,string>, text string",
    )
    out = str(tmp_path / "articles")
    write_articles_xml(df, out)
    got = read_articles_xml(spark, out).collect()
    assert len(got) == 1
    assert got[0].headers["title"] == 'say "hi" & bye'
    assert got[0].text == "本文です。"


def test_registered_custom_decoder_reaches_executors(spark):
    """DecoderRegistry.register on the driver must work: the callable is
    resolved driver-side and shipped in the closure (a worker-side name
    lookup only sees the module's import-time entries)."""
    import numpy as np

    from bert_namedentityrecognition_spark.multimodal.binary import (
        DecoderRegistry,
        extract_features,
    )

    def length_decoder(content, media_type):
        return np.array([float(len(content))], dtype=np.float32)

    DecoderRegistry.register("length", length_decoder)
    media = spark.createDataFrame(
        [("m1", "image/png", b"12345", None)],
        "media_id string, media_type string, content binary, "
        "meta struct<width:int,height:int,duration_ms:int,codec:string>",
    )
    rows = extract_features(media, decoder="length").collect()
    assert rows[0].status == "ok"
    assert rows[0].feature == [5.0]


def test_decode_error_degrades_per_row(spark):
    """A decoder that rejects a blob yields a decode_error row — one
    corrupt blob must not abort the job at scale."""
    from bert_namedentityrecognition_spark.multimodal.binary import (
        DecoderRegistry,
        extract_features,
        resize_media,
    )

    def picky(content, media_type):
        raise ValueError("truncated blob")

    DecoderRegistry.register("picky", picky)
    media = spark.createDataFrame(
        [("m1", "image/png", b"xx", None)],
        "media_id string, media_type string, content binary, "
        "meta struct<width:int,height:int,duration_ms:int,codec:string>",
    )
    rows = extract_features(media, decoder="picky").collect()
    assert rows[0].status == "decode_error"

    # 'real' resizer: per-row decoder_unavailable, not a task abort
    rows = resize_media(media, width=4, height=4, decoder="real").collect()
    assert rows[0].status == "decoder_unavailable"


def test_dim_from_csv_ids_stable_across_loads(spark, tmp_path):
    """entity_id is content-derived: the same CSV loaded twice (and with a
    different partitioning) yields identical ids per surface —
    monotonically_increasing_id did not."""
    from bert_namedentityrecognition_spark.sources.dims import dim_from_csv

    p = str(tmp_path / "dim.csv")
    with open(p, "w") as f:
        f.write("surface,canonical\n")
        for i in range(50):
            f.write(f"s{i},c{i}\n")
        f.write("s0,a_earlier_canonical\n")  # duplicate surface

    def ids(path):
        return {
            r.surface: (r.entity_id, r.canonical)
            for r in dim_from_csv(spark, path, "surface", "canonical").collect()
        }

    a, b = ids(p), ids(p)
    assert a == b
    # duplicate surface resolves value-deterministically (min canonical)
    assert a["s0"][1] == "a_earlier_canonical"


def test_dim_from_sqlite_integer_codes(spark, tmp_path):
    """MedDRA-style INTEGER codes must coerce to the all-string dim schema
    instead of crashing createDataFrame."""
    from bert_namedentityrecognition_spark.sources.dims import dim_from_sqlite

    p = str(tmp_path / "meddra.db")
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE llt (llt_code INTEGER, name TEXT, pt_code INTEGER)")
    con.execute("INSERT INTO llt VALUES (10019211, '頭痛', 10019206)")
    con.commit()
    con.close()
    rows = dim_from_sqlite(
        spark,
        p,
        "SELECT llt_code AS entity_id, name AS surface, name AS canonical, "
        "pt_code AS code FROM llt",
    ).collect()
    assert rows[0].entity_id == "10019211"
    assert rows[0].code == "10019206"


def test_streaming_pairs_html_fallback(spark):
    """A WARC-shaped page (text=None, html set) must flow through
    streaming_pairs via the shared _pages_text_source contract instead of
    being silently dropped (rule 10)."""
    from bert_namedentityrecognition_spark.streaming.stream_pipeline import (
        streaming_pairs,
    )

    text = "ロキソニンを服用後、頭痛が出現した。"
    html = ("<html><body><p>" + text + "</p></body></html>").encode()
    pages = spark.createDataFrame(
        [("https://h", None, html, None, "ja")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    dim = fixtures.entity_dim_to_spark(spark)
    pairs = streaming_pairs(
        pages, [r.asDict() for r in dim.collect()], fixtures.pipeline_term_types()
    ).collect()
    assert {(r.subj, r.obj) for r in pairs} == {("ロキソニン", "頭痛")}


def test_oici_normalizer_cycle_fails_loudly():
    """A dictionary whose keys are not closed under han_to_zen made the
    reference's OICINormalizer recurse forever (OICI_database.py:55-58);
    the twin raises a clear ValueError naming the defect instead of dying
    of RecursionError."""
    import pytest

    from bert_namedentityrecognition_spark.oracle.normalize import (
        ExactThenFuzzyNormalizer,
    )

    n = ExactThenFuzzyNormalizer({"abc": "X"}, threshold=60)
    assert n.normalize("abc") == "X"  # raw exact hit still works
    with pytest.raises(ValueError, match="closed under han_to_zen"):
        n.normalize("ａｂｃ")  # zenkaku form of the key: fuzzy 100 → cycle


def test_exact_match_empty_term_returns_nothing():
    """str.find('') matches at every position without advancing — an empty
    term must return [] instead of spinning forever."""
    from bert_namedentityrecognition_spark.oracle.matcher import exact_match

    assert exact_match("abc", "") == []


def test_accuracy_raises_on_length_mismatch():
    """seqeval's accuracy_score raises on mismatched lengths; a nested zip
    silently truncated and inflated the score."""
    import pytest

    from bert_namedentityrecognition_spark.oracle.metrics import accuracy

    assert accuracy([["O", "B-x"]], [["O", "B-x"]]) == 1.0
    with pytest.raises(ValueError, match="token count mismatch"):
        accuracy([["O", "O", "O", "B-x"]], [["O", "O"]])
    with pytest.raises(ValueError, match="sequence count mismatch"):
        accuracy([["O"]], [])


def test_pred_patterns_rsplit_allows_equals_in_regex(capsys):
    """The predicate NAME is the part after the LAST '=' — a regex with a
    literal '=' must parse correctly, not silently mangle."""
    from scripts.run_pipeline import main

    # parse path only: invalid pages-dir aborts later, but the pattern
    # validation runs first; use a spec that would mis-split under
    # split('=', 1)
    import pytest

    with pytest.raises(SystemExit):
        main(["--pages-dir", "/nonexistent", "--out", "/tmp/x",
              "--resume", "--checkpoint", "c.npz",
              "--pred-patterns", "用量=[0-9]+=DOSE"])
    err = capsys.readouterr().err
    # rejected for checkpoint+resume (parse succeeded past the patterns)
    assert "not supported with --resume" in err


def test_check_oracles_norm_val_zero_sign():
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    from check_oracles import norm_val

    assert norm_val(-0.0) == norm_val(0.0) == "0.000000"
