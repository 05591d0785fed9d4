"""Tests for the §2-coverage fill: alignment quirk, Yakureki/CoNLL sinks,
sqlite/two-hop dims, distributed span-match taxonomy, CV stats."""

import sqlite3

import pytest
from pyspark.sql import functions as F

from bert_namedentityrecognition_spark.oracle.alignment import (
    drop_length_mismatches,
    normalize_tagged_dataset,
)


def test_normalize_tagged_dataset_duplicates_verbatim():
    # reference quirk: B- duplicated verbatim on expansion (dead-code guard)
    def expander(ch):
        return [ch, ch + "#"] if ch == "薬" else [ch]

    sents, tags = normalize_tagged_dataset(
        [["薬", "A"]], [["B-M", "I-M"]], tokenize=expander
    )
    assert sents == [["薬", "薬#", "Ａ"]]  # han_to_zen fullwidths ASCII
    assert tags == [["B-M", "B-M", "I-M"]]  # duplicated B (observed behavior)

    _, fixed = normalize_tagged_dataset(
        [["薬", "A"]], [["B-M", "I-M"]], tokenize=expander, fix_b_duplication=True
    )
    assert fixed == [["B-M", "I-M", "I-M"]]


def test_normalize_tagged_dataset_drops_space_tokens_and_hz():
    # the reference's space-drop comes from the WordPiece tokenizer emitting
    # [] for whitespace; emulate that tokenizer behavior here
    def tok(ch):
        return [] if ch.isspace() else [ch]

    sents, tags = normalize_tagged_dataset([["a", " ", "b"]], [["O", "O", "B-C"]], tok)
    assert sents == [["ａ", "ｂ"]]  # han_to_zen applied, space dropped
    assert tags == [["O", "B-C"]]


def test_drop_length_mismatches():
    g, p, n = drop_length_mismatches(
        [["a", "b"], ["c"]], [["O", "O"], ["O"]], [["O", "O"], ["O", "O"]]
    )
    assert g == [["O", "O"]] and p == [["O", "O"]] and n == 1


def test_yakureki_reader(spark, tmp_path):
    (tmp_path / "case1.txt").write_text(
        "%123,ロキソニン,頭痛,大阪\n服用後に頭痛が出た。\n経過観察。", encoding="utf-8"
    )
    from bert_namedentityrecognition_spark.sources.readers import read_yakureki_txt

    row = read_yakureki_txt(spark, str(tmp_path)).first()
    assert row.case_id == "123"
    assert row.drug == "ロキソニン"
    assert row.ade == "頭痛"
    assert row.text.startswith("服用後")


def test_conll_sink_roundtrip(spark, tmp_path):
    from bert_namedentityrecognition_spark.sources.readers import read_conll, write_conll

    df = spark.createDataFrame(
        [(0, ["頭", "痛"], ["B-C", "I-C"]), (1, ["薬"], ["B-M"])],
        "sent_id int, tokens array<string>, tags array<string>",
    )
    out = str(tmp_path / "iob")
    write_conll(df.coalesce(1), out)
    back = read_conll(spark, out).orderBy("sent_id").collect()
    assert [(r.tokens, r.tags) for r in back] == [
        (["頭", "痛"], ["B-C", "I-C"]),
        (["薬"], ["B-M"]),
    ]


def test_sqlite_dim_and_two_hop(spark, tmp_path):
    db = str(tmp_path / "meddra.sqlite")
    with sqlite3.connect(db) as con:
        con.execute("CREATE TABLE llt (llt_code int, surface text, pt_code int)")
        con.execute("CREATE TABLE pt (pt_code int, pt_name text)")
        con.executemany(
            "INSERT INTO llt VALUES (?,?,?)",
            [(1, "頭が痛い", 100), (2, "発熱する", 200), (3, "孤児", None)],
        )
        con.executemany("INSERT INTO pt VALUES (?,?)", [(100, "頭痛"), (200, "発熱")])
        con.commit()

    from bert_namedentityrecognition_spark.sources.dims import (
        dim_from_sqlite,
        two_hop_dim,
    )

    llt = dim_from_sqlite(
        spark,
        db,
        "SELECT llt_code AS entity_id, surface, surface AS canonical, pt_code AS code FROM llt",
    )
    assert llt.count() == 3

    llt_df = spark.createDataFrame(
        [(1, "頭が痛い", 100), (2, "発熱する", 200), (3, "孤児", None)],
        "llt_code int, surface string, pt_code int",
    )
    pt_df = spark.createDataFrame([(100, "頭痛"), (200, "発熱")], "pt_code int, pt_name string")
    hop = {r.surface: (r.canonical, r.code) for r in two_hop_dim(llt_df, pt_df).collect()}
    assert hop["頭が痛い"] == ("頭痛", "100")
    assert hop["孤児"] == ("孤児", None)  # no PT → surface kept


def test_span_match_taxonomy_distributed(spark):
    """Distributed scorer must reproduce the oracle's golden scenario #3
    (partial + exact → 0.75)."""
    from bert_namedentityrecognition_spark.operators.metrics import span_match_taxonomy

    gold = spark.createDataFrame(
        [("u", 0, 2, 6, "C"), ("u", 0, 10, 15, "C")],
        "url string, sent_id int, start int, end int, type string",
    )
    pred = spark.createDataFrame(
        [("u", 0, 1, 3, "C"), ("u", 0, 4, 6, "C"), ("u", 0, 10, 15, "C")],
        "url string, sent_id int, start int, end int, type string",
    )
    row = span_match_taxonomy(gold, pred).first()
    assert row.score == pytest.approx(0.75)
    assert row.exact_match == 1 and row.partial_match == 1


def test_fold_metric_stats(spark):
    from bert_namedentityrecognition_spark.operators.metrics import fold_metric_stats

    folds = spark.createDataFrame(
        [(0.8, 0.9), (0.6, 0.7)], "precision double, recall double"
    )
    row = fold_metric_stats(folds).first()
    assert row.precision_mean == pytest.approx(0.7)
    assert row.recall_mean == pytest.approx(0.8)
    assert row.precision_std == pytest.approx(0.1414, abs=1e-3)


def test_wordpiece_greedy_longest_match():
    from bert_namedentityrecognition_spark.oracle.wordpiece import (
        WordPieceTokenizer,
        char_vocab_with_pieces,
    )

    vocab = char_vocab_with_pieces(["頭痛がする"], extra_pieces=["頭痛", "##する"])
    tok = WordPieceTokenizer(vocab)
    assert tok.tokenize("頭痛がする") == ["頭痛", "##が", "##する"]
    assert tok.tokenize("頭が") == ["頭", "##が"]
    assert tok.tokenize("xyz") == ["[UNK]"]
    assert tok.tokenize("a b") == ["[UNK]", "[UNK]"]
    ids = tok.encode(tok.tokenize("頭痛がする"))
    assert ids[0] == tok.stoi["[CLS]"]
    assert len(ids) == 4


def test_alignment_through_wordpiece_expansion():
    """Char-level gold tags re-aligned through a tokenizer that EXPANDS a
    char into multiple pieces — the exact scenario of BERT/Model.py:377-381;
    observed reference behavior duplicates the B- tag verbatim."""
    from bert_namedentityrecognition_spark.oracle.alignment import (
        normalize_tagged_dataset,
    )
    from bert_namedentityrecognition_spark.oracle.wordpiece import WordPieceTokenizer

    # fullwidth pieces: normalize_tagged_dataset han_to_zens each character
    # cluster before tokenizing, exactly like the reference (Model.py:369-370)
    tok = WordPieceTokenizer(["薬", "##Ａ", "Ａ", "痛"])

    sents, tags = normalize_tagged_dataset(
        [["薬A", "痛"]], [["B-M", "O"]], tokenize=tok.tokenize
    )
    assert sents == [["薬", "##Ａ", "痛"]]
    assert tags == [["B-M", "B-M", "O"]]  # verbatim duplication (reference)


def test_simple_readers(spark, tmp_path):
    from bert_namedentityrecognition_spark.sources.readers import (
        read_csv_dir,
        read_jsonl,
        read_text_corpus,
        read_tsv,
    )

    # text corpus with blank lines (NaN-skip path)
    (tmp_path / "t").mkdir()
    (tmp_path / "t" / "a.txt").write_text("頭痛がする\n\n   \n発熱あり\n", encoding="utf-8")
    rows = read_text_corpus(spark, str(tmp_path / "t")).collect()
    assert sorted(r.text for r in rows) == ["発熱あり", "頭痛がする"]

    # Twitter-style CSV: column 1 is the text
    (tmp_path / "c").mkdir()
    (tmp_path / "c" / "x.csv").write_text("id1,hello world\nid2,\n", encoding="utf-8")
    rows = read_csv_dir(spark, str(tmp_path / "c"), text_column=1).collect()
    assert [r.text for r in rows] == ["hello world"]

    # JSONL with field projection; missing-key rows dropped
    (tmp_path / "j").mkdir()
    (tmp_path / "j" / "x.jsonl").write_text(
        '{"abstract": "text1"}\n{"other": 1}\n{"abstract": "text2"}\n'
    )
    rows = read_jsonl(spark, str(tmp_path / "j"), "abstract").collect()
    assert sorted(r.text for r in rows) == ["text1", "text2"]
    empty = read_jsonl(spark, str(tmp_path / "j"), "missing_everywhere")
    assert empty.count() == 0

    # TSV with header
    (tmp_path / "v").mkdir()
    (tmp_path / "v" / "x.tsv").write_text("text_tagged\ttext_raw\n<C>a</C>\ta\n")
    rows = read_tsv(spark, str(tmp_path / "v")).collect()
    assert rows[0].text_tagged == "<C>a</C>"


def test_embedding_cosine_dups_finds_planted_pair(spark):
    """Near-identical docs share most shingle buckets (cosine ≈ 1); unrelated
    docs with disjoint vocabulary share none. Integer predicate: 0.85²."""
    from bert_namedentityrecognition_spark.operators.dedup import embedding_cosine_dups

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"  # one extra token: high cosine overlap
    other = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )
    pairs = {(r.doc_a, r.doc_b) for r in embedding_cosine_dups(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_embedding_cosine_integer_predicate_matches_float(spark):
    """den·dot² ≥ num·na·nb must agree with cosine ≥ sqrt(num/den) on the
    sf documents corpus (no boundary pairs by construction)."""
    import math

    from bert_namedentityrecognition_spark.operators.dedup import (
        embedding_cosine_dups,
        shingle_count_vectors,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = embedding_cosine_dups(docs).collect()
    for r in got:
        cos = r.dot / math.sqrt(r.na * r.nb)
        assert cos >= 0.85 - 1e-12
    # every kept pair shares buckets; norms are true squared norms
    vecs = shingle_count_vectors(docs)
    norms = {
        r.doc_id: r.n2
        for r in vecs.groupBy("doc_id").agg(
            F.sum(F.col("cnt") * F.col("cnt")).alias("n2")
        ).collect()
    }
    for r in got:
        assert norms[r.doc_a] == r.na and norms[r.doc_b] == r.nb


def test_multimodal_f0_byte_roundtrip():
    """fake feature[0]·255 rounds back to the exact first sha256 byte for
    every possible byte value (float32 /255 is lossless under round-to-int)."""
    import hashlib

    import numpy as np

    from bert_namedentityrecognition_spark.multimodal.binary import fake_decoder

    for payload in (b"", b"abc", b"\x00\xff" * 10):
        feat = fake_decoder(payload, "application/octet-stream")
        first = hashlib.sha256(payload).digest()[0]
        assert int(round(float(feat[0]) * 255)) == first
    # exhaustive: k/255 as float32 always rounds back to k
    ks = np.arange(256, dtype=np.uint8).astype(np.float32) / 255.0
    assert (np.rint(ks * 255).astype(int) == np.arange(256)).all()


def test_kg_e2e_triples_lev_semantics(spark, sf_dir):
    """Composed e2e (mentions → lev-normalize → pair → count): objects are
    canonical ids or 'No Symptoms'; 'fast' (below threshold) never appears."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["kg_e2e_triples_lev"](spark, sf_dir).collect()
    assert rows, "e2e produced no triples"
    objs = {r.obj for r in rows}
    canonicals = {c for _, c in entrymod.E2E_DIM} | {"No Symptoms"}
    assert objs <= canonicals
    assert all(r.pred == "HAS_ADVERSE_EVENT" and r["count"] >= 1 for r in rows)
    subjs = {r.subj for r in rows}
    assert subjs <= set(entrymod.DOC_DRUG_TERMS)


def test_token_shingles_short_docs_yield_empty(spark):
    """Docs with < n tokens (ubiquitous in web text) must produce zero
    shingles, not crash: sequence(1, 0) is descending and slice(_, 0, n)
    throws. Regression for the guard in token_shingles."""
    from bert_namedentityrecognition_spark.operators.dedup import (
        embedding_cosine_dups,
        token_shingles,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "a b c")], ["doc_id", "text"]
    )
    got = token_shingles(docs).collect()
    assert {r.doc_id for r in got} == {4}
    assert embedding_cosine_dups(docs).collect() == []


def test_simhash_portable_properties(spark):
    """Portable 60-bit simhash: identical docs → identical signature;
    disjoint-vocabulary docs differ; signature fits in a signed BIGINT."""
    from bert_namedentityrecognition_spark.operators.dedup import (
        simhash_signatures_portable,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, "alpha beta beta gamma"),
         (3, "one two three four")],
        ["doc_id", "text"],
    )
    sig = {r.doc_id: r.simhash for r in simhash_signatures_portable(docs).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]
    assert all(0 <= s < (1 << 60) for s in sig.values())


def test_ngram_prefix_filter_exact_equivalence(spark):
    """PPJoin prefix filtering must return IDENTICAL pairs to the naive
    set-similarity join (it is a pruning, not an approximation)."""
    from bert_namedentityrecognition_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    naive = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(docs, threshold=0.6, prefix_filter=False).collect()
    }
    pruned = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(docs, threshold=0.6, prefix_filter=True).collect()
    }
    assert naive == pruned and naive


def test_all_oracle_sql_parse_in_duckdb():
    """Every oracle string must at least EXPLAIN cleanly in DuckDB against
    empty tables of the driver schema — catches SQL syntax/codegen
    regressions in seconds, without Spark."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(
            f"CREATE TABLE {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.001/{t}.parquet' LIMIT 0"
        )
    oracles = entrymod.oracle_sql()
    assert len(oracles) >= 32
    for name, sql in oracles.items():
        con.sql(f"EXPLAIN {sql}")  # raises on any syntax/binder error


def _make_warc(records):
    out = b""
    for rtype, uri, date, http_body in records:
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + http_body
            if rtype == "response"
            else http_body
        )
        head = f"WARC/1.0\r\nWARC-Type: {rtype}\r\n"
        if uri:
            head += f"WARC-Target-URI: {uri}\r\n"
        if date:
            head += f"WARC-Date: {date}\r\n"
        head += f"Content-Length: {len(payload)}\r\n\r\n"
        out += head.encode() + payload + b"\r\n\r\n"
    return out


def test_warc_reader_end_to_end(spark, tmp_path):
    """WARC (plain + gzip) → pages table, its text derived by the reader
    from the html bytes → full KG pipeline: Common Crawl's container feeds
    the engine."""
    import gzip

    from bert_namedentityrecognition_spark.oracle.textproc import html_to_text
    from bert_namedentityrecognition_spark.plans.pipeline import run_kg_pipeline
    from bert_namedentityrecognition_spark.sources import fixtures
    from bert_namedentityrecognition_spark.sources.readers import read_warc

    tt = fixtures.pipeline_term_types()
    terms = list(tt.items())
    d = [t for t, k in terms if k in ("drug", "M")][0]
    s = [t for t, k in terms if k in ("symptom", "C")][0]
    html = f"<html><body><p>{d}を飲んだ。{s}が出た。</p></body></html>".encode()
    warc = _make_warc(
        [
            ("warcinfo", None, None, b"software: test\r\n"),
            ("response", "http://ex.com/a", "2024-01-02T03:04:05Z", html),
            ("request", "http://ex.com/a", "2024-01-02T03:04:05Z", b"GET / HTTP/1.1\r\n\r\n"),
            ("response", "http://ex.com/b", "2024-01-02T03:04:06Z", html),
        ]
    )
    (tmp_path / "seg1.warc").write_bytes(warc)
    (tmp_path / "seg2.warc.gz").write_bytes(gzip.compress(warc))

    pages = read_warc(spark, str(tmp_path))
    rows = pages.collect()
    # 2 response records per file x 2 files; warcinfo/request skipped
    assert len(rows) == 4
    assert {r.url for r in rows} == {"http://ex.com/a", "http://ex.com/b"}
    assert all(r.text == html_to_text(html) for r in rows)
    assert all(r.warc_ts is not None and r.warc_ts.year == 2024 for r in rows)

    dim = fixtures.entity_dim_to_spark(spark)
    out = run_kg_pipeline(pages, dim, tt, lang_filter=None)
    triples = {(r.subj, r.obj): r["count"] for r in out["triples"].collect()}
    # url-keyed doc identity: the same url captured in BOTH segments
    # collapses to one document (dedup inside build_triples), so 2 distinct
    # urls → count 2, not 4 — re-crawled pages never double-count
    assert triples.get((d, s)) == 2


def test_prepare_pages_fills_text_and_lang(spark):
    from bert_namedentityrecognition_spark.operators.sentences import prepare_pages

    html_ja = "<html><body>頭痛がする。</body></html>".encode()
    html_en = b"<html><body>the cat is on the mat and it is not small</body></html>"
    pages = spark.createDataFrame(
        [
            ("u1", None, html_ja, None, None),       # html-only ja → cjk
            ("u2", None, html_en, None, None),       # html-only en → en
            ("u3", None, None, "explicit text", "ja"),  # keeps given lang
            ("u4", None, None, None, None),          # nothing → stays null
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = {r.url: (r.text, r.lang) for r in prepare_pages(pages).collect()}
    assert got["u1"] == ("頭痛がする。", "cjk")
    assert got["u2"][1] == "en" and "cat" in got["u2"][0]
    assert got["u3"] == ("explicit text", "ja")
    assert got["u4"] == (None, None)
