"""The one exact→fuzzy resolver (``build_dim_index`` + ``resolve_surfaces``):
its contract against the pure-Python ``DictNormalizer``, and row equality of
its driver and distributed (``normalize_surfaces``) placements."""

from hypothesis import given, settings
from hypothesis import strategies as st

from bert_namedentityrecognition_spark.operators.normalize import (
    build_dim_index,
    normalize_surfaces,
    resolve_surfaces,
)
from bert_namedentityrecognition_spark.oracle.fuzzy import ratio
from bert_namedentityrecognition_spark.oracle.normalize import DictNormalizer
from bert_namedentityrecognition_spark.oracle.textproc import han_to_zen

DIM_SCHEMA = "surface string, canonical string, entity_id string, code string, kind string"
KINDS = ["drug", "symptom"]
# "empty" has no dimension rows: every surface of it is a sentinel
TYPES = KINDS + ["empty"]
# full-width katakana plus half-width forms that han_to_zen collapses onto
# them; a 4-letter alphabet makes score ties between candidates common
ALPHABET = "アイカキｱｲ"
# 50 and 200·2/6 put (1,3)- and (1,2)/(2,4)-length pairs exactly on the
# band edge 200·min/(la+lb)
THRESHOLDS = [50.0, 200.0 * 2 / 6, 70.0]

words = st.text(alphabet=ALPHABET, min_size=1, max_size=4)
dim_rows = st.lists(
    st.builds(
        lambda s, canon, eid, kind: {
            "surface": s,
            "canonical": canon,
            "entity_id": eid,
            "code": None if eid == "E0" else "C" + eid,
            "kind": kind,
        },
        words,
        st.sampled_from(["CANON_A", "CANON_B", "CANON_C"]),
        st.sampled_from(["E0", "E1", "E2"]),
        st.sampled_from(KINDS),
    ),
    max_size=12,
)
surface_rows = st.lists(
    st.tuples(words, st.sampled_from(TYPES)), min_size=1, max_size=12, unique=True
)


def _dict_normalizer(index, kind, threshold):
    """``DictNormalizer`` over one kind's normalized surfaces; it returns
    the matched surface, whose row the index chose by value."""
    return DictNormalizer({rr["surface_norm"] for rr in index[0].get(kind, [])}, threshold)


@settings(max_examples=400, deadline=None)
@given(dim_rows, surface_rows, st.sampled_from(THRESHOLDS))
def test_resolver_agrees_with_dict_normalizer(dim, surfaces, threshold):
    """Accepted rows (exact or fuzzy) carry the row of the surface a
    per-kind ``DictNormalizer`` matches, with its score; rejections carry
    the best band-passing score."""
    index = build_dim_index(dim)
    got = resolve_surfaces(surfaces, index, threshold)
    assert [r[:2] for r in got] == surfaces
    for word, kind, canonical, entity_id, code, score, method in got:
        dn = _dict_normalizer(index, kind, threshold)
        matched, dn_score = dn.normalize(word)
        if method == "exact":
            assert matched == han_to_zen(word)
            assert score == 100.0
        if canonical != "":
            row = index[1][(matched, kind)]
            assert (canonical, entity_id, code) == (row["canonical"], row["entity_id"], row["code"])
            assert score == dn_score
        else:
            assert matched == ""
            assert (entity_id, code) == (None, None)
            wn = han_to_zen(word)
            band = [
                c for c in dn.candidates
                if 200.0 * min(len(wn), len(c)) / (len(wn) + len(c)) > threshold
            ]
            assert score == max((ratio(wn, c) for c in band), default=0.0)
            assert score <= dn_score <= threshold
        if kind == "empty":
            assert (canonical, score, method) == ("", 0.0, "fuzzy")


def test_rejected_score_is_best_band_passing_score():
    """A rejection reports the best score among the candidates the length
    band lets through, or 0.0 when it lets none through — not the best
    score over the whole kind, which ``DictNormalizer`` reports: アイウエ
    scores 66.67 against アイ but its length is outside the band at 70."""
    dim = [
        {"surface": "アイウエ", "canonical": "A", "entity_id": "E1", "code": None, "kind": "k"},
        {"surface": "カキ", "canonical": "B", "entity_id": "E2", "code": None, "kind": "k"},
    ]
    index = build_dim_index(dim)
    assert resolve_surfaces([("アイ", "k")], index, 70.0) == [
        ("アイ", "k", "", None, None, 0.0, "fuzzy")
    ]
    assert DictNormalizer({"アイウエ", "カキ"}, 70.0).normalize("アイ") == ("", 200.0 * 2 / 6)
    # no band-passing candidate at all, also with the length pair exactly
    # on the band edge 200·2/(2+4)
    only_long = build_dim_index(dim[:1])
    assert resolve_surfaces([("アイ", "k")], only_long, 70.0)[0][5] == 0.0
    assert resolve_surfaces([("アイ", "k")], only_long, 200.0 * 2 / 6)[0][5] == 0.0
    # the best band-passing candidate's score, here アカ's 50.0 over カキ's 0.0
    near = build_dim_index(dim + [{**dim[1], "surface": "アカ", "entity_id": "E3"}])
    assert resolve_surfaces([("アイ", "k")], near, 70.0)[0][2:] == (
        "", None, None, 50.0, "fuzzy"
    )


@settings(max_examples=8, deadline=None)
@given(dim_rows, surface_rows, st.sampled_from(THRESHOLDS), st.sampled_from([1, 4]))
def test_distributed_resolver_equals_driver(spark, dim, surfaces, threshold, parts):
    """``normalize_surfaces`` (one mapInPandas stage, per-worker index) and
    the driver kernel give equal rows, whatever the surface partitioning."""
    expected = sorted(resolve_surfaces(surfaces, build_dim_index(dim), threshold))
    sdf = spark.createDataFrame(surfaces, "word string, type string")
    sdf = sdf.coalesce(1) if parts == 1 else sdf.repartition(parts)
    ddf = spark.createDataFrame(
        [(r["surface"], r["canonical"], r["entity_id"], r["code"], r["kind"]) for r in dim],
        DIM_SCHEMA,
    )
    got = sorted(tuple(r) for r in normalize_surfaces(sdf, ddf, threshold).collect())
    assert got == expected
