"""Bool-query gates: should/filter/must_not semantics over the index
path vs a brute-force pure-Python reference."""

from __future__ import annotations

import math

import pytest

from geospatial_spark.functions.tokenize import tokenize_py


@pytest.fixture(scope="module")
def built_index(spark, small_transcripts, tmp_path_factory):
    from geospatial_spark.plans.build import build_index

    root = str(tmp_path_factory.mktemp("boolidx") / "idx")
    build_index(spark, small_transcripts, root, n_shards=4, hot_df_copy=32)
    return root


@pytest.fixture(scope="module")
def searcher(spark, built_index):
    from geospatial_spark.plans.query import IndexSearcher

    return IndexSearcher(spark, built_index)


@pytest.fixture(scope="module")
def dist(spark, built_index):
    """The same index with the small-k local dispatch switched off, so
    every call runs the distributed (Spark) plan."""
    from geospatial_spark.plans.query import IndexSearcher

    s = IndexSearcher(spark, built_index)
    s.LOCAL_SEARCH_MAX_K = -1  # instance override: force the Spark path
    return s


@pytest.fixture(scope="module")
def rows(small_transcripts_pd):
    return list(zip(small_transcripts_pd["conv_id"],
                    small_transcripts_pd["turn_idx"],
                    small_transcripts_pd["text"]))


def _ref_bool(oracle, rows, should, filter_q, must_not, k=10, msm=1,
              boosts=None):
    from geospatial_spark.functions.bm25 import term_score

    sh = sorted(set(tokenize_py(should)))
    fl = sorted(set(tokenize_py(filter_q)))
    mn = sorted(set(tokenize_py(must_not)))
    hits = []
    for conv, turn, text in rows:
        toks = set(tokenize_py(text))
        if fl and not all(t in toks for t in fl):
            continue
        if any(t in toks for t in mn):
            continue
        doc_id = f"{conv}:{turn}"
        if sh:
            present = [t for t in sh if t in toks]
            if msm > 0 and len(present) < msm:
                continue
            score = sum(
                term_score(oracle.postings[t][doc_id], oracle.doclens[doc_id],
                           oracle.avgdl, len(oracle.postings[t]),
                           oracle.n_docs)
                * (1.0 if not boosts else boosts.get(t, 1.0))
                for t in present)
        else:
            score = 0.0
        hits.append((doc_id, score))
    hits.sort(key=lambda h: (-h[1], oracle.doc_sort_key(h[0])))
    return hits[:k]


CASES = [
    ("deploy spark", "the", ""),
    ("deploy spark", "the", "job"),
    ("the", "", "spark"),
    ("", "the spark", "deploy"),     # filter context: score 0.0
    ("deploy", "zzz-not-in-corpus", ""),   # filter term missing → empty
    ("zzz-not-in-corpus", "the", ""),      # should given but absent → empty
    ("", "", "the spark"),                 # pure-NOT: docmap complement
    ("", "", "zzz-not-in-corpus"),         # NOT of an absent term = match_all
    ("", "", ""),                          # match_all (empty bool)
]


@pytest.mark.parametrize("should,filter_q,must_not", CASES)
def test_bool_matches_reference(searcher, small_oracle, rows,
                                should, filter_q, must_not):
    got = searcher.search_bool(should, filter_q, must_not, 10)
    want = _ref_bool(small_oracle, rows, should, filter_q, must_not, 10)
    assert [d for d, _ in got] == [d for d, _ in want], (should, filter_q, must_not)
    for (gd, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), gd


MSM_CASES = [
    # (should, filter, must_not, msm)
    ("deploy spark the", "", "", 2),        # ≥2 of 3 distinct terms
    ("deploy spark the", "", "job", 3),     # all three required
    ("deploy spark", "the", "", 0),         # optional should: filter decides
    ("deploy spark", "", "job", 2),
    ("zzz-not-in-corpus spark", "the", "", 0),  # dead should term, msm=0
]


@pytest.mark.parametrize("should,filter_q,must_not,msm", MSM_CASES)
def test_bool_min_should_match(searcher, small_oracle, rows,
                               should, filter_q, must_not, msm):
    got = searcher.search_bool(should, filter_q, must_not, 10,
                               min_should_match=msm)
    want = _ref_bool(small_oracle, rows, should, filter_q, must_not, 10,
                     msm=msm)
    assert [d for d, _ in got] == [d for d, _ in want], (should, msm)
    for (gd, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), gd


def test_bool_msm_above_live_terms_matches_nothing(searcher):
    """Lucene rule: minimumNumberShouldMatch above the number of live
    optional clauses can never match."""
    assert searcher.search_bool("deploy spark", "", "", 10,
                                min_should_match=3) == []
    # dead term does not count toward the live-clause budget
    assert searcher.search_bool("deploy zzz-not-in-corpus", "", "", 10,
                                min_should_match=2) == []


def test_bool_msm0_scores_match_msm1_on_shared_hits(searcher):
    """msm=0 widens the candidate set (filter context decides) but must
    not change the score of any doc that also matches under msm=1."""
    base = dict(searcher.search_bool("deploy spark", "the", "", 50))
    opt = dict(searcher.search_bool("deploy spark", "the", "", 50,
                                    min_should_match=0))
    assert set(base) <= set(opt)
    for d, s in base.items():
        assert math.isclose(opt[d], s, rel_tol=1e-12), d


def test_bool_msm_local_searcher_parity(built_index, searcher, dist):
    from geospatial_spark.plans.serve import LocalSearcher

    ls = LocalSearcher(built_index)
    cases = MSM_CASES + [
        ("", "", "the spark", 1),           # pure-NOT: shard scaffold
        ("deploy spark", "", "the", 0),     # optional should, no filter
    ]
    for should, filter_q, must_not, msm in cases:
        a = searcher.search_bool(should, filter_q, must_not, 10,
                                 min_should_match=msm)
        for other in (ls, dist):
            b = other.search_bool(should, filter_q, must_not, 10,
                                  min_should_match=msm)
            assert [d for d, _ in a] == [d for d, _ in b], (should, msm)
            for (_, sa), (_, sb) in zip(a, b):
                assert math.isclose(sa, sb, rel_tol=1e-12)


BOOST_CASES = [
    ({"spark": 3.0}, "deploy spark the", "", "", 1),
    ({"spark": 0.25, "deploy": 4.0}, "deploy spark", "the", "", 1),
    ({"the": 2.0}, "deploy spark the", "", "job", 2),   # boosts ∘ msm
    ({"spark": 0.0}, "deploy spark", "", "", 1),        # boost-0 still matches
]


@pytest.mark.parametrize("boosts,should,filter_q,must_not,msm", BOOST_CASES)
def test_bool_boosts(searcher, small_oracle, rows,
                     boosts, should, filter_q, must_not, msm):
    got = searcher.search_bool(should, filter_q, must_not, 10,
                               min_should_match=msm, boosts=boosts)
    want = _ref_bool(small_oracle, rows, should, filter_q, must_not, 10,
                     msm=msm, boosts=boosts)
    assert [d for d, _ in got] == [d for d, _ in want], (boosts, should)
    for (gd, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), gd


def test_bool_boosts_serve_parity(built_index, searcher, dist):
    from geospatial_spark.plans.serve import LocalSearcher

    ls = LocalSearcher(built_index)
    for boosts, should, filter_q, must_not, msm in BOOST_CASES:
        a = searcher.search_bool(should, filter_q, must_not, 10,
                                 min_should_match=msm, boosts=boosts)
        for other in (ls, dist):
            b = other.search_bool(should, filter_q, must_not, 10,
                                  min_should_match=msm, boosts=boosts)
            assert [d for d, _ in a] == [d for d, _ in b], boosts
            for (_, sa), (_, sb) in zip(a, b):
                assert math.isclose(sa, sb, rel_tol=1e-12)


def test_bool_unit_boost_bit_identical(searcher):
    """boost=1.0 must be the SAME bits as no boost at all."""
    a = searcher.search_bool("deploy spark", "the", "", 10)
    b = searcher.search_bool("deploy spark", "the", "", 10,
                             boosts={"deploy": 1.0, "spark": 1.0})
    assert a == b


def test_bool_msm_negative_rejected(searcher):
    with pytest.raises(ValueError):
        searcher.search_bool("deploy", "", "", 10, min_should_match=-1)


def test_bool_pure_not_serves_complement(searcher, small_oracle, rows):
    """must_not-only queries serve via the docmap complement: hits are
    exactly the docs without any must_not term, score 0.0."""
    got = searcher.search_bool("", "", "the", 10)
    want = _ref_bool(small_oracle, rows, "", "", "the", 10)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(s == 0.0 for _, s in got)


def test_search_many_mixed_matches_individual(spark, searcher, small_oracle,
                                              rows):
    """One batched job must equal the per-query paths for every type."""
    batch = {
        "m1": {"type": "match", "q": "deploy the spark job"},
        "m2": {"type": "match", "q": "zzz-not-in-corpus"},
        "p1": {"type": "phrase", "q": "deploy the"},
        "p2": {"type": "phrase", "q": ""},
        "n1": {"type": "near", "q": "deploy spark", "slop": 3},
        "b1": {"type": "bool", "should": "deploy spark", "filter": "the",
               "must_not": "job"},
        "b2": {"type": "bool", "filter": "the spark"},
        "b3": {"type": "bool", "must_not": "the"},
        "b4": {"type": "bool", "should": "deploy spark the",
               "minimum_should_match": 2},
        "b5": {"type": "bool", "should": "deploy spark", "filter": "the",
               "minimum_should_match": 0},
        "b6": {"type": "bool", "should": "deploy spark",
               "minimum_should_match": 3},
        "b7": {"type": "bool", "should": "deploy spark the",
               "boosts": {"spark": 2.0, "the": 0.1}},
        "ps1": {"type": "phrase_scored", "q": "deploy the"},
        "ps2": {"type": "phrase_scored", "q": "zzz missing"},
    }
    got = searcher.search_many_mixed(batch, k=10)
    want = {
        "m1": searcher.search("deploy the spark job", 10),
        "m2": [],
        "p1": searcher.search_phrase("deploy the", 10),
        "p2": [],
        "n1": searcher.search_near("deploy spark", 3, 10),
        "b1": searcher.search_bool("deploy spark", "the", "job", 10),
        "b2": searcher.search_bool("", "the spark", "", 10),
        "b3": searcher.search_bool("", "", "the", 10),
        "b4": searcher.search_bool("deploy spark the", "", "", 10,
                                   min_should_match=2),
        "b5": searcher.search_bool("deploy spark", "the", "", 10,
                                   min_should_match=0),
        "b6": [],
        "b7": searcher.search_bool("deploy spark the", "", "", 10,
                                   boosts={"spark": 2.0, "the": 0.1}),
        "ps1": searcher.search_phrase_scored("deploy the", 10),
        "ps2": [],
    }
    assert set(got) == set(batch)
    for qid in batch:
        assert [d for d, _ in got[qid]] == [d for d, _ in want[qid]], qid
        for (gd, gs), (_, ws) in zip(got[qid], want[qid]):
            import math as _m

            assert _m.isclose(gs, ws, rel_tol=1e-12), (qid, gd)
