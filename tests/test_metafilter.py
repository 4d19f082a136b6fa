"""Metadata-filtered scored search: role / ts-range / conv-prefix
predicates resolved to docmap ordinal masks (operators/metafilter.py)
vs a brute-force pandas reference; Spark path ≡ serving path."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from geospatial_spark.functions.tokenize import tokenize_py


@pytest.fixture(scope="module")
def built_index(spark, small_transcripts, tmp_path_factory):
    from geospatial_spark.plans.build import build_index

    root = str(tmp_path_factory.mktemp("metaidx") / "idx")
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
def local(built_index):
    from geospatial_spark.plans.serve import LocalSearcher

    return LocalSearcher(built_index)


def _ts_us(v) -> int:
    return int(pd.Timestamp(v).value // 1000)


def _passes(row, meta) -> bool:
    if meta is None:
        return True
    if "role" in meta:
        roles = ([meta["role"]] if isinstance(meta["role"], str)
                 else list(meta["role"]))
        if row.role not in roles:
            return False
    ts = None if pd.isna(row.ts) else _ts_us(row.ts)
    if meta.get("ts_min") is not None:
        if ts is None or ts < _ts_us(meta["ts_min"]):
            return False
    if meta.get("ts_max") is not None:
        if ts is None or ts > _ts_us(meta["ts_max"]):
            return False
    if meta.get("conv_prefix") is not None:
        if not f"{row.conv_id}:{row.turn_idx}".startswith(meta["conv_prefix"]):
            return False
    return True


def _ref_bool_meta(oracle, pdf, should, filter_q, must_not, meta, k=10):
    from geospatial_spark.functions.bm25 import term_score

    sh = sorted(set(tokenize_py(should)))
    fl = sorted(set(tokenize_py(filter_q)))
    mn = sorted(set(tokenize_py(must_not)))
    hits = []
    for row in pdf.itertuples():
        if not _passes(row, meta):
            continue
        toks = set(tokenize_py(row.text))
        if fl and not all(t in toks for t in fl):
            continue
        if any(t in toks for t in mn):
            continue
        doc_id = f"{row.conv_id}:{row.turn_idx}"
        if sh:
            present = [t for t in sh if t in toks]
            if not present:
                continue
            score = sum(
                term_score(oracle.postings[t][doc_id], oracle.doclens[doc_id],
                           oracle.avgdl, len(oracle.postings[t]),
                           oracle.n_docs) for t in present)
        else:
            score = 0.0
        hits.append((doc_id, score))
    hits.sort(key=lambda h: (-h[1], oracle.doc_sort_key(h[0])))
    return hits[:k]


TS_MID = dt.datetime(2026, 1, 1, 12, 0, 0)

META_CASES = [
    ("the spark", "", "", {"role": "assistant"}),
    ("deploy spark", "the", "", {"role": ["user", "tool"]}),
    ("the", "", "job", {"role": "assistant"}),
    ("the spark", "", "", {"ts_max": TS_MID}),
    ("the spark", "", "", {"ts_min": TS_MID}),
    ("deploy", "", "", {"role": "user", "ts_min": dt.datetime(2026, 1, 1),
                        "ts_max": dt.datetime(2026, 1, 3)}),
    ("the", "", "", {"conv_prefix": "c00"}),
    ("", "", "", {"role": "assistant"}),        # metadata-only match-all
    ("", "the", "", {"role": "tool"}),          # filter context + meta
    ("", "", "spark", {"role": "assistant"}),   # pure-NOT + meta
    ("the spark", "", "", {"role": "nonexistent-role"}),  # empty result
]


@pytest.mark.parametrize("should,filter_q,must_not,meta", META_CASES)
def test_meta_matches_reference(searcher, small_oracle, small_transcripts_pd,
                                should, filter_q, must_not, meta):
    got = searcher.search_bool(should, filter_q, must_not, k=10, meta=meta)
    want = _ref_bool_meta(small_oracle, small_transcripts_pd,
                          should, filter_q, must_not, meta, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


@pytest.mark.parametrize("should,filter_q,must_not,meta", META_CASES)
def test_serve_parity(searcher, local, dist, should, filter_q, must_not,
                      meta):
    a = searcher.search_bool(should, filter_q, must_not, k=10, meta=meta)
    for other in (local, dist):
        b = other.search_bool(should, filter_q, must_not, k=10, meta=meta)
        assert [(d, round(s, 9)) for d, s in a] == \
            [(d, round(s, 9)) for d, s in b]


def test_mixed_batch_meta(searcher):
    """search_many_mixed carries bool meta specs — one Spark job."""
    specs = {
        "a": {"type": "bool", "should": "the spark",
              "meta": {"role": "assistant"}},
        "b": {"type": "bool", "should": "deploy", "filter": "the",
              "meta": {"role": ["user", "tool"]}},
        "c": {"type": "match", "q": "the spark"},
    }
    got = searcher.search_many_mixed(specs, k=5)
    a = searcher.search_bool("the spark", "", "", k=5,
                             meta={"role": "assistant"})
    b = searcher.search_bool("deploy", "the", "", k=5,
                             meta={"role": ["user", "tool"]})
    assert [(d, round(s, 9)) for d, s in got["a"]] == \
        [(d, round(s, 9)) for d, s in a]
    assert [(d, round(s, 9)) for d, s in got["b"]] == \
        [(d, round(s, 9)) for d, s in b]
    assert len(got["c"]) == 5


def test_meta_validation():
    from geospatial_spark.operators.metafilter import normalize_meta

    assert normalize_meta(None) is None
    assert normalize_meta({}) is None
    with pytest.raises(ValueError, match="unknown metadata filter keys"):
        normalize_meta({"rolle": "x"})
    with pytest.raises(ValueError, match="conv_prefix"):
        normalize_meta({"conv_prefix": ""})
    with pytest.raises(TypeError):
        normalize_meta({"role": [1, 2]})
    m = normalize_meta({"ts_min": "2026-01-01T00:00:00"})
    assert m["ts_min_us"] == _ts_us(dt.datetime(2026, 1, 1))
    # a None bound is absent: it never conflicts with its other spelling
    assert normalize_meta({"ts_min": None, "ts_min_us": 5}) == \
        {"ts_min_us": 5}
    assert normalize_meta({"ts_max_us": None, "ts_max": 7}) == \
        {"ts_max_us": 7}
    with pytest.raises(ValueError, match="not both"):
        normalize_meta({"ts_min": 1, "ts_min_us": 5})


def test_old_docmap_rejected(spark, built_index, tmp_path):
    """A docmap-v1 index (no role/ts_us columns) fails fast with a
    descriptive error, driver-side, before any job launches."""
    import shutil

    import pyarrow.parquet as pq

    from geospatial_spark.plans.query import IndexSearcher

    root = tmp_path / "oldidx"
    shutil.copytree(built_index, root)
    for p in root.rglob("docmap-*.parquet"):
        t = pq.read_table(p)
        pq.write_table(t.drop_columns(["role", "ts_us"]), p)
    from geospatial_spark.plans.serve import LocalSearcher

    s = IndexSearcher(spark, str(root))
    with pytest.raises(ValueError, match="docmap-v2"):
        s.search_bool("the", "", "", meta={"role": "assistant"})
    # the check does not depend on the query reaching a shard: a should
    # term absent from the corpus still fails fast, on both searchers
    for srch in (s, LocalSearcher(str(root))):
        with pytest.raises(ValueError, match="docmap-v2"):
            srch.search_bool("zzz-not-in-corpus", "", "",
                             meta={"role": "assistant"})
    # un-filtered queries on the same old index still work
    assert s.search_bool("the", "", "", k=3)


def test_match_meta_delegation(searcher, local, small_oracle,
                               small_transcripts_pd):
    """search(meta=) ≡ the scored should-OR under the mask — the match
    path delegates exactly; Spark ≡ serving."""
    meta = {"role": "assistant"}
    want = _ref_bool_meta(small_oracle, small_transcripts_pd,
                          "the spark", "", "", meta, k=10)
    a = searcher.search("the spark", k=10, meta=meta)
    b = local.search("the spark", k=10, meta=meta)
    assert [d for d, _ in a] == [d for d, _ in want]
    for (_, ga), (_, ws) in zip(a, want):
        assert ga == pytest.approx(ws, abs=1e-9)
    assert [(d, round(s, 9)) for d, s in a] == \
        [(d, round(s, 9)) for d, s in b]


def test_quantized_meta(searcher, local, small_transcripts_pd,
                        small_oracle):
    """quantized scoring composes with the metadata mask: quantized-dl
    brute reference on the filtered universe; Spark ≡ serving."""
    import math

    from geospatial_spark.functions.bm25 import (
        B,
        K1,
        idf,
        quantize_dl,
    )
    from geospatial_spark.functions.tokenize import tokenize_py

    meta = {"role": "assistant"}
    terms = sorted(set(tokenize_py("the spark")))
    o = small_oracle
    hits = []
    for row in small_transcripts_pd.itertuples():
        if not _passes(row, meta):
            continue
        doc_id = f"{row.conv_id}:{row.turn_idx}"
        toks = tokenize_py(row.text)
        present = [t for t in terms if t in set(toks)]
        if not present:
            continue
        score = 0.0
        for t in present:
            tf = o.postings[t][doc_id]
            qdl = quantize_dl(o.doclens[doc_id])
            score += idf(len(o.postings[t]), o.n_docs) * (
                tf / (tf + K1 * (1.0 - B + B * (qdl / o.avgdl))))
        hits.append((doc_id, score))
    hits.sort(key=lambda h: (-h[1], o.doc_sort_key(h[0])))
    want = hits[:10]

    a = searcher.search("the spark", k=10, quantized=True, meta=meta)
    b = local.search("the spark", k=10, quantized=True, meta=meta)
    assert [d for d, _ in a] == [d for d, _ in want]
    for (_, ga), (_, ws) in zip(a, want):
        assert math.isclose(ga, ws, rel_tol=1e-9)
    assert [(d, round(s, 9)) for d, s in a] == \
        [(d, round(s, 9)) for d, s in b]


def test_meta_survives_merge_and_generations(spark, small_transcripts_pd,
                                             small_oracle, tmp_path):
    """Docmap-v2 metadata passes through append generations AND a
    force-merge: the same metadata-filtered query returns identical
    results before and after compaction, and matches the brute
    reference over the full union."""
    from geospatial_spark.plans.build import build_index
    from geospatial_spark.plans.compact import merge_generations
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.sources.transcripts import read_transcripts

    half = len(small_transcripts_pd) // 2
    a_pd = small_transcripts_pd.iloc[:half]
    b_pd = small_transcripts_pd.iloc[half:]
    pa_, pb_ = tmp_path / "a.parquet", tmp_path / "b.parquet"
    a_pd.to_parquet(pa_, index=False)
    b_pd.to_parquet(pb_, index=False)

    root = str(tmp_path / "idx")
    build_index(spark, read_transcripts(spark, str(pa_)), root,
                n_shards=4, generation="g0001")
    build_index(spark, read_transcripts(spark, str(pb_)), root,
                n_shards=4, generation="g0002", append=True)

    meta = {"role": "assistant",
            "ts_min": dt.datetime(2026, 1, 1, 6, 0, 0)}
    want = _ref_bool_meta(small_oracle, small_transcripts_pd,
                          "the spark", "", "", meta, k=10)

    s2 = IndexSearcher(spark, root)
    got_two_gens = s2.search_bool("the spark", k=10, meta=meta)
    assert [(d, round(s, 9)) for d, s in got_two_gens] == \
        [(d, round(s, 9)) for d, s in want]

    merge_generations(spark, root, n_shards=2)
    sm = IndexSearcher(spark, root)
    assert len(sm.gens) == 1
    got_merged = sm.search_bool("the spark", k=10, meta=meta)
    assert [(d, round(s, 9)) for d, s in got_merged] == \
        [(d, round(s, 9)) for d, s in want]

    # serving path over the merged index agrees too
    from geospatial_spark.plans.serve import LocalSearcher

    lm = LocalSearcher(root)
    got_local = lm.search_bool("the spark", k=10, meta=meta)
    assert [(d, round(s, 9)) for d, s in got_local] == \
        [(d, round(s, 9)) for d, s in want]


def test_metadata_change_invalidates_checkpoint(spark, tmp_path):
    """role/ts ride the shard fingerprint: a metadata-only edit (same
    conv/turn/text) must rebuild the shard, or a resumed build would
    serve stale docmap metadata to the filter path."""
    import pandas as pd

    from geospatial_spark.plans.build import build_index
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.sources.transcripts import read_transcripts

    base = pd.DataFrame({
        "conv_id": ["c1", "c1", "c2"],
        "turn_idx": [0, 1, 0],
        "role": ["user", "assistant", "user"],
        "text": ["alpha beta", "alpha gamma", "beta gamma"],
        "tool": pd.array([None, None, None], dtype="string"),
        "ts": pd.to_datetime(["2026-01-01", "2026-01-02",
                              "2026-01-03"]).astype("datetime64[us]"),
    })
    p1 = tmp_path / "v1.parquet"
    base.to_parquet(p1, index=False)
    root = str(tmp_path / "idx")
    build_index(spark, read_transcripts(spark, str(p1)), root, n_shards=2)
    s = IndexSearcher(spark, root)
    assert [d for d, _ in s.search_bool("alpha", k=5,
                                        meta={"role": "assistant"})] == \
        ["c1:1"]

    # metadata-only edit: c1:1 becomes role=user (text unchanged)
    v2 = base.copy()
    v2.loc[1, "role"] = "user"
    p2 = tmp_path / "v2.parquet"
    v2.to_parquet(p2, index=False)
    build_index(spark, read_transcripts(spark, str(p2)), root, n_shards=2)
    s2 = IndexSearcher(spark, root)
    assert s2.search_bool("alpha", k=5, meta={"role": "assistant"}) == []
    assert sorted(d for d, _ in s2.search_bool(
        "alpha", k=5, meta={"role": "user"})) == ["c1:0", "c1:1"]


def test_facet_counts_parity(searcher, local, dist, small_transcripts_pd):
    """Facet counts over the full match set: brute pandas reference ≡
    Spark ≡ serving, with and without a metadata mask."""
    def ref(should, filter_q, meta):
        out = {}
        for row in small_transcripts_pd.itertuples():
            if not _passes(row, meta):
                continue
            toks = set(tokenize_py(row.text))
            sh = [t for t in sorted(set(tokenize_py(should))) if t in toks]
            if should and not sh:
                continue
            fl = sorted(set(tokenize_py(filter_q)))
            if fl and not all(t in toks for t in fl):
                continue
            if row.role is not None:
                out[row.role] = out.get(row.role, 0) + 1
        return out

    cases = [("the spark", "", None),
             ("deploy", "the", None),
             ("the", "", {"ts_min": TS_MID}),
             ("", "", {"conv_prefix": "c00"}),   # match-all facet + meta
             ("", "", None)]                      # full-corpus facet
    for should, filter_q, meta in cases:
        want = ref(should, filter_q, meta)
        got = searcher.facet_counts(should, filter_q, "", meta=meta)
        assert got == want, (should, filter_q, meta)
        got_local = local.facet_counts(should, filter_q, "", meta=meta)
        assert got_local == want, (should, filter_q, meta)
        got_dist = dist.facet_counts(should, filter_q, "", meta=meta)
        assert got_dist == want, (should, filter_q, meta)


def test_facet_counts_field_validation(searcher, local):
    with pytest.raises(ValueError, match="unsupported facet field"):
        searcher.facet_counts_df("the", field="dl")
    with pytest.raises(ValueError, match="unsupported facet field"):
        local.facet_counts("the", field="nope")
