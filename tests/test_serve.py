"""LocalSearcher (no-Spark serving path) ≡ IndexSearcher ≡ oracle, plus
a latency sanity check."""

from __future__ import annotations

import math
import time

import pytest

from tests.conftest import QUERIES


@pytest.fixture(scope="module")
def serve_index(spark, small_transcripts, tmp_path_factory):
    from geospatial_spark.plans.build import build_index

    root = str(tmp_path_factory.mktemp("serve") / "idx")
    build_index(spark, small_transcripts, root, n_shards=6)
    return root


def test_local_matches_oracle(serve_index, small_oracle):
    from geospatial_spark.plans.serve import LocalSearcher

    s = LocalSearcher(serve_index)
    for q in QUERIES:
        expected = small_oracle.search(q, 10)
        got = s.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in expected], q
        for (_, gs), (_, es) in zip(got, expected):
            assert math.isclose(gs, es, rel_tol=1e-9)


def test_local_matches_spark_searcher(spark, serve_index):
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.plans.serve import LocalSearcher

    ls = LocalSearcher(serve_index)
    ss = IndexSearcher(spark, serve_index)
    for q in ["deploy the spark job", "w100 w200 w5", "the"]:
        a, b = ls.search(q, 10), ss.search(q, 10)
        assert [d for d, _ in a] == [d for d, _ in b]
        for (_, x), (_, y) in zip(a, b):
            assert math.isclose(x, y, rel_tol=1e-12)


def test_local_latency_after_warm(serve_index):
    from geospatial_spark.plans.serve import LocalSearcher

    s = LocalSearcher(serve_index)
    s.search("the spark job", 10)  # warm dictionary + page cache
    t0 = time.perf_counter()
    for _ in range(5):
        s.search("deploy index merge", 10)
    per_query = (time.perf_counter() - t0) / 5
    # latency BUDGET (round-3 verdict #9): the serving tier must stay
    # interactive — warm per-query under 100 ms on the small fixture
    assert per_query < 0.1, per_query


def test_mixed_format_generations(spark, small_transcripts_pd, tmp_path):
    """Upgrade path: a generation built BEFORE the skyline columns must
    still union + score next to a post-skyline generation (fallback to
    the (max_tf, min_dl) bound per row)."""
    import math

    import pyarrow.parquet as pq

    from geospatial_spark.plans import lifecycle as lc
    from geospatial_spark.plans.build import build_index
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.sources.transcripts import read_transcripts
    from oracle.oracle import OracleIndex

    half = len(small_transcripts_pd) // 2
    p1, p2 = tmp_path / "a.parquet", tmp_path / "b.parquet"
    small_transcripts_pd.iloc[:half].to_parquet(p1, index=False)
    small_transcripts_pd.iloc[half:].to_parquet(p2, index=False)
    root = str(tmp_path / "idx")
    build_index(spark, read_transcripts(spark, str(p1)), root,
                n_shards=3, generation="old")
    # strip the skyline columns from gen 'old' → pre-upgrade format
    gdir = lc.gen_dir(root, "old")
    for f in sorted(gdir.glob("segments-*.parquet")):
        t = pq.read_table(f)
        t = t.drop_columns(["sky_tf", "sky_dl", "sky_off"])
        pq.write_table(t, f, row_group_size=256)
    build_index(spark, read_transcripts(spark, str(p2)), root,
                n_shards=3, generation="new", append=True)

    oracle = OracleIndex.build(list(zip(
        small_transcripts_pd["conv_id"], small_transcripts_pd["turn_idx"],
        small_transcripts_pd["text"])))
    s = IndexSearcher(spark, root)
    for q in ["the spark job", "w100 w200 w5"]:
        expected = oracle.search(q, 10)
        got = s.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in expected], q
        for (_, gs), (_, es) in zip(got, expected):
            assert math.isclose(gs, es, rel_tol=1e-9)


def test_local_multi_generation(spark, small_transcripts_pd, tmp_path):
    from geospatial_spark.plans.serve import LocalSearcher
    from geospatial_spark.streaming.incremental import start_incremental_index
    from oracle.oracle import OracleIndex

    src = tmp_path / "src"
    src.mkdir()
    half = len(small_transcripts_pd) // 2
    small_transcripts_pd.iloc[:half].to_parquet(src / "a.parquet", index=False)
    small_transcripts_pd.iloc[half:].to_parquet(src / "b.parquet", index=False)
    root = str(tmp_path / "idx")
    start_incremental_index(spark, str(src), root, str(tmp_path / "ck"),
                            n_shards=3).awaitTermination(120)
    oracle = OracleIndex.build(list(zip(
        small_transcripts_pd["conv_id"], small_transcripts_pd["turn_idx"],
        small_transcripts_pd["text"])))
    s = LocalSearcher(root)
    for q in QUERIES[:5]:
        expected = oracle.search(q, 10)
        got = s.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in expected], q


def test_serving_near_and_bool_parity(spark, small_transcripts, small_oracle,
                                      tmp_path_factory):
    """LocalSearcher near/bool results == IndexSearcher results (the
    serving path must carry the full query surface)."""
    import math

    from geospatial_spark.plans.build import build_index
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.plans.serve import LocalSearcher

    root = str(tmp_path_factory.mktemp("servefull") / "idx")
    build_index(spark, small_transcripts, root, n_shards=4, hot_df_copy=32)
    s = IndexSearcher(spark, root)
    ls = LocalSearcher(root)

    for ph in ["the spark", "deploy the", "zzz spark"]:
        a = s.search_phrase_scored(ph, 10)
        b = ls.search_phrase_scored(ph, 10)
        assert [d for d, _ in a] == [d for d, _ in b], ph
        for (_, sa), (_, sb) in zip(a, b):
            assert math.isclose(sa, sb, rel_tol=1e-12)

    for q, slop in [("deploy spark", 3), ("the spark", 1),
                    ("zzz spark", 5)]:
        a, b = s.search_near(q, slop, 10), ls.search_near(q, slop, 10)
        assert [d for d, _ in a] == [d for d, _ in b], (q, slop)
        for (_, sa), (_, sb) in zip(a, b):
            assert math.isclose(sa, sb, rel_tol=1e-12)

    cases = [("deploy spark", "the", "job"), ("", "the spark", "deploy"),
             ("deploy", "zzz-not-in-corpus", ""), ("the", "", "spark"),
             ("", "", "the"), ("", "", "")]  # pure-NOT / match_all
    for should, flt, mn in cases:
        a = s.search_bool(should, flt, mn, 10)
        b = ls.search_bool(should, flt, mn, 10)
        assert [d for d, _ in a] == [d for d, _ in b], (should, flt, mn)
        for (_, sa), (_, sb) in zip(a, b):
            assert math.isclose(sa, sb, rel_tol=1e-12)


def test_term_cache_byte_budget(serve_index):
    """Oversized synthetic entries evict at the byte budget: the cache
    is bounded by summed cell bytes, not entry count."""
    import numpy as np

    from geospatial_spark.plans.serve import LocalSearcher, _entry_bytes

    s = LocalSearcher(serve_index)
    s.search("the spark", 5)  # warm normally
    s.term_cache_max_bytes = 4 << 20  # 4 MiB budget
    big = [{"term": f"zz{i}", "shard": 0,
            "blob": np.zeros(1 << 20, dtype=np.uint8)} for i in range(12)]
    for i, r in enumerate(big):
        key = ("g0001", f"zz{i}", "c")
        s._term_cache[key] = [r]
        s._account(key, [r])
    s._evict(set())
    assert s._term_cache_total <= s.term_cache_max_bytes
    # the 1 MiB rows can coexist at most 4-at-a-time under 4 MiB
    n_big = sum(1 for k in s._term_cache if str(k[1]).startswith("zz"))
    assert n_big <= 4
    # accounting invariant: total equals the sum of recorded sizes
    assert s._term_cache_total == sum(s._term_cache_sizes.values())
    assert _entry_bytes([big[0]]) >= 1 << 20
    # and queries still work after eviction
    assert s.search("the spark", 5)


def test_tiered_dictionary_fallback(serve_index):
    """Past DICT_CACHE_MAX the full-vocab dict is never materialized;
    df lookups go through the term-filtered dataset read and results
    stay identical to the eager path."""
    from geospatial_spark.plans.serve import LocalSearcher

    eager = LocalSearcher(serve_index)
    lazy = LocalSearcher(serve_index, dict_cache_max=1)  # force fallback
    for q in ["the spark", "deploy job", "zzz-not-in-corpus"]:
        a, b = eager.search(q, 10), lazy.search(q, 10)
        assert [(d, round(sc, 9)) for d, sc in a] == \
            [(d, round(sc, 9)) for d, sc in b], q
    assert lazy._dict is None  # the full vocab was never materialized
    assert eager._dict is not None
    # hot-term warm-up still works off the filtered has_imp read
    assert lazy.warm_hot_terms() == eager.warm_hot_terms()


def _plain_cell(v):
    if v is None:
        return None
    if hasattr(v, "as_py"):  # pyarrow list scalar
        return v.as_py()
    if hasattr(v, "tolist"):  # zero-copy numpy slice
        return v.tolist()
    return v


def _rows_by_key(rows):
    out = {(int(r["shard"]), r["term"]): {c: _plain_cell(v)
                                          for c, v in r.items()}
           for r in rows}
    assert len(out) == len(rows)  # one row per (shard, term)
    return out


def test_segment_reader_one_pass_equals_per_file(serve_index):
    """The one-pass generation read returns exactly the rows of
    per-file reads: a term held by only some shards, the terms on both
    sides of a row-group boundary, and absent terms inside and outside
    every row group's term range."""
    import pyarrow.parquet as pq

    from geospatial_spark.plans.serve import LocalSearcher

    s = LocalSearcher(serve_index)
    reader = s._reader(s.gens[0]["id"])
    assert len(reader.files) >= 3
    per_file = {p: set(pq.read_table(p, columns=["term"])
                       .column("term").to_pylist()) for p in reader.files}
    partial = sorted(set.union(*per_file.values())
                     - set.intersection(*per_file.values()))[0]
    multi = [p for p in reader.files
             if pq.ParquetFile(p).metadata.num_row_groups >= 2]
    assert multi, "fixture too small for 256-row row groups"
    _pf, mins, maxs = reader._file(multi[0])
    inner = "w1000q"  # absent, but inside a row group's range
    assert inner not in set.union(*per_file.values())
    assert any(mn <= inner <= mx for p in reader.files
               for mn, mx in zip(*reader._file(p)[1:]))
    terms = sorted({partial, maxs[0], mins[1], inner, "zzz-not-in-corpus"})
    cols = reader.schema_names

    got = reader.read_terms(terms, cols)
    want = [r for p in reader.files
            for r in reader._read_file(p, terms, cols)]
    assert _rows_by_key(got) == _rows_by_key(want)
    assert {r["term"] for r in got} == {partial, maxs[0], mins[1]}
    shards_of = {t: {int(r["shard"]) for r in got if r["term"] == t}
                 for t in terms}
    assert 0 < len(shards_of[partial]) < len(reader.files)
    assert shards_of[maxs[0]] and shards_of[mins[1]]
    assert not shards_of["zzz-not-in-corpus"]
    assert reader.read_terms(["zzz-not-in-corpus", "zzz-absent-too"],
                             cols) == []


def test_serving_starts_no_threads(serve_index):
    """Segment reads and kernels run on the calling thread: a fresh
    searcher answers every query family without starting a thread."""
    import threading

    from geospatial_spark.plans.serve import LocalSearcher

    # live threads as a set, not a count: a thread of an earlier test
    # ending meanwhile would hide a started one in a count
    before = set(threading.enumerate())
    s = LocalSearcher(serve_index)
    assert s.search("deploy the spark job index merge", 10)
    s.search_phrase("the spark", 10)
    s.search_bool("deploy spark", "the", "job", 10)
    s.facet_counts("the spark")
    started = set(threading.enumerate()) - before
    assert not started, [t.name for t in started]


@pytest.fixture(scope="module")
def hot_index(spark, small_transcripts, tmp_path_factory):
    from geospatial_spark.plans.build import build_index

    root = str(tmp_path_factory.mktemp("hot") / "idx")
    build_index(spark, small_transcripts, root, n_shards=4, hot_df_copy=32)
    return root


def _assert_oracle_topk(s, oracle, q):
    expected = oracle.search(q, 10)
    got = s.search(q, 10)
    assert [d for d, _ in got] == [d for d, _ in expected], q
    for (_, gs), (_, es) in zip(got, expected):
        assert math.isclose(gs, es, rel_tol=1e-9)


def test_cold_reads_skip_impact_columns(hot_index, small_oracle):
    """Cold-routed terms (has_imp = 0 in the dictionary) are read
    without any imp_* column; a hot+cold query still equals the
    oracle."""
    from geospatial_spark.plans.serve import LocalSearcher

    s = LocalSearcher(hot_index)
    q = "the spark w100 w200 w5 singleton"
    imp = s._imp_for(s.gens[0]["id"])
    assert "the" in imp and "w200" not in imp  # one hot, one cold
    _assert_oracle_topk(s, small_oracle, q)
    cold = [r for key, rows in s._term_cache.items() if key[2] == "c"
            for r in rows]
    assert cold
    assert not [c for r in cold for c in r if c.startswith("imp_")]


def test_cold_reads_without_has_imp(hot_index, small_oracle, tmp_path):
    """A dictionary without the has_imp column routes every term cold;
    those reads keep the impact columns (a saturated term's rows still
    carry its impact copy) and results still equal the oracle."""
    import shutil

    import pyarrow.parquet as pq

    from geospatial_spark.plans import lifecycle as lc
    from geospatial_spark.plans.serve import LocalSearcher

    root = tmp_path / "idx"
    shutil.copytree(hot_index, root)
    for g in LocalSearcher(str(root)).gens:
        for f in sorted((lc.gen_dir(root, g["id"]) / "dictionary")
                        .glob("*.parquet")):
            t = pq.read_table(f)
            pq.write_table(t.drop_columns(["has_imp"]), f)
    s = LocalSearcher(str(root))
    for q in ["the spark w100 w200 w5 singleton", "the", "deploy the job"]:
        _assert_oracle_topk(s, small_oracle, q)
    assert not s._imp_for(s.gens[0]["id"])
    cold = [r for key, rows in s._term_cache.items() if key[2] == "c"
            for r in rows]
    assert any(r.get("imp_sky_off") is not None for r in cold)
