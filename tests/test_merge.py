"""Segment-merge compaction gates: merging delta generations must be
result-identical to a single full rebuild — same scores, same ranks,
same tie-breaks, phrase/bool/near included — without touching source
text."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def merged_root(spark, small_transcripts, tmp_path_factory):
    from geospatial_spark.plans.build import build_index
    from geospatial_spark.plans.compact import merge_generations

    root = str(tmp_path_factory.mktemp("mergeidx") / "idx")
    parts = [small_transcripts.where(F.crc32(F.col("conv_id")) % 3 == i)
             for i in range(3)]
    build_index(spark, parts[0], root, n_shards=3, generation="g0001",
                hot_df_copy=32)
    build_index(spark, parts[1], root, n_shards=2, generation="g0002",
                append=True, hot_df_copy=32)
    build_index(spark, parts[2], root, n_shards=4, generation="g0003",
                append=True, hot_df_copy=32)
    m = merge_generations(spark, root, n_shards=4, hot_df_copy=32)
    return root, m


def test_merge_manifest(merged_root, small_oracle):
    root, m = merged_root
    assert len(m["generations"]) == 1
    assert m["generations"][0]["id"].startswith("merge-")
    assert m["n_docs"] == small_oracle.n_docs
    assert math.isclose(m["avgdl"], small_oracle.avgdl, rel_tol=1e-12)
    last = m["build_history"][-1]
    assert last["merged_from"] == ["g0001", "g0002", "g0003"]


def test_merge_search_identical_to_oracle(spark, merged_root, small_oracle):
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.plans.serve import LocalSearcher
    from tests.conftest import QUERIES

    root, _ = merged_root
    s = IndexSearcher(spark, root)
    ls = LocalSearcher(root)
    for q in QUERIES:
        want = small_oracle.search(q, 10)
        for got in (s.search(q, 10), ls.search(q, 10)):
            assert [d for d, _ in got] == [d for d, _ in want], q
            for (gd, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), (q, gd)


def test_merge_phrase_and_bool(spark, merged_root, small_oracle,
                               small_transcripts_pd):
    from geospatial_spark.plans.query import IndexSearcher

    root, _ = merged_root
    rows = list(zip(small_transcripts_pd["conv_id"],
                    small_transcripts_pd["turn_idx"],
                    small_transcripts_pd["text"]))
    s = IndexSearcher(spark, root)
    for p in ["deploy the", "the the", "the spark"]:
        got = s.search_phrase(p, 10)
        want = [(d, sc) for d, sc, _ in small_oracle.search_phrase(rows, p, 10)]
        assert [d for d, _ in got] == [d for d, _ in want], p
        for (gd, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), (p, gd)
    got = s.search_near("deploy spark", 3, 10)
    want = [(d, sc) for d, sc, _ in small_oracle.search_near(rows, "deploy spark", 3, 10)]
    assert [d for d, _ in got] == [d for d, _ in want]


def test_merge_is_single_writer_guarded(spark, merged_root):
    from geospatial_spark.plans import lifecycle as lc
    from geospatial_spark.plans.compact import merge_generations

    root, _ = merged_root
    with lc.BuildLock(root, owner="other"):
        with pytest.raises(lc.ConcurrentBuildError):
            merge_generations(spark, root)


@pytest.fixture(scope="module")
def odd_id_transcripts(spark):
    """doc_id = conv_id:turn_idx, and a null turn_idx leaves conv_id
    alone: ids with no ':', a trailing ':', a non-numeric suffix, and
    conv ids that themselves hold ':'."""
    import datetime as dt

    import pandas as pd

    rows = [("plain", None), ("trail:", None), ("conv:abc", None),
            ("a:b:c", 0), ("a:b:c", 1), ("a:b", 2), ("c1", 0), ("c1", 1),
            ("c1", 2), ("c2:", 5)]
    pdf = pd.DataFrame({
        "conv_id": [c for c, _ in rows],
        "turn_idx": pd.array([t for _, t in rows], dtype="Int32"),
        "role": ["user", None, "assistant", "user", "tool", "user",
                 "assistant", None, "user", "tool"],
        "text": [f"the spark job {i} deploy the spark" if i % 3 else
                 f"spark {i} the merge token" for i in range(len(rows))],
        "tool": None,
        "ts": [dt.datetime(2024, 1, 1 + i) for i in range(len(rows))],
    })
    return spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, role string, text string, "
             "tool string, ts timestamp")


def _merge_appended_twice(spark, docs, tmp_path_factory, query=None):
    """Build `docs` as two generations (append never dedupes, so every
    doc_id is held twice), merge them into 2 shards on the fused path,
    and check that the merged docmaps are byte-identical to the ones the
    docmap writer makes from rows whose conv/turn Spark projects as the
    general merge path does. Returns `query`'s hits before and after."""
    import pandas as pd

    from geospatial_spark.plans import lifecycle as lc
    from geospatial_spark.plans.build import build_index
    from geospatial_spark.plans.compact import (
        _CONV_EXPR,
        _make_docmap_writer,
        merge_generations,
    )
    from geospatial_spark.plans.query import IndexSearcher

    root = str(tmp_path_factory.mktemp("dupidx") / "idx")
    build_index(spark, docs, root, n_shards=2, generation="g0001")
    build_index(spark, docs, root, n_shards=2, generation="g0002",
                append=True)
    before = IndexSearcher(spark, root).search(query, 10) if query else None

    gens = lc.read_manifest(root)["generations"]
    postings = sum(s["postings_written"] for g in gens for s in g["shards"])
    parts: dict[int, list[pd.DataFrame]] = {}
    for g in gens:
        for sh, name in lc.gen_shard_files(g)[1].items():
            parts.setdefault(sh % 2, []).append(
                spark.read.parquet(str(lc.gen_dir(root, g["id"]) / name))
                .select("doc_id", "dl", "role", "ts_us",
                        F.lit(g["id"]).alias("src_gen"),
                        F.col("doc_ord").alias("src_ord"),
                        F.expr(_CONV_EXPR).alias("conv"),
                        F.expr("try_cast(substring_index(doc_id, ':', -1) "
                               "AS int)").alias("turn"))
                .toPandas())

    m = merge_generations(spark, root, n_shards=2)
    assert m["n_docs"] == 2 * docs.count()
    assert sum(s["postings_written"] for s in m["shards"]) == postings

    ref_dir = tmp_path_factory.mktemp("refdocmap")
    write_docmap = _make_docmap_writer(str(ref_dir), lc.STORAGE_POSIX)
    merged_dir = lc.gen_dir(root, m["generation"])
    assert sorted(parts) == sorted(s["shard"] for s in m["shards"])
    for sh in m["shards"]:
        ref = write_docmap((sh["shard"],),
                           pd.concat(parts[sh["shard"]], ignore_index=True))
        assert ref.iloc[0]["fingerprint"] == sh["fingerprint"]
        assert (ref_dir / sh["docmap_file"]).read_bytes() == \
            (merged_dir / sh["docmap_file"]).read_bytes()
    after = IndexSearcher(spark, root).search(query, 10) if query else None
    return before, after


def test_merge_with_duplicate_doc_ids(spark, tiny_transcripts,
                                      tmp_path_factory):
    """append never dedupes: the same doc_id can exist in two delta
    generations. The merge must preserve BOTH copies (result parity
    with the pre-merge index), keying ordinal mapping on provenance,
    not doc_id."""
    before, after = _merge_appended_twice(spark, tiny_transcripts,
                                          tmp_path_factory, "the spark")
    # duplicate docs produce pairwise-equal hits; scores must match 1:1
    assert [(d, round(s, 9)) for d, s in after] == \
        [(d, round(s, 9)) for d, s in before]


def test_merge_with_duplicate_odd_doc_ids(spark, odd_id_transcripts,
                                          tmp_path_factory):
    """The same, for ids with no ':', a trailing ':', a non-numeric
    suffix and ':' inside the conv id. The searchers order hits by a
    numeric turn, so these are checked through the docmaps and posting
    counts only."""
    _merge_appended_twice(spark, odd_id_transcripts, tmp_path_factory)


@pytest.mark.parametrize("n_new", [2, 3], ids=["fused", "general"])
def test_merge_seeds_are_local_relations(spark, tiny_transcripts,
                                         tmp_path_factory, monkeypatch,
                                         n_new):
    """The merge seeds its Spark jobs (the per-destination job on the
    fused path, gen_map on the general one) from pandas frames, which
    Arrow plans as a local relation. A Python list would plan as a
    Python RDD scan that starts Python tasks doing no engine work."""
    import pandas as pd

    from pyspark.sql import SparkSession

    from geospatial_spark.plans.build import build_index
    from geospatial_spark.plans.compact import merge_generations

    root = str(tmp_path_factory.mktemp("seedidx") / "idx")
    build_index(spark, tiny_transcripts, root, n_shards=4)
    seen = []
    create = SparkSession.createDataFrame

    def spy(self, data, *args, **kwargs):
        df = create(self, data, *args, **kwargs)
        seen.append((type(data).__name__,
                     df._jdf.queryExecution().analyzed().nodeName()))
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    m = merge_generations(spark, root, n_shards=n_new, force=True)
    assert m["n_shards"] == n_new
    assert seen
    assert all(kind == pd.DataFrame.__name__ and node == "LocalRelation"
               for kind, node in seen), seen


def test_merge_noop_on_single_generation(spark, merged_root):
    from geospatial_spark.plans.compact import merge_generations

    root, m1 = merged_root
    m2 = merge_generations(spark, root)
    assert m2["generation"] == m1["generation"]


def test_force_reshard_single_generation(spark, small_transcripts,
                                         small_oracle, tmp_path_factory):
    """force=True reshards ONE generation through the co-located fast
    path (2 divides 4: destination shards read their source shards
    directly, no posting shuffle). Results must be identical to the
    pre-merge index, and saturated terms must gain impact copies at the
    bigger per-shard df."""
    import math

    from geospatial_spark.plans import lifecycle as lc
    from geospatial_spark.plans.build import build_index
    from geospatial_spark.plans.compact import merge_generations
    from geospatial_spark.plans.query import IndexSearcher

    root = str(tmp_path_factory.mktemp("reshard") / "idx")
    build_index(spark, small_transcripts, root, n_shards=4, hot_df_copy=64)
    before = IndexSearcher(spark, root)
    snaps = {q: before.search(q, 10)
             for q in ["the spark", "deploy the spark job", "the"]}

    m = merge_generations(spark, root, n_shards=2, force=True,
                          hot_df_copy=64)
    assert m["n_shards"] == 2
    assert len(m["generations"]) == 1
    after = IndexSearcher(spark, root)
    for q, want in snaps.items():
        got = after.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (gd, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), (q, gd)

    # phrase still served (positions survived the reshard)
    pdf = small_transcripts.select("conv_id", "turn_idx", "text").toPandas()
    rows = list(zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]))
    ph = after.search_phrase("the spark", 5)
    want_ph = [(d, s) for d, s, _ in
               small_oracle.search_phrase(rows, "the spark", 5)]
    assert [d for d, _ in ph] == [d for d, _ in want_ph]


def _encoded_segment():
    """One shard's segment table over known postings: single-block,
    multi-block and exactly-two-block (df 256) terms."""
    import numpy as np

    from geospatial_spark.plans.build import (
        ORD_SHARD_SHIFT,
        encode_runs_to_segments,
    )

    rng = np.random.default_rng(7)
    dfs = np.array([1, 5, 127, 128, 256, 300, 3, 129])
    terms = np.array([f"t{i:02d}" for i in range(len(dfs))])
    docs = np.concatenate([np.sort(rng.choice(1000, d, replace=False))
                           for d in dfs]).astype(np.int64)
    docs |= np.int64(3) << ORD_SHARD_SHIFT
    tfs = rng.integers(1, 5, len(docs)).astype(np.int64)
    dls = rng.integers(5, 90, len(docs)).astype(np.int64)
    pos = np.concatenate([np.sort(rng.choice(200, t, replace=False))
                          for t in tfs]).astype(np.int64)
    ends = np.cumsum(dfs)
    starts = ends - dfs
    rtb = np.concatenate(([0], np.cumsum(tfs)))
    seg, _, _ = encode_runs_to_segments(
        3, terms, starts, ends, docs.astype(np.uint64), tfs.astype(np.uint64),
        dls.astype(np.uint64), pos, rtb, float(dls.mean()), hot_df_copy=0)
    return seg, starts, ends, docs, tfs, dls, pos


def test_bulk_decode_segment_matches_per_term_decode():
    """The merge's whole-segment decode reads the Arrow buffers directly;
    it must equal the per-term decode_posting for a whole table, a
    sliced one (list arrays at non-zero offsets), a chunked one and a
    zero-row one."""
    import numpy as np
    import pyarrow as pa

    from geospatial_spark.functions.codec import decode_posting
    from geospatial_spark.plans.compact import _bulk_decode_segment

    seg, starts, ends, docs, tfs, dls, pos = _encoded_segment()
    assert (seg.column("df").to_numpy() == ends - starts).all()
    assert max(len(b) for b in seg.column("doc_blocks").to_pylist()) == 3

    def check(t, lo, hi):
        got_dfs, src_ords, got_tfs, got_dls, pos_flat, rtb = \
            _bulk_decode_segment(t)
        p0, p1 = (starts[lo], ends[hi - 1]) if hi > lo else (0, 0)
        per_term = [decode_posting(db, tb) for db, tb in
                    zip(t.column("doc_blocks").to_pylist(),
                        t.column("tf_blocks").to_pylist())]
        want_docs = (np.concatenate([d for d, _ in per_term])
                     if per_term else np.empty(0))
        want_tfs = (np.concatenate([f for _, f in per_term])
                    if per_term else np.empty(0))
        assert (got_dfs == (ends - starts)[lo:hi]).all()
        assert src_ords.tolist() == want_docs.astype(np.int64).tolist()
        assert src_ords.tolist() == docs[p0:p1].tolist()
        assert got_tfs.tolist() == want_tfs.astype(np.int64).tolist()
        assert got_dls.tolist() == dls[p0:p1].tolist()
        t0, t1 = int(tfs[:p0].sum()), int(tfs[:p1].sum())
        assert pos_flat.tolist() == pos[t0:t1].tolist()
        assert rtb.tolist() == np.concatenate(
            ([0], np.cumsum(tfs[p0:p1]))).tolist()

    n = seg.num_rows
    check(seg, 0, n)
    check(seg.slice(2, n - 3), 2, n - 1)
    chunked = pa.concat_tables([seg.slice(0, 3), seg.slice(3, 2),
                                seg.slice(5)])
    assert chunked.column("doc_blocks").num_chunks == 3
    check(chunked, 0, n)
    check(seg.slice(4, 0), 4, 4)
