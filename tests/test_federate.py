"""Federated (multi-index) search: a federation of two half-corpus
indexes must score IDENTICALLY to one index built over the union —
corpus-global N/avgdl/df by construction."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def fed_roots(spark, small_transcripts, tmp_path_factory):
    from geospatial_spark.plans.build import build_index

    base = tmp_path_factory.mktemp("fed")
    halves = [small_transcripts.where(F.crc32("conv_id") % 2 == i)
              for i in range(2)]
    build_index(spark, halves[0], str(base / "ia"), n_shards=3)
    build_index(spark, halves[1], str(base / "ib"), n_shards=2)
    build_index(spark, small_transcripts, str(base / "union"), n_shards=4)
    return str(base / "ia"), str(base / "ib"), str(base / "union")


def test_federated_equals_union_index(spark, fed_roots):
    from geospatial_spark.plans.federate import federated_searcher
    from geospatial_spark.plans.query import IndexSearcher

    ia, ib, iu = fed_roots
    fed = federated_searcher(spark, [ia, ib])
    uni = IndexSearcher(spark, iu)
    assert fed.n_docs == uni.n_docs
    assert math.isclose(fed.avgdl, uni.avgdl, rel_tol=1e-12)
    N = uni.n_docs
    # FULL match sets (k = N): per-shard tie cuts depend on the
    # partitioning, so page-level equality is only guaranteed uncut
    for q in ["the spark job", "deploy", "w100 w200 w5"]:
        x, y = fed.search(q, N), uni.search(q, N)
        assert [d for d, _ in x] == [d for d, _ in y], q
        for (_, sx), (_, sy) in zip(x, y):
            assert math.isclose(sx, sy, rel_tol=1e-9)
    # bool and phrase flow through the same merged stats
    bx = fed.search_bool("the spark", "job", "", N)
    by = uni.search_bool("the spark", "job", "", N)
    assert [d for d, _ in bx] == [d for d, _ in by]
    # the bool family reads docmap metadata per generation: the meta
    # predicate, facets, match stats and collapse see the same docs
    meta = {"role": "assistant"}
    mx = fed.search_bool("the spark", "", "", N, meta=meta)
    my = uni.search_bool("the spark", "", "", N, meta=meta)
    assert mx and [d for d, _ in mx] == [d for d, _ in my]
    for (_, sx), (_, sy) in zip(mx, my):
        assert math.isclose(sx, sy, rel_tol=1e-9)
    for field in ("role", "ts_day"):
        fx = fed.facet_counts("the spark", meta=meta, field=field)
        assert fx and fx == uni.facet_counts("the spark", meta=meta,
                                             field=field), field
    sx, sy = (srch.match_stats_df("the spark", meta=meta).first().asDict()
              for srch in (fed, uni))
    assert sx["n_matched"] > 0 and sx == sy
    cx = fed.search_collapsed("the spark", k=10)
    cy = uni.search_collapsed("the spark", k=10)
    assert cx and [(v, d) for v, d, _ in cx] == [(v, d) for v, d, _ in cy]
    for (_, _, sx), (_, _, sy) in zip(cx, cy):
        assert math.isclose(sx, sy, rel_tol=1e-9)
    px, py = dict(fed.search_phrase("the spark", N)), \
        dict(uni.search_phrase("the spark", N))
    assert set(px) == set(py)
    for d in px:
        assert math.isclose(px[d], py[d], rel_tol=1e-9)
    # explain decomposes with the FEDERATED stats: total == fed score
    q = "the spark job"
    d0, s0 = fed.search(q, 1)[0]
    ex = fed.explain(q, d0)
    assert ex is not None and math.isclose(ex["score"], s0, rel_tol=1e-9)


def test_federated_guards(spark, fed_roots, small_transcripts,
                          tmp_path_factory):
    from geospatial_spark.plans.build import build_index
    from geospatial_spark.plans.federate import federated_searcher

    ia, ib, _ = fed_roots
    with pytest.raises(ValueError):
        federated_searcher(spark, [])
    # mismatched analyzers refuse to federate
    root = str(tmp_path_factory.mktemp("fed_norm") / "idx")
    build_index(spark, small_transcripts.limit(20), root, n_shards=1,
                normalization={"spark": "spk"})
    with pytest.raises(ValueError, match="normalization"):
        federated_searcher(spark, [ia, root])
