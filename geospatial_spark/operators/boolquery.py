"""Boolean query over the compressed index: should / filter / must_not.

The OpenSearch `bool` query analogue (the reference wraps its shape
queries into bool/filter contexts via QueryBuilders — e.g. the
processor path builds filtered queries around the geometry predicate,
index/query/xyshape/XYShapeQueryBuilder.java:62-71). Clause semantics
(documented contract, shared with the DuckDB oracle):

  should    — scored OR: a matching doc contains ≥ minimum_should_match
              DISTINCT should terms (default 1 when any should terms
              are given); score = Σ BM25 over ALL should terms present
              (not just the qualifying ones).
  filter    — unscored AND: every filter term must appear.
  must_not  — unscored NOT: no must_not term may appear.
  minimum_should_match = 0 makes the should clause OPTIONAL (the
              OpenSearch default when a filter/must context is
              present): the filter clauses alone decide matching and
              present should terms only contribute score (0.0 when
              none appear).
  no should clauses → matching is filter/must_not only and every hit
              scores 0.0 (OpenSearch's constant-score filter context).

Scale shape: per shard the filter/must_not streams decode doc ids only
(no tf/dl use) into membership masks; should postings decode once and
scatter-add. Everything is bulk varint + numpy; candidate sets shrink
by the most selective filter first at the mask level.

One plan, two placements. `parse_bool` resolves a request's clause text
once (tokens, normalization, metadata predicate, msm, boosts) and
`prune_bool` turns it plus global df into a frozen `BoolPlan`, or None
when nothing can match. `bool_shard` is one (gen, shard) step: the
metadata mask, the kernel, then one per-shard reducer — `TopK`,
`FacetCounts`, `MatchStats` or `Collapse` — folding (local ordinals,
scores, docmap columns) into a few partial rows. The serving tier
(plans/serve.LocalSearcher) drives that step from its shard loop, the
Spark tier (plans/query.IndexSearcher) from applyInPandas; only the
loop and the final merge of the partials differ between them.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from geospatial_spark.functions.bm25 import B, K1, idf
from geospatial_spark.functions.tokenize import tokenize_py
from geospatial_spark.operators import metafilter as mf
from geospatial_spark.operators.phrase import _decode_full_posting


def bool_match_shard(
    should: list[str],
    filters: list[str],
    must_not: list[str],
    rows_by_term: dict[str, dict],
    n_local_docs: int,
    base_ord: int,
    df_global: dict[str, int],
    n_docs: int,
    avgdl: float,
    k: int,
    allowed_init: np.ndarray | None = None,
    quantize: bool = False,
    min_should_match: int = 1,
    boosts: dict[str, float] | None = None,
):
    """Score one shard. Returns (local_docs, scores) of the shard's
    top-k (score desc, doc asc; exact scores).

    allowed_init: optional pre-computed membership mask over local
    ordinals (the metadata-filter path, operators/metafilter.py) that
    restricts the candidate universe exactly like an unscored filter
    clause — scoring stats stay corpus-global.

    quantize: score with log-quantized doc lengths (the opt-in
    quantized-norm mode, functions/bm25.quantize_dl) — same contract
    as wand_shard(quantize=True).

    min_should_match: distinct should terms a doc must contain to
    match (``should`` is a distinct list, so per-term presence counts
    once); 0 = optional-should (filter context decides matching). A
    value above len(should) matches nothing, Lucene's behavior — the
    driver short-circuits that case before any shard runs.

    boosts: optional per-should-term score multipliers (Lucene clause
    boosts, `term^2`): scoring becomes Σ boost_t · BM25_t over present
    should terms. Matching (msm hit counts, filter semantics) is
    UNAFFECTED — a boost-0 term still matches, exactly Lucene. The
    multiply is applied LAST per term so boost=1.0 is bit-identical to
    the unboosted path (and to the oracle's `per_term * boost`)."""
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    if n_local_docs == 0:
        return empty
    # a filter term with no postings in this shard ⇒ nothing matches here
    if any(t not in rows_by_term for t in filters):
        return empty

    if allowed_init is not None:
        if len(allowed_init) != n_local_docs:
            raise ValueError(
                f"allowed_init length {len(allowed_init)} != shard docs "
                f"{n_local_docs}")
        allowed = allowed_init.astype(bool, copy=True)
        if not allowed.any():
            return empty
    else:
        allowed = np.ones(n_local_docs, dtype=bool)
    for t in filters:
        docs, _, _, _ = _decode_full_posting(rows_by_term[t], base_ord,
                                             need_positions=False)
        mask = np.zeros(n_local_docs, dtype=bool)
        mask[docs] = True
        allowed &= mask
        if not allowed.any():
            return empty
    for t in must_not:
        r = rows_by_term.get(t)
        if r is None:
            continue
        docs, _, _, _ = _decode_full_posting(r, base_ord,
                                             need_positions=False)
        allowed[docs] = False
    if not allowed.any():
        return empty

    msm = int(min_should_match)
    if should:
        scores = np.zeros(n_local_docs, dtype=np.float64)
        nhit = np.zeros(n_local_docs, dtype=np.int32)
        for t in should:
            r = rows_by_term.get(t)
            if r is None:
                continue
            docs, tfs, dls, _ = _decode_full_posting(r, base_ord,
                                                     need_positions=False)
            if quantize:
                from geospatial_spark.functions.bm25 import quantize_dl_np

                dls = quantize_dl_np(dls)
            tff = tfs.astype(np.float64)
            dlf = dls.astype(np.float64)
            idf_t = idf(int(df_global[t]), n_docs)
            contrib = idf_t * (
                tff / (tff + K1 * (1.0 - B + B * (dlf / avgdl))))
            if boosts is not None:
                w = float(boosts.get(t, 1.0))
                if w != 1.0:
                    contrib = contrib * w
            scores[docs] += contrib
            nhit[docs] += 1
        if msm > 0:
            cand = np.flatnonzero((nhit >= msm) & allowed)
        else:
            # optional should: filter context decides, should only scores
            cand = np.flatnonzero(allowed)
        if len(cand) == 0:
            return empty
        cscores = scores[cand]
    else:
        cand = np.flatnonzero(allowed)
        if len(cand) == 0:
            return empty
        cscores = np.zeros(len(cand), dtype=np.float64)

    if len(cand) > k:
        kth = np.partition(cscores, -k)[-k]
        keep = cscores >= kth
        cand, cscores = cand[keep], cscores[keep]
    order = np.lexsort((cand, -cscores))
    top = order[:k]
    return cand[top], cscores[top]


# -- the shared plan ----------------------------------------------------


@dataclass(frozen=True)
class BoolQuery:
    """A parsed bool request: distinct normalized clause terms plus
    everything the kernel needs that does not depend on df."""

    should: tuple[str, ...]
    filters: tuple[str, ...]
    must_not: tuple[str, ...]
    should_given: bool  # should text was given (it may tokenize to nothing)
    msm: int
    boosts: dict | None
    meta: dict | None
    quantize: bool
    n_docs: int
    avgdl: float

    @property
    def terms(self) -> list[str]:
        return sorted(set(self.should + self.filters + self.must_not))


@dataclass(frozen=True)
class BoolPlan(BoolQuery):
    """A pruned bool request: live clause terms only, their global df,
    and whether shards without any scanned term row can still hold hits
    (``pure_not``: pure-NOT, match-all, metadata-only and
    optional-should plans run on every shard)."""

    df: dict
    pure_not: bool
    scan_terms: tuple[str, ...]


def parse_bool(index, should: str = "", filter_q: str = "",
               must_not: str = "", meta: dict | None = None,
               min_should_match: int = 1,
               boosts: dict[str, float] | None = None,
               quantized: bool = False, need=()) -> BoolQuery:
    """Resolve a bool request against ``index`` (either searcher: the
    manifest view, its corpus stats and docmap files). Boost keys run
    through the same tokenizer and normalizer as the clauses. ``need``
    names docmap columns the op itself reads (a facet or collapse
    field). Raises on a negative msm and on docmap-v1 generations that
    lack a column the predicate or the op reads."""
    meta = mf.normalize_meta(meta)
    msm = int(min_should_match)
    if msm < 0:
        raise ValueError("min_should_match must be >= 0")
    mf.check_docmap_columns(
        index, set(need) | set(mf.needed_cols(meta) if meta else ()))
    norm = index.manifest.get("normalization") or {}

    def toks(text) -> tuple[str, ...]:
        return tuple(sorted({norm.get(t, t) for t in tokenize_py(text or "")}))

    bst = {t: float(w) for key, w in (boosts or {}).items()
           for t in toks(str(key))}
    return BoolQuery(toks(should), toks(filter_q), toks(must_not),
                     bool(should), msm, bst or None, meta, bool(quantized),
                     int(index.n_docs), float(index.avgdl))


def prune_bool(q: BoolQuery, df_global: dict[str, int]) -> BoolPlan | None:
    """The clause prune: ``q`` plus global df → the live plan, or None
    when nothing can match (MatchNoDocs) — a filter term absent from
    the corpus, or a required should clause left with no live term or
    with fewer live terms than msm (Lucene's
    minimumNumberShouldMatch-above-count rule). Dead should and
    must_not terms drop out. ``df_global`` may cover more terms than
    ``q`` (a batch-wide lookup)."""
    if any(t not in df_global for t in q.filters):
        return None
    sh = tuple(t for t in q.should if t in df_global)
    if q.should_given and not sh and q.msm > 0:
        return None
    if sh and q.msm > len(sh):
        return None
    mn = tuple(t for t in q.must_not if t in df_global)
    live = tuple(sorted(set(sh + q.filters + mn)))
    return BoolPlan(**{**vars(q), "should": sh, "must_not": mn},
                    df={t: df_global[t] for t in live},
                    pure_not=(not sh or q.msm == 0) and not q.filters,
                    scan_terms=live)


def plan_bool(index, should: str = "", filter_q: str = "",
              must_not: str = "", **kw) -> BoolPlan | None:
    """parse_bool, then prune against ``index``'s own df lookup. None
    for an empty corpus or a request that cannot match."""
    q = parse_bool(index, should, filter_q, must_not, **kw)
    if q.n_docs == 0:
        return None
    terms = q.terms
    return prune_bool(q, index._df_for(terms) if terms else {})


def bool_clauses(spec: dict) -> dict:
    """parse_bool keywords from a search_many_mixed bool spec."""
    return {"should": spec.get("should", ""),
            "filter_q": spec.get("filter", ""),
            "must_not": spec.get("must_not", ""),
            "meta": spec.get("meta"),
            "min_should_match": int(spec.get("minimum_should_match", 1)),
            "boosts": spec.get("boosts") or None,
            "quantized": bool(spec.get("quantized", False))}


# -- one shard step and its reducers ------------------------------------


def bool_shard(plan: BoolPlan, op, rows_by_term: dict[str, dict],
               n_local: int, base_ord: int, col):
    """One (gen, shard) step of a bool-family op, whatever runs it: the
    metadata mask, the kernel at the op's depth, then the op's reducer.
    ``col(name)`` returns one of the shard's docmap columns (a pyarrow
    array; None when the docmap predates it). Returns the op's partial
    columns, or None when nothing matches in this shard."""
    amask = None
    if plan.meta is not None:
        import pyarrow as pa

        amask = mf.meta_mask_table(
            pa.table({c: col(c) for c in mf.needed_cols(plan.meta)}),
            plan.meta)
    local, scores = bool_match_shard(
        plan.should, plan.filters, plan.must_not, rows_by_term, n_local,
        base_ord, plan.df, plan.n_docs, plan.avgdl, op.depth(n_local),
        allowed_init=amask, quantize=plan.quantize,
        min_should_match=plan.msm, boosts=plan.boosts)
    if len(local) == 0:
        return None
    return op.reduce(local, scores.astype(np.float64), col)


# The per-shard reducers. Each names the docmap `cols` it reads, its
# kernel `depth` for a shard of n docs, and the Spark `schema` and
# pandas `dtypes` of its partial rows; `reduce` folds (local ordinals,
# scores, docmap columns) into those rows with Arrow/numpy calls, never
# per-row Python over the match set.


class TopK:
    """Top-k (doc_id, score) of the shard's match set."""

    cols = ("doc_id",)
    schema = "doc_id string, score double"
    dtypes = {"doc_id": object, "score": "float64"}

    def __init__(self, k: int):
        self.k = int(k)

    def depth(self, n_local: int) -> int:
        return self.k

    def reduce(self, local, scores, col) -> dict:
        return {"doc_id": col("doc_id").take(local).to_pylist(),
                "score": scores}


class _FullMatchSet:
    """Aggregations see the shard's FULL match set: the kernel runs at
    depth n_local, never a top-k cut."""

    def depth(self, n_local: int) -> int:
        return max(n_local, 1)


class FacetCounts(_FullMatchSet):
    """Matching docs per value of a docmap field (NULL values are the
    missing bucket and drop out): ≤ |distinct values| rows per shard."""

    schema = "facet string, n long"
    dtypes = {"facet": object, "n": "int64"}

    def __init__(self, field: str):
        if field not in mf.FACET_FIELDS:
            raise ValueError(f"unsupported facet field {field!r} "
                             "(docmap metadata fields / time buckets "
                             f"only: {mf.FACET_FIELDS})")
        self.field = field
        self.cols = ("ts_us" if field in mf.FACET_TIME_FIELDS else field,)

    def reduce(self, local, scores, col) -> dict:
        import pyarrow.compute as pc

        vc = pc.value_counts(
            mf.facet_values(col(self.cols[0]).take(local), self.field))
        keep = vc.field("values").is_valid()
        return {"facet": vc.field("values").filter(keep).to_pylist(),
                "n": vc.field("counts").filter(keep).to_numpy()}


class MatchStats(_FullMatchSet):
    """One row (n, sum_dl, min_ts, max_ts) per shard; ts nulls are
    excluded from min/max, and a docmap without ts_us gives NULLs."""

    cols = ("dl", "ts_us")
    schema = "n long, sum_dl long, min_ts long, max_ts long"
    dtypes = {"n": "int64", "sum_dl": "int64", "min_ts": "Int64",
              "max_ts": "Int64"}

    def reduce(self, local, scores, col) -> dict:
        import pyarrow.compute as pc

        ts = col("ts_us")
        lo = hi = None
        if ts is not None:
            mm = pc.min_max(ts.take(local))
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
        return {"n": [len(local)],
                "sum_dl": [pc.sum(col("dl").take(local)).as_py()],
                "min_ts": [lo], "max_ts": [hi]}


class Collapse(_FullMatchSet):
    """Best hit per value of a docmap field: one row per distinct
    non-null value (see best_per_value)."""

    schema = "collapse string, doc_id string, score double"
    dtypes = {"collapse": object, "doc_id": object, "score": "float64"}

    def __init__(self, field: str):
        if field not in ("role",):
            raise ValueError(f"unsupported collapse field {field!r} "
                             "(docmap metadata fields only)")
        self.field = field
        self.cols = (field, "doc_id")

    def reduce(self, local, scores, col) -> dict:
        import pyarrow as pa

        return best_per_value(pa.table({
            "collapse": col(self.field).take(local),
            "doc_id": col("doc_id").take(local),
            "score": scores})).to_pydict()


def round_dp(x, dp: int) -> np.ndarray:
    """Python's correctly rounded ``round(v, dp)`` over an array.
    ``np.round`` (multiply, then round half to even) differs from it
    only where v·10^dp lands within an ulp of a half-integer — e.g.
    22.4223825, stored just above the half-way point, which ``round``,
    DuckDB and Spark take up and ``np.round`` takes down. Those rows
    alone, almost never any, go through ``round``."""
    v = np.asarray(x, dtype=np.float64)
    y = v * 10.0 ** dp
    r = np.rint(y) / 10.0 ** dp
    near = np.abs(y - np.floor(y) - 0.5) <= np.spacing(np.abs(y))
    for i in np.flatnonzero(near):
        r[i] = round(float(v[i]), dp)
    return r


def best_per_value(t):
    """The collapse reduce over a pyarrow (collapse, doc_id, score)
    table: per distinct non-null value, its best row under the
    rounded-ordering contract (round(score, ORDER_DP) desc, doc_id
    asc), returned in that order. Associative, so it folds per-shard
    partials as well."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from geospatial_spark.functions.oracle_sql import ORDER_DP

    t = t.filter(pc.is_valid(t.column("collapse")))
    r = round_dp(t.column("score").to_numpy(), ORDER_DP)
    t = t.append_column("r", pa.array(r)).sort_by(
        [("r", "descending"), ("doc_id", "ascending")])
    codes = pc.dictionary_encode(
        t.column("collapse").combine_chunks()).indices.to_numpy()
    first = np.sort(np.unique(codes, return_index=True)[1])
    return t.take(first).drop_columns(["r"])
