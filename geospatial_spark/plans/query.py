"""Query-side plan: parse → plan (driver) → per-(generation, shard)
WAND → merge.

Reference lifecycle analogue (SURVEY.md §3.2): coordinator parses the
query and rewrites builders, shards execute, coordinator reduces.

Multi-generation model (the Lucene multi-segment analogue): an index is
a set of frozen generations (one after a batch build; many under the
streaming delta writer). Global BM25 stats are summed across
generations at query time — N, avgdl from the manifest, df(term) from
the per-generation dictionaries — so scores are identical to a full
rebuild over the union.

Scale shape per query (independent of corpus size N):
  * segments scan filtered by term — parquet predicate pushdown + small
    row groups over term-sorted files, so I/O ∝ matched postings;
  * df(term): driver-cached merged dictionary (small vocabularies) or a
    term-filtered dictionary scan;
  * one applyInPandas over (gen, shard) groups → k rows per group;
  * driver merges groups × k rows; doc_ids resolve inside the kernel
    from the shard's docmap file (no per-query docmap shuffle).
Empty/unknown query terms short-circuit without launching a job
(MatchNoDocsQuery analogue, XYShapeQueryProcessor.java:49-53).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geospatial_spark.functions.tokenize import tokenize_py
from geospatial_spark.operators.boolquery import (Collapse, FacetCounts,
                                                  MatchStats, TopK,
                                                  bool_clauses, parse_bool,
                                                  plan_bool, prune_bool)
from geospatial_spark.operators.wand import wand_shard
from geospatial_spark.plans import lifecycle as lc
from geospatial_spark.plans.build import ORD_SHARD_SHIFT


def merge_tie_break():
    """(conv_id, turn_idx) asc parsed from doc_id (conv may contain ':';
    turn is after the LAST colon)."""
    conv = F.expr("substring(doc_id, 1, length(doc_id) - length(substring_index(doc_id, ':', -1)) - 1)")
    turn = F.substring_index("doc_id", ":", -1).cast("int")
    return [conv.asc(), turn.asc()]



# impact-copy columns: shipped only to the WAND (plain-search) kernel —
# phrase/near/bool kernels read doc-ordered streams exclusively, and a
# hot term's impact bytes are the big ones
_IMP_COLS = ("imp_head_doc_blocks", "imp_head_tf_blocks",
             "imp_head_dl_blocks", "imp_tail_doc_blocks",
             "imp_tail_tf_blocks", "imp_tail_dl_blocks",
             "imp_sky_tf", "imp_sky_dl", "imp_sky_off",
             "imp_tier_ends", "imp_tier_sky_tf", "imp_tier_sky_dl",
             "imp_tier_sky_off")

class IndexSearcher:
    """Immutable view over the published generation set (the frozen-index
    read path: freeze + immutability is what makes caching sound in the
    reference, Ip2GeoCachedDao.java:263-267)."""

    DICT_CACHE_MAX = 2_000_000

    def __init__(self, spark: SparkSession, index_root: str,
                 max_age_seconds: float | None = None):
        self.spark = spark
        self.root = index_root
        m = lc.read_manifest(index_root)
        if not m or m.get("state") != lc.STATE_AVAILABLE:
            raise ValueError(f"index at {index_root} not AVAILABLE: {m and m.get('state')}")
        missing = lc.missing_generations(index_root)
        if missing:
            # manifest/disk reconciliation (Ip2GeoListener.java:47-53):
            # a listed generation's files are gone → refuse to serve
            raise ValueError(
                f"index_generations_missing: {missing} listed in manifest "
                "but absent on disk — force rebuild required")
        if max_age_seconds is not None:
            # expired-data predicate (P6): the reference refuses lookups
            # on expired datasources with {"error": "ip2geo_data_expired"}
            # (Ip2GeoProcessor.java:40, :156-159)
            import time as _time

            age = _time.time() - float(m.get("built_at_unix", 0))
            if age > max_age_seconds:
                raise ValueError(
                    f"index_data_expired: built {age:.0f}s ago > max_age {max_age_seconds}s")
        self.manifest = m
        # "generations" may legitimately be an empty list (empty corpus);
        # only fall back for pre-multi-generation manifests lacking the key
        self.gens = (m["generations"] if "generations" in m else [
            {"id": m["generation"], "n_shards": m["n_shards"],
             "n_docs": m["n_docs"], "shards": m["shards"]}
        ])
        self.n_docs = int(m["n_docs"])
        self.avgdl = float(m["avgdl"])
        self.gdirs = {g["id"]: str(lc.gen_dir(index_root, g["id"])) for g in self.gens}
        self.shard_docs = {
            (g["id"], int(s["shard"])): int(s["docs_tokenized"])
            for g in self.gens for s in g["shards"]
        }
        # manifest-recorded artifact names (storage adapter: put-mode
        # names are unique/tokenized — readers never list directories)
        self.seg_files: dict[str, list[str]] = {}
        self.docmap_files: dict[tuple[str, int], str] = {}
        for g in self.gens:
            segs, dms = lc.gen_shard_files(g)
            self.seg_files[g["id"]] = segs
            for sh, name in dms.items():
                self.docmap_files[(g["id"], sh)] = name
        total_terms = sum(int(g.get("n_terms", 0)) for g in self.gens)
        self._dict_small = total_terms <= self.DICT_CACHE_MAX
        self._dict: dict[str, int] | None = None
        # single-generation conveniences (used by tests/tools)
        self.gdir = lc.gen_dir(index_root, m["generation"])

    # -- dictionary ---------------------------------------------------

    def _dict_df(self) -> DataFrame:
        parts = []
        for g in self.gens:
            base = f"{self.gdirs[g['id']]}/dictionary"
            names = g.get("dictionary_files")
            # put-mode contract: manifest-recorded names, never a listing
            paths = ([f"{base}/{n}" for n in names] if names else [base])
            parts.append(self.spark.read.parquet(*paths).select("term", "df"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _df_for(self, terms: list[str]) -> dict[str, int]:
        """Global df per term = sum over generations."""
        if self._dict_small:
            if self._dict is None:
                rows = self._dict_df().groupBy("term").agg(F.sum("df").alias("df")).collect()
                self._dict = {r["term"]: int(r["df"]) for r in rows}
            return {t: self._dict[t] for t in terms if t in self._dict}
        rows = (
            self._dict_df().where(F.col("term").isin(terms))
            .groupBy("term").agg(F.sum("df").alias("df")).collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}

    # -- scans --------------------------------------------------------

    def _segments(self) -> DataFrame:
        # the generation set is frozen for this searcher's lifetime, so
        # the union-of-scans plan is built once — rebuilding it per
        # query re-ran file listing + footer schema resolution on every
        # search (a fixed driver-side cost per query)
        cached = getattr(self, "_segments_plan", None)
        if cached is not None:
            return cached
        parts = []
        for g in self.gens:
            paths = [f"{self.gdirs[g['id']]}/{n}" for n in self.seg_files[g["id"]]]
            df = self.spark.read.parquet(*paths)
            parts.append(df.withColumn("gen", F.lit(g["id"])))
        out = parts[0]
        for p in parts[1:]:
            # allowMissingColumns: generations built before a segment-
            # format extension (e.g. skyline columns) union with nulls;
            # the scorer falls back per row
            out = out.unionByName(p, allowMissingColumns=True)
        self._segments_plan = out
        return out

    # small-k searches skip the Spark job entirely: a coordinator-side
    # LocalSearcher (plans/serve.py — the serving tier's gate-tested
    # engine: same wand kernel, same stats, same tie-break) answers from
    # row-group-pruned segment reads with byte-bounded caches. The
    # per-query Spark fixed cost (Catalyst planning + exchange + task
    # scheduling, measured ~0.5 s/query warm at sf0.1) dwarfs the
    # kernel work for top-k queries; the distributed plan remains the
    # path for deep fetches (the adaptive-overfetch 0.0-plateau resolves
    # corpus-sized candidate sets executor-side) and federated roots.
    LOCAL_SEARCH_MAX_K = 4096
    # positions bound: phrase/near queries decode the full position
    # streams of every doc containing ALL query terms — work the match
    # path's impact copies cannot cap. Beyond this estimated
    # co-occurrence count the single-coordinator decode loses to the
    # n_shards-way distributed kernels (measured 4.7x on a two-term
    # near query whose terms each cover >90% of the corpus).
    LOCAL_SEARCH_MAX_COOC = 400_000

    def _cooc_est(self, df_global: dict, terms) -> float:
        """Expected docs containing ALL terms under independence:
        n · Π(df_t / n) — the scaling term of a positions decode."""
        nd = max(self.n_docs, 1)
        est = float(nd)
        for t in terms:
            est *= df_global.get(t, 0) / nd
        return est

    def _positions_local(self, k: int, est: float):
        """_local_dispatch for position-decoding queries, bounded by
        the estimated intersection size."""
        if est > self.LOCAL_SEARCH_MAX_COOC:
            return None
        return self._local_dispatch(k)

    # match-path bulk bound: a MULTI-term query whose saturated terms
    # jointly cover most of the corpus takes the kernel's bulk-hot
    # route — decode volume ≈ Σ df, which the single coordinator pays
    # serially while the distributed kernels split it per shard.
    # Single-term hot queries stay local at any df (the impact HEAD is
    # O(k)). The crossover is where the coordinator's cold decode
    # (measured ~2.5-3M postings/s single-thread) exceeds the
    # distributed job's fixed-plus-parallel cost (measured ~1.2-2 s at
    # an 8M-posting query on 8-32 cores, i.e. crossover ~5-6M): the
    # default caps the coordinator at ~1.5 s of worst-case cold decode,
    # and warm repeats are near-free (per-row impact memos).
    LOCAL_SEARCH_MAX_POSTINGS = 4_000_000

    def _match_local(self, k: int, df_global: dict):
        if (len(df_global) >= 2
                and sum(df_global.values())
                > self.LOCAL_SEARCH_MAX_POSTINGS):
            return None
        return self._local_dispatch(k)

    def _local_dispatch(self, k: int):
        """The serving-tier searcher for this index, or None when the
        query must run distributed (k beyond the local cap, federated
        manifest, or a LocalSearcher refuses the root)."""
        if int(k) > self.LOCAL_SEARCH_MAX_K:
            return None
        if self.manifest.get("federated_roots") is not None:
            return None
        ls = getattr(self, "_local_inst", None)
        if ls is None:
            from geospatial_spark.plans.serve import LocalSearcher

            try:
                ls = LocalSearcher(self.root)
            except (ValueError, OSError):
                ls = False
            # this searcher's generation view is frozen at construction;
            # a LocalSearcher reads the live manifest — if the index has
            # advanced since (e.g. a merge published a new generation),
            # serving from it would answer over a different corpus view
            if ls and [g["id"] for g in ls.gens] != [g["id"]
                                                     for g in self.gens]:
                ls = False
            self._local_inst = ls
        return ls or None

    # -- search -------------------------------------------------------

    def search_df(self, query: str, k: int = 10,
                  quantized: bool = False,
                  meta: dict | None = None,
                  terms: list[str] | None = None) -> DataFrame | None:
        """Top-k as a DataFrame (doc_id, score); None for the empty fast
        path. quantized=True scores with log-quantized doc lengths (the
        opt-in Lucene norm-compression analogue,
        functions/bm25.quantize_dl) — same kernel, same exactness
        contract for that scoring function.

        meta: structured docmap-metadata predicate — a metadata-
        filtered match query IS a scored should-OR restricted by the
        mask (identical terms, scores, tie-break), so it delegates to
        the bool path, whose kernel decodes exactly the mask-surviving
        postings.

        terms: pre-normalized index terms to score instead of
        tokenizing ``query`` — the term-list entry point rewrite
        queries use (more_like_this hands the index's own dictionary
        terms straight back; re-tokenizing could split them)."""
        if meta is not None:
            if terms is not None:
                raise ValueError(
                    "terms= with meta= is not supported: the bool path "
                    "tokenizes its should clause itself — pass query text")
            return self.search_bool_df(should=query, k=k, meta=meta,
                                       quantized=quantized)
        norm = self.manifest.get("normalization") or {}
        if terms is None:
            terms = sorted({norm.get(t, t) for t in tokenize_py(query)})
        else:
            terms = sorted(set(terms))
        if not terms or self.n_docs == 0:
            return None
        df_global = self._df_for(terms)
        if not df_global:
            return None

        local = self._match_local(k, df_global)
        if local is not None:
            hits = local.search("", k=int(k), quantized=quantized,
                                terms=terms)
            return self.spark.createDataFrame(
                [(d, float(s)) for d, s in hits],
                schema="doc_id string, score double")

        matched = (self._segments().where(F.col("term").isin(list(df_global)))
                   .drop("pos_blocks"))  # plain search never reads positions
        n_docs, avgdl = self.n_docs, self.avgdl
        shard_docs, gdirs = self.shard_docs, self.gdirs
        dm_files = self.docmap_files
        kk = int(k)

        def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            from pathlib import Path as _P

            import pyarrow.parquet as pq

            from geospatial_spark.plans import lifecycle as lc_w

            gen, shard = str(key[0]), int(key[1])
            base = shard << ORD_SHARD_SHIFT
            local, scores = wand_shard(
                pdf.to_dict("records"), shard_docs.get((gen, shard), 0), base,
                df_global, n_docs, avgdl, kk, quantize=quantized,
            )
            if len(local) == 0:
                return pd.DataFrame({"doc_id": pd.Series([], dtype=object),
                                     "score": pd.Series([], dtype="float64")})
            ids = pq.read_table(
                _P(gdirs[gen]) / dm_files[(gen, shard)], columns=["doc_id"]
            ).column("doc_id").take(local.tolist()).to_pylist()
            return pd.DataFrame({"doc_id": ids, "score": scores.astype(np.float64)})

        per_shard = matched.groupBy("gen", "shard").applyInPandas(
            run_shard, schema="doc_id string, score double"
        )
        return per_shard.orderBy(F.desc("score"), *merge_tie_break()).limit(kk)

    def search(self, query: str, k: int = 10,
               quantized: bool = False,
               meta: dict | None = None) -> list[tuple[str, float]]:
        """Top-k (doc_id, score), exact BM25, rank/score-identical to the
        oracle; tie-break (conv_id, turn_idx) asc."""
        if meta is not None:
            # a metadata-filtered match IS a scored should-OR under the
            # mask (see search_df)
            return self.search_bool(should=query, k=k, meta=meta,
                                    quantized=quantized)
        norm = self.manifest.get("normalization") or {}
        terms = sorted({norm.get(t, t) for t in tokenize_py(query)})
        local = (self._match_local(k, self._df_for(terms))
                 if terms and self.n_docs else None)
        if local is not None:
            # list-shaped fast path: skip the DataFrame round-trip
            return local.search(query, k=int(k), quantized=quantized)
        df = self.search_df(query, k, quantized=quantized)
        if df is None:
            return []
        return [(r["doc_id"], float(r["score"])) for r in df.collect()]

    def search_rescored_df(self, query: str, rescore_query: str,
                           k: int = 10, window: int = 50,
                           query_weight: float = 1.0,
                           rescore_weight: float = 1.0
                           ) -> DataFrame | None:
        """Rescore window (the OpenSearch ``rescore`` API analogue):
        the top ``window`` docs of the base ranking get

            score' = query_weight·base + rescore_weight·secondary

        where secondary is the rescore query's exact BM25 for those
        docs (0 when it doesn't match them). PINNED exact contract:
        the window is cut from the FULL base ranking under (rounded
        score desc, doc_id asc) — the pagination ordering — so the cut
        is reproducible across engines; only the window is re-ranked
        and returned. Cost: two all-match kernel passes (the same
        class as function_score) + a window-sized join; the window
        frame never exceeds ``window`` rows."""
        from geospatial_spark.functions.oracle_sql import ORDER_DP

        base = self.search_df(query, self.n_docs)
        if base is None:
            return None
        win = (base.orderBy(F.round(F.col("score"), ORDER_DP).desc(),
                            F.asc("doc_id"))
               .limit(int(window))
               .select("doc_id", F.col("score").alias("s1")))
        # bounded driver fetch: the window is ≤ `window` rows by
        # construction — ids make the secondary side window-sized too
        win_rows = win.collect()
        if not win_rows:
            return None
        ids = [r["doc_id"] for r in win_rows]
        sec = self.search_df(rescore_query, self.n_docs)
        qw, rw = float(query_weight), float(rescore_weight)
        w_df = self.spark.createDataFrame(
            [(r["doc_id"], float(r["s1"])) for r in win_rows],
            "doc_id string, s1 double")
        if sec is None:
            comb = w_df.select(
                "doc_id", (F.lit(qw) * F.col("s1")).alias("score"))
        else:
            s2 = (sec.where(F.col("doc_id").isin(ids))
                  .select("doc_id", F.col("score").alias("s2")))
            comb = (w_df.join(s2, "doc_id", "left")
                    .select("doc_id",
                            (F.lit(qw) * F.col("s1")
                             + F.lit(rw) * F.coalesce(F.col("s2"),
                                                      F.lit(0.0))
                             ).alias("score")))
        return (comb.orderBy(F.round(F.col("score"), ORDER_DP).desc(),
                             F.asc("doc_id")).limit(int(k)))

    def search_rescored(self, query: str, rescore_query: str,
                        k: int = 10, window: int = 50,
                        query_weight: float = 1.0,
                        rescore_weight: float = 1.0
                        ) -> list[tuple[str, float]]:
        df = self.search_rescored_df(query, rescore_query, k, window,
                                     query_weight, rescore_weight)
        if df is None:
            return []
        return [(r["doc_id"], float(r["score"])) for r in df.collect()]

    def search_decayed_df(self, query: str, k: int = 10,
                          half_life_s: float = 604_800.0,
                          origin_us: int | None = None) -> DataFrame | None:
        """Recency-decayed top-k (the function_score exponential-decay
        analogue, score_mode=multiply):

            score' = BM25 · 0.5^(max(0, origin − ts) / half_life)

        with ts from the doc's docmap ts_us (format v2); docs with no
        timestamp keep their raw score (multiplier 1 — the pinned
        missing-value rule). EXACT like the reference's function_score:
        every matching doc is scored (per-shard cost O(matched
        postings) — an arbitrary per-doc multiplier defeats WAND
        pruning; bound-aware pruning with the multiplier's ≤1 cap would
        stay sound but is deliberately not applied), the decay runs
        where the shard's docmap is local, and only per-shard top-k
        rows cross the merge. origin_us is the decay origin in epoch
        micros (callers pass "now" or the corpus max ts)."""
        norm = self.manifest.get("normalization") or {}
        terms = sorted({norm.get(t, t) for t in tokenize_py(query)})
        if not terms or self.n_docs == 0:
            return None
        df_global = self._df_for(terms)
        if not df_global:
            return None
        if origin_us is None:
            raise ValueError("search_decayed requires origin_us (the "
                             "decay origin in epoch microseconds)")

        local = self._local_dispatch(k)
        if local is not None:
            return self.spark.createDataFrame(
                [(d, float(s)) for d, s in local.search_decayed(
                    query, int(k), half_life_s=float(half_life_s),
                    origin_us=int(origin_us))],
                schema="doc_id string, score double")

        matched = (self._segments().where(F.col("term").isin(list(df_global)))
                   .drop("pos_blocks"))
        n_docs, avgdl = self.n_docs, self.avgdl
        shard_docs, gdirs = self.shard_docs, self.gdirs
        dm_files = self.docmap_files
        kk, hl, org = int(k), float(half_life_s), int(origin_us)

        def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            from pathlib import Path as _P

            import pyarrow.parquet as pq

            gen, shard = str(key[0]), int(key[1])
            n_local = shard_docs.get((gen, shard), 0)
            base = shard << ORD_SHARD_SHIFT
            # k = n_local: score EVERY matching doc in the shard
            local, scores = wand_shard(
                pdf.to_dict("records"), n_local, base,
                df_global, n_docs, avgdl, max(n_local, 1),
            )
            empty = pd.DataFrame({"doc_id": pd.Series([], dtype=object),
                                  "score": pd.Series([], dtype="float64")})
            if len(local) == 0:
                return empty
            dm = pq.read_table(_P(gdirs[gen]) / dm_files[(gen, shard)])
            ids = dm.column("doc_id").take(local.tolist()).to_pylist()
            if "ts_us" in dm.column_names:
                ts = dm.column("ts_us").take(local.tolist()) \
                       .to_numpy(zero_copy_only=False).astype("float64")
            else:  # v1 docmap: no timestamps → multiplier 1 everywhere
                ts = np.full(len(local), np.nan)
            age_s = np.maximum(0.0, (org - ts) / 1e6)
            mult = np.where(np.isnan(ts), 1.0,
                            np.power(0.5, age_s / hl))
            dec = scores.astype(np.float64) * mult
            # per-shard SELECTION under the engine's TOTAL order
            # (decayed score desc, conv asc, turn asc) — the same order
            # the global merge applies, so shard-local top-k composes
            # into the exact global top-k across tie groups. Vectorized:
            # numpy picks everything strictly above the k-th score; only
            # the boundary TIE GROUP (usually tiny) needs the python
            # (conv, turn) comparator. Emission order is irrelevant —
            # the merge re-sorts.
            if len(dec) <= kk:
                top = np.arange(len(dec))
            else:
                order = np.argsort(-dec, kind="stable")
                cut = dec[order[kk - 1]]
                sure = order[dec[order] > cut]
                ties = order[dec[order] == cut]
                need = kk - len(sure)
                tie_sel = sorted(
                    ties.tolist(),
                    key=lambda i: (ids[i].rpartition(":")[0],
                                   int(ids[i].rpartition(":")[2])))[:need]
                top = np.concatenate(
                    [sure, np.asarray(tie_sel, dtype=np.int64)])
            return pd.DataFrame({"doc_id": [ids[i] for i in top],
                                 "score": dec[top]})

        per_shard = matched.groupBy("gen", "shard").applyInPandas(
            run_shard, schema="doc_id string, score double")
        return per_shard.orderBy(F.desc("score"), *merge_tie_break()).limit(kk)

    def search_decayed(self, query: str, k: int = 10,
                       half_life_s: float = 604_800.0,
                       origin_us: int | None = None
                       ) -> list[tuple[str, float]]:
        df = self.search_decayed_df(query, k, half_life_s, origin_us)
        if df is None:
            return []
        return [(r["doc_id"], float(r["score"])) for r in df.collect()]

    def search_after_df(self, query: str, k: int = 10,
                        after: tuple[float, str] | None = None,
                        quantized: bool = False,
                        meta: dict | None = None) -> DataFrame | None:
        """Cursor pagination (Lucene/OpenSearch ``search_after``): the
        candidate hits STRICTLY AFTER ``after = (score, doc_id)`` in the
        pagination ordering ``(round(score, ORDER_DP) desc, doc_id
        asc)`` — the engine↔oracle ranking contract, NOT search()'s
        (conv, turn) tie-break, so a cursor round-trips through any
        client as two plain values. Returns an UNCOLLECTED DataFrame
        holding at least the next k post-cursor hits (or every one of
        them); the caller applies the final rounded re-rank + limit(k),
        exactly like the catalog's _adaptive_overfetch contract.

        Each page re-runs the top-m kernel with m adaptively sized to
        the cursor depth: per-shard state stays O(m) and the block-max
        pruning still applies — the same cost shape as Lucene's
        ``from+size`` collector (deep pages cost O(depth)), while the
        cursor keeps the page boundary exact across ties. None = no
        possible match (same fast path as search_df)."""
        from geospatial_spark.functions.oracle_sql import ORDER_DP

        if after is None:
            # page 1: cursor "before everything" — same loop, so the
            # rank-k rounded-tie boundary is overfetched here too
            cs, cd = float("inf"), ""
            pred = F.lit(True)
        else:
            cs = round(float(after[0]), ORDER_DP)
            cd = str(after[1])
            rscore = F.round(F.col("score"), ORDER_DP)
            pred = (rscore < F.lit(cs)) | (
                (rscore == F.lit(cs)) & (F.col("doc_id") > F.lit(cd)))
        kk = int(k)
        m = max(2 * kk, kk + 50)
        while True:
            df = self.search_df(query, m, quantized=quantized, meta=meta)
            if df is None:
                return None
            # bounded driver fetch (m rows) for boundary DETECTION only
            rows = df.take(m)
            post = [r for r in rows
                    if round(float(r["score"]), ORDER_DP) < cs
                    or (round(float(r["score"]), ORDER_DP) == cs
                        and str(r["doc_id"]) > cd)]
            exhausted = len(rows) < m or m >= self.n_docs
            if exhausted:
                break
            if len(post) >= kk:
                r_k = round(float(post[kk - 1]["score"]), ORDER_DP)
                r_last = round(float(rows[-1]["score"]), ORDER_DP)
                if r_k != r_last:
                    break  # the page-boundary tie group is fully fetched
                if r_last == 0.0:
                    # corpus-wide 0.0 plateau (filter-context): resolve
                    # DISTRIBUTED — full candidate frame, never collected
                    return self.search_df(
                        query, self.n_docs, quantized=quantized,
                        meta=meta).where(pred)
            m *= 4
        return df.where(pred)

    def search_after(self, query: str, k: int = 10,
                     after: tuple[float, str] | None = None,
                     quantized: bool = False,
                     meta: dict | None = None) -> list[tuple[str, float]]:
        """Next page of k hits after the cursor, ordered by the
        pagination contract (rounded score desc, doc_id asc); scores
        are raw (unrounded), as in search(). The cursor for the page
        after this one is (score, doc_id) of the last row returned."""
        from geospatial_spark.functions.oracle_sql import ORDER_DP

        df = self.search_after_df(query, k, after=after,
                                  quantized=quantized, meta=meta)
        if df is None:
            return []
        out = (df.orderBy(F.round(F.col("score"), ORDER_DP).desc(),
                          F.asc("doc_id"))
               .limit(int(k)).collect())
        return [(r["doc_id"], float(r["score"])) for r in out]

    def search_phrase_df(self, phrase: str, k: int = 10) -> DataFrame | None:
        """Exact-phrase top-k as a DataFrame (doc_id, score, phrase_tf).

        A doc matches iff the phrase's tokens appear consecutively in
        the kept token stream; matched docs score as the sum of the
        phrase's distinct terms' BM25 contributions (operators/phrase).
        Requires a v2 (positions) index. None = no possible match.
        """
        if not self.manifest.get("positions", True):
            raise ValueError("index built with store_positions=False "
                             "cannot serve phrase queries — rebuild with "
                             "positions")
        norm = self.manifest.get("normalization") or {}
        slots = [norm.get(t, t) for t in tokenize_py(phrase)]
        if not slots or self.n_docs == 0:
            return None
        distinct = sorted(set(slots))
        df_global = self._df_for(distinct)
        if len(df_global) < len(distinct):
            return None  # a phrase term absent from the corpus ⇒ no doc matches

        local = self._positions_local(k, self._cooc_est(df_global, distinct))
        if local is not None:
            return self.spark.createDataFrame(
                [(d, float(s), int(tf)) for d, s, tf
                 in local.search_phrase_full(phrase, int(k))],
                schema="doc_id string, score double, phrase_tf long")

        matched = (self._segments().where(F.col("term").isin(distinct))
                   .drop(*_IMP_COLS))  # phrase never touches impact copies
        n_docs, avgdl = self.n_docs, self.avgdl
        shard_docs, gdirs = self.shard_docs, self.gdirs
        dm_files = self.docmap_files
        kk = int(k)

        def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            from pathlib import Path as _P

            import pyarrow.parquet as pq

            from geospatial_spark.operators.phrase import phrase_match_shard
            from geospatial_spark.plans import lifecycle as lc_w

            gen, shard = str(key[0]), int(key[1])
            base = shard << ORD_SHARD_SHIFT
            rows_by_term = {rec["term"]: rec for rec in pdf.to_dict("records")}
            local, scores, ptf = phrase_match_shard(
                slots, rows_by_term, base, df_global, n_docs, avgdl, kk)
            if len(local) == 0:
                return pd.DataFrame({"doc_id": pd.Series([], dtype=object),
                                     "score": pd.Series([], dtype="float64"),
                                     "phrase_tf": pd.Series([], dtype="int64")})
            ids = pq.read_table(
                _P(gdirs[gen]) / dm_files[(gen, shard)], columns=["doc_id"]
            ).column("doc_id").take(local.tolist()).to_pylist()
            return pd.DataFrame({"doc_id": ids,
                                 "score": scores.astype(np.float64),
                                 "phrase_tf": ptf.astype(np.int64)})

        per_shard = matched.groupBy("gen", "shard").applyInPandas(
            run_shard, schema="doc_id string, score double, phrase_tf long"
        )
        return per_shard.orderBy(F.desc("score"), *merge_tie_break()).limit(kk)

    def search_phrase(self, phrase: str, k: int = 10) -> list[tuple[str, float]]:
        df = self.search_phrase_df(phrase, k)
        if df is None:
            return []
        return [(r["doc_id"], float(r["score"])) for r in df.collect()]

    def search_phrase_prefix_df(self, query: str, k: int = 10,
                                max_expansions: int = 64
                                ) -> DataFrame | None:
        """match_phrase_prefix top-k as a DataFrame (doc_id, score).

        The query's trailing token is a term PREFIX, expanded against
        the dictionary under the pinned cap (operators/expand.py); a
        doc matches iff its kept token stream contains the fixed tokens
        followed immediately by any expanded term, and scores as the
        MAX over matching variants of the variant's phrase score
        (operators/phrase.phrase_prefix_match_shard). One dictionary
        job for the expansion, one segment job for the match.
        """
        if not self.manifest.get("positions", True):
            raise ValueError("index built with store_positions=False "
                             "cannot serve phrase queries — rebuild with "
                             "positions")
        norm = self.manifest.get("normalization") or {}
        toks = tokenize_py(query)
        if not toks or self.n_docs == 0:
            return None
        fixed = [norm.get(t, t) for t in toks[:-1]]
        exp = self.expand_prefix(toks[-1], max_expansions)
        if not exp:
            return None
        all_terms = sorted(set(fixed) | set(exp))
        df_global = self._df_for(all_terms)
        if any(t not in df_global for t in set(fixed)):
            return None  # a fixed term absent corpus-wide ⇒ no doc matches

        # est over the FIXED tokens (the variants OR on top of that
        # intersection); a single-token prefix phrase bounds by the
        # union of variant dfs instead
        est = (self._cooc_est(df_global, set(fixed)) if fixed
               else float(sum(df_global.get(t, 0) for t in exp)))
        local = self._positions_local(k, est)
        if local is not None:
            return self.spark.createDataFrame(
                [(d, float(s)) for d, s in local.search_phrase_prefix(
                    query, int(k), max_expansions=int(max_expansions))],
                schema="doc_id string, score double")

        matched = (self._segments().where(F.col("term").isin(all_terms))
                   .drop(*_IMP_COLS))
        n_docs, avgdl = self.n_docs, self.avgdl
        gdirs = self.gdirs
        dm_files = self.docmap_files
        kk = int(k)

        def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            from pathlib import Path as _P

            import pyarrow.parquet as pq

            from geospatial_spark.operators.phrase import (
                phrase_prefix_match_shard,
            )

            gen, shard = str(key[0]), int(key[1])
            base = shard << ORD_SHARD_SHIFT
            rows_by_term = {rec["term"]: rec for rec in pdf.to_dict("records")}
            local, scores = phrase_prefix_match_shard(
                fixed, exp, rows_by_term, base, df_global, n_docs, avgdl, kk)
            if len(local) == 0:
                return pd.DataFrame({"doc_id": pd.Series([], dtype=object),
                                     "score": pd.Series([], dtype="float64")})
            ids = pq.read_table(
                _P(gdirs[gen]) / dm_files[(gen, shard)], columns=["doc_id"]
            ).column("doc_id").take(local.tolist()).to_pylist()
            return pd.DataFrame({"doc_id": ids,
                                 "score": scores.astype(np.float64)})

        per_shard = matched.groupBy("gen", "shard").applyInPandas(
            run_shard, schema="doc_id string, score double")
        return per_shard.orderBy(F.desc("score"), *merge_tie_break()).limit(kk)

    def search_phrase_prefix(self, query: str, k: int = 10,
                             max_expansions: int = 64
                             ) -> list[tuple[str, float]]:
        df = self.search_phrase_prefix_df(query, k, max_expansions)
        if df is None:
            return []
        return [(r["doc_id"], float(r["score"])) for r in df.collect()]

    def search_phrase_scored(self, phrase: str, k: int = 10
                             ) -> list[tuple[str, float]]:
        """Phrase-as-term scoring (Lucene PhraseQuery semantics): the
        phrase scores as ONE synthetic term — tf = phrase occurrence
        count in the doc, df = number of matching docs corpus-wide.

        One distributed pass: each shard returns its top-k by the
        idf-less saturation term (idf(df) is a constant positive factor,
        so that IS final-score order) plus its total match count; the
        driver sums counts into the phrase df and multiplies idf in.
        Returns [(doc_id, score)] (score desc, (conv, turn) asc).
        """
        if not self.manifest.get("positions", True):
            raise ValueError("index built with store_positions=False "
                             "cannot serve phrase queries — rebuild with "
                             "positions")
        norm = self.manifest.get("normalization") or {}
        slots = [norm.get(t, t) for t in tokenize_py(phrase)]
        if not slots or self.n_docs == 0:
            return []
        distinct = sorted(set(slots))
        df_global = self._df_for(distinct)
        if len(df_global) < len(distinct):
            return []

        local = self._positions_local(k, self._cooc_est(df_global, distinct))
        if local is not None:
            return local.search_phrase_scored(phrase, int(k))

        matched = (self._segments().where(F.col("term").isin(distinct))
                   .drop(*_IMP_COLS))
        avgdl = self.avgdl
        gdirs = self.gdirs
        dm_files = self.docmap_files
        kk = int(k)

        def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            from pathlib import Path as _P

            import pyarrow.parquet as pq

            from geospatial_spark.operators.phrase import (
                phrase_scored_match_shard,
            )

            gen, shard = str(key[0]), int(key[1])
            base = shard << ORD_SHARD_SHIFT
            rows_by_term = {rec["term"]: rec for rec in pdf.to_dict("records")}
            local, sat, ptf, n_matched = phrase_scored_match_shard(
                slots, rows_by_term, base, avgdl, kk)
            if len(local) == 0:
                return pd.DataFrame({"gen": pd.Series([], dtype=object),
                                     "shard": pd.Series([], dtype="int32"),
                                     "doc_id": pd.Series([], dtype=object),
                                     "sat": pd.Series([], dtype="float64"),
                                     "n_match": pd.Series([], dtype="int64")})
            ids = pq.read_table(
                _P(gdirs[gen]) / dm_files[(gen, shard)], columns=["doc_id"]
            ).column("doc_id").take(local.tolist()).to_pylist()
            return pd.DataFrame({"gen": [gen] * len(ids),
                                 "shard": np.full(len(ids), shard,
                                                  dtype=np.int32),
                                 "doc_id": ids,
                                 "sat": sat.astype(np.float64),
                                 "n_match": np.full(len(ids), n_matched,
                                                    dtype=np.int64)})

        per_shard = matched.groupBy("gen", "shard").applyInPandas(
            run_shard, schema="gen string, shard int, doc_id string, "
                              "sat double, n_match long",
        )
        rows = per_shard.collect()  # ≤ n_shards × k rows
        if not rows:
            return []
        phrase_df = sum({(r["gen"], r["shard"]): int(r["n_match"])
                         for r in rows}.values())
        from geospatial_spark.functions.bm25 import idf as _idf

        idf_p = _idf(phrase_df, self.n_docs)
        hits = []
        for r in rows:
            conv, _, turn = r["doc_id"].rpartition(":")
            hits.append((-idf_p * float(r["sat"]), conv, int(turn),
                         r["doc_id"]))
        hits.sort()
        return [(d, -neg) for neg, _, _, d in hits[:kk]]

    def search_near_df(self, query: str, slop: int, k: int = 10
                       ) -> DataFrame | None:
        """Proximity top-k (doc_id, score, min_span): docs where some
        ≤slop-wide position window holds ALL the query's distinct terms
        (order-free); scored as the sum of the distinct terms' BM25
        contributions (operators/phrase.near_match_shard)."""
        if not self.manifest.get("positions", True):
            raise ValueError("index built with store_positions=False "
                             "cannot serve proximity queries — rebuild "
                             "with positions")
        norm = self.manifest.get("normalization") or {}
        terms = sorted({norm.get(t, t) for t in tokenize_py(query)})
        if not terms or self.n_docs == 0:
            return None
        df_global = self._df_for(terms)
        if len(df_global) < len(terms):
            return None  # AND semantics: a missing term ⇒ no match

        local = self._positions_local(k, self._cooc_est(df_global, terms))
        if local is not None:
            return self.spark.createDataFrame(
                [(d, float(s), int(sp)) for d, s, sp
                 in local.search_near_full(query, int(slop), int(k))],
                schema="doc_id string, score double, min_span long")

        matched = (self._segments().where(F.col("term").isin(terms))
                   .drop(*_IMP_COLS))  # proximity never touches impact copies
        n_docs, avgdl = self.n_docs, self.avgdl
        shard_docs, gdirs = self.shard_docs, self.gdirs
        dm_files = self.docmap_files
        kk, sl = int(k), int(slop)

        def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            from pathlib import Path as _P

            import pyarrow.parquet as pq

            from geospatial_spark.operators.phrase import near_match_shard

            gen, shard = str(key[0]), int(key[1])
            base = shard << ORD_SHARD_SHIFT
            rows_by_term = {rec["term"]: rec for rec in pdf.to_dict("records")}
            local, scores, spans = near_match_shard(
                terms, sl, rows_by_term, base, df_global, n_docs, avgdl, kk)
            if len(local) == 0:
                return pd.DataFrame({"doc_id": pd.Series([], dtype=object),
                                     "score": pd.Series([], dtype="float64"),
                                     "min_span": pd.Series([], dtype="int64")})
            ids = pq.read_table(
                _P(gdirs[gen]) / dm_files[(gen, shard)], columns=["doc_id"]
            ).column("doc_id").take(local.tolist()).to_pylist()
            return pd.DataFrame({"doc_id": ids,
                                 "score": scores.astype(np.float64),
                                 "min_span": spans.astype(np.int64)})

        per_shard = matched.groupBy("gen", "shard").applyInPandas(
            run_shard, schema="doc_id string, score double, min_span long"
        )
        return per_shard.orderBy(F.desc("score"), *merge_tie_break()).limit(kk)

    def search_near(self, query: str, slop: int, k: int = 10
                    ) -> list[tuple[str, float]]:
        df = self.search_near_df(query, slop, k)
        if df is None:
            return []
        return [(r["doc_id"], float(r["score"])) for r in df.collect()]

    def search_bool_df(self, should: str = "", filter_q: str = "",
                       must_not: str = "", k: int = 10,
                       meta: dict | None = None,
                       quantized: bool = False,
                       min_should_match: int = 1,
                       boosts: dict[str, float] | None = None
                       ) -> DataFrame | None:
        """Boolean query (operators/boolquery.py): scored should-OR
        (a hit must contain ≥ min_should_match distinct should terms;
        default 1) restricted by unscored filter-AND and must_not-NOT
        clauses; with no should clause every hit scores 0.0 (filter
        context). min_should_match=0 makes the should clause optional —
        filter context decides matching and present should terms only
        contribute score (the OpenSearch bool default when a filter
        rides along).

        meta: optional structured-metadata predicate over the docmap
        side table (operators/metafilter.py — role equality, ts range,
        conv_id prefix), the reference's mixed FILTER-clause analogue
        (XYPointQueryVisitor.java:165-178). Resolved per shard to a
        local-ordinal mask inside the kernel: no shuffle, no postings
        read, scoring stats stay corpus-global (filter context does
        not change idf).

        boosts: optional per-should-term multipliers (Lucene clause
        boosts): score = Σ boost_t · BM25_t over present should terms;
        matching semantics (msm, filter context) are unaffected. Keys
        run through the same tokenizer/normalizer as the clauses."""
        hits = self._bool_hits(
            k, should, filter_q, must_not, meta=meta,
            min_should_match=min_should_match, boosts=boosts,
            quantized=quantized)
        if hits is None or isinstance(hits, DataFrame):
            return hits
        return self.spark.createDataFrame(
            [(d, float(s)) for d, s in hits],
            schema="doc_id string, score double")

    def search_bool(self, should: str = "", filter_q: str = "",
                    must_not: str = "", k: int = 10,
                    meta: dict | None = None,
                    quantized: bool = False,
                    min_should_match: int = 1,
                    boosts: dict[str, float] | None = None
                    ) -> list[tuple[str, float]]:
        hits = self._bool_hits(
            k, should, filter_q, must_not, meta=meta,
            min_should_match=min_should_match, boosts=boosts,
            quantized=quantized)
        if isinstance(hits, DataFrame):
            return [(r["doc_id"], float(r["score"])) for r in hits.collect()]
        return hits or []

    # -- bool family: one plan, two placements -------------------------

    def _bool_hits(self, k: int, should: str, filter_q: str,
                   must_not: str, **kw):
        """A placed bool top-k: the serving searcher's hit list when
        the small-k guard places it locally, else the Spark job's merged
        DataFrame; None when nothing can match."""
        local, plan = self._bool_placed(k, should, filter_q, must_not, **kw)
        if plan is None:
            return None
        if local is not None:
            return local._bool_topk(plan, int(k))
        return (self._bool_job(plan, TopK(k))
                .orderBy(F.desc("score"), *merge_tie_break()).limit(int(k)))

    def _bool_placed(self, k: int, should: str, filter_q: str,
                     must_not: str, **kw):
        """(placement, plan) of a bool-family request: the small-k
        guard first, then the plan (operators/boolquery.plan_bool)
        resolved once against the placed searcher's dictionary — a
        local placement gets the plan and runs no Spark job."""
        local = self._local_dispatch(k)
        return local, plan_bool(local or self, should, filter_q, must_not,
                                **kw)

    def _shard_scaffold(self) -> DataFrame:
        """Every (gen, shard) pair (driver metadata, bounded): the
        left-join side that runs a kernel on shards with no matched
        segment row (pure-NOT, match-all, metadata-only plans)."""
        return self.spark.createDataFrame(sorted(self.shard_docs),
                                          "gen string, shard int")

    def _bool_job(self, plan, op) -> DataFrame:
        """The distributed placement of a bool-family op: the plan's
        term rows (doc streams only — no positions, no impact copies),
        the shard scaffold when the plan is pure-NOT, and one
        applyInPandas group per shard running the shared shard step
        (operators/boolquery.bool_shard) against the shard's own docmap
        file. Returns the op's per-shard partial rows; the caller's SQL
        merge follows."""
        matched = (self._segments()
                   .where(F.col("term").isin(list(plan.scan_terms)))
                   .drop("pos_blocks", *_IMP_COLS))
        if plan.pure_not:
            matched = self._shard_scaffold().join(matched, ["gen", "shard"],
                                                  "left")
        shard_docs, gdirs = self.shard_docs, self.gdirs
        dm_files = self.docmap_files

        def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            from geospatial_spark.operators.boolquery import bool_shard
            from geospatial_spark.operators.metafilter import docmap_reader

            gen, shard = str(key[0]), int(key[1])
            rows_by_term = {rec["term"]: rec
                            for rec in pdf.to_dict("records")
                            if isinstance(rec.get("term"), str)}
            part = bool_shard(
                plan, op, rows_by_term, shard_docs.get((gen, shard), 0),
                shard << ORD_SHARD_SHIFT,
                docmap_reader(f"{gdirs[gen]}/{dm_files[(gen, shard)]}"))
            return pd.DataFrame({c: pd.Series([] if part is None else part[c],
                                              dtype=t)
                                 for c, t in op.dtypes.items()})

        return matched.groupBy("gen", "shard").applyInPandas(
            run_shard, schema=op.schema)

    # -- expansion queries (prefix / fuzzy rewrite) --------------------

    def expand_prefix(self, prefix: str, max_expansions: int = 64) -> list[str]:
        """Dictionary terms starting with ``prefix`` — the bounded,
        df-ranked expansion set (operators/expand.py)."""
        from geospatial_spark.operators.expand import expand_prefix as _ep

        return _ep(self._dict_df(), prefix, max_expansions)

    def expand_fuzzy(self, term: str, max_edits: int = 1,
                     prefix_length: int = 0,
                     max_expansions: int = 64) -> list[str]:
        """Dictionary terms within ``max_edits`` Levenshtein edits of
        ``term`` (operators/expand.py)."""
        from geospatial_spark.operators.expand import expand_fuzzy as _ef

        return _ef(self._dict_df(), term, max_edits, prefix_length,
                   max_expansions)

    def expand_wildcard(self, pattern: str,
                        max_expansions: int = 64) -> list[str]:
        """Dictionary terms matching a ``*``/``?`` wildcard pattern
        (operators/expand.py)."""
        from geospatial_spark.operators.expand import expand_wildcard as _ew

        return _ew(self._dict_df(), pattern, max_expansions)

    def expand_regexp(self, pattern: str,
                      max_expansions: int = 64) -> list[str]:
        """Dictionary terms fully matching an anchored regex
        (operators/expand.py)."""
        from geospatial_spark.operators.expand import expand_regexp as _er

        return _er(self._dict_df(), pattern, max_expansions)

    def search_regexp_df(self, pattern: str, k: int = 10,
                         max_expansions: int = 64,
                         meta: dict | None = None) -> DataFrame | None:
        """RegexpQuery rewrite — same bounded-expansion → BM25
        should-OR contract as search_prefix_df; the regex must match
        the WHOLE term (Lucene's anchored-regexp semantics)."""
        terms = self.expand_regexp(pattern, max_expansions)
        if not terms:
            return None
        return self.search_df(" ".join(terms), k, meta=meta)

    def search_regexp(self, pattern: str, k: int = 10,
                      max_expansions: int = 64,
                      meta: dict | None = None) -> list[tuple[str, float]]:
        df = self.search_regexp_df(pattern, k, max_expansions, meta=meta)
        if df is None:
            return []
        return [(r["doc_id"], float(r["score"])) for r in df.collect()]

    def search_wildcard_df(self, pattern: str, k: int = 10,
                           max_expansions: int = 64,
                           meta: dict | None = None) -> DataFrame | None:
        """WildcardQuery rewrite — same bounded-expansion → BM25
        should-OR contract as search_prefix_df."""
        terms = self.expand_wildcard(pattern, max_expansions)
        if not terms:
            return None
        return self.search_df(" ".join(terms), k, meta=meta)

    def search_wildcard(self, pattern: str, k: int = 10,
                        max_expansions: int = 64,
                        meta: dict | None = None) -> list[tuple[str, float]]:
        df = self.search_wildcard_df(pattern, k, max_expansions, meta=meta)
        if df is None:
            return []
        return [(r["doc_id"], float(r["score"])) for r in df.collect()]

    def search_prefix_df(self, prefix: str, k: int = 10,
                         max_expansions: int = 64,
                         meta: dict | None = None) -> DataFrame | None:
        """PrefixQuery rewrite: expand against the dictionary, then
        score the expansion as a plain BM25 should-OR (each term keeps
        its own idf — the pinned, oracle-checkable contract; see
        operators/expand.py for the rewrite spec). The expansion terms
        are single normalized tokens, so the rewritten query string
        round-trips exactly through the tokenizer."""
        terms = self.expand_prefix(prefix, max_expansions)
        if not terms:
            return None
        return self.search_df(" ".join(terms), k, meta=meta)

    def search_prefix(self, prefix: str, k: int = 10,
                      max_expansions: int = 64,
                      meta: dict | None = None) -> list[tuple[str, float]]:
        df = self.search_prefix_df(prefix, k, max_expansions, meta=meta)
        if df is None:
            return []
        return [(r["doc_id"], float(r["score"])) for r in df.collect()]

    def search_fuzzy_df(self, term: str, k: int = 10, max_edits: int = 1,
                        prefix_length: int = 0, max_expansions: int = 64,
                        meta: dict | None = None) -> DataFrame | None:
        """FuzzyQuery rewrite: Levenshtein-bounded dictionary expansion
        scored as a BM25 should-OR (same contract as search_prefix_df)."""
        terms = self.expand_fuzzy(term, max_edits, prefix_length,
                                  max_expansions)
        if not terms:
            return None
        return self.search_df(" ".join(terms), k, meta=meta)

    def search_fuzzy(self, term: str, k: int = 10, max_edits: int = 1,
                     prefix_length: int = 0, max_expansions: int = 64,
                     meta: dict | None = None) -> list[tuple[str, float]]:
        df = self.search_fuzzy_df(term, k, max_edits, prefix_length,
                                  max_expansions, meta=meta)
        if df is None:
            return []
        return [(r["doc_id"], float(r["score"])) for r in df.collect()]

    def complete_df(self, prefix: str, size: int = 10) -> DataFrame | None:
        """Prefix autocomplete (the completion-suggester analogue):
        dictionary terms starting with ``prefix``, most-frequent first
        (df desc, term asc), with their df — a StartsWith-pushed
        distributed dictionary scan; ``size`` rows reach the driver."""
        p = (prefix or "").lower()
        if not p:
            return None
        dd = self._dict_df().groupBy("term").agg(
            F.sum("df").cast("long").alias("df"))
        return (dd.where(F.col("term").startswith(p))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(int(size)))

    def complete(self, prefix: str, size: int = 10
                 ) -> list[tuple[str, int]]:
        df = self.complete_df(prefix, size)
        if df is None:
            return []
        return [(r["term"], int(r["df"])) for r in df.collect()]

    def suggest_df(self, term: str, size: int = 5,
                   max_edits: int = 2) -> DataFrame | None:
        """Did-you-mean (the term-suggester analogue): dictionary terms
        within ``max_edits`` Levenshtein of the input, the input itself
        excluded, ranked (distance asc, df desc, term asc) — corrections
        a user most plausibly meant, most-common first within each
        distance ring. Returns (term, df, distance); None for an empty
        input.

        Plan shape: a distributed dictionary scan — the length band
        |len(t) − len(q)| ≤ max_edits prunes before the O(len²)
        Levenshtein kernel runs JVM-side; only ``size`` rows reach the
        driver."""
        norm = self.manifest.get("normalization") or {}
        t = norm.get((term or "").lower(), (term or "").lower())
        if not t:
            return None
        me = int(max_edits)
        dd = self._dict_df().groupBy("term").agg(
            F.sum("df").cast("long").alias("df"))
        return (
            dd.where(F.length("term").between(len(t) - me, len(t) + me)
                     & (F.col("term") != t))
            .withColumn("distance",
                        F.levenshtein(F.col("term"), F.lit(t)).cast("long"))
            .where(F.col("distance") <= me)
            .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
            .limit(int(size))
        )

    def suggest(self, term: str, size: int = 5,
                max_edits: int = 2) -> list[tuple[str, int, int]]:
        df = self.suggest_df(term, size, max_edits)
        if df is None:
            return []
        return [(r["term"], int(r["df"]), int(r["distance"]))
                for r in df.collect()]

    def _rewrite_expansion_spec(self, spec: dict) -> dict:
        """Prefix/fuzzy/wildcard batch entries rewrite driver-side into
        the expanded match spec (or bool, when a metadata filter rides
        along) — an empty expansion becomes the MatchNoDocs empty-match
        spec, never a match-all."""
        typ = spec.get("type", "match")
        if typ not in ("prefix", "fuzzy", "wildcard", "regexp"):
            return spec
        cap = int(spec.get("max_expansions", 64))
        if typ == "prefix":
            terms = self.expand_prefix(spec.get("q", ""), cap)
        elif typ == "wildcard":
            terms = self.expand_wildcard(spec.get("q", ""), cap)
        elif typ == "regexp":
            terms = self.expand_regexp(spec.get("q", ""), cap)
        else:
            terms = self.expand_fuzzy(spec.get("q", ""),
                                      int(spec.get("max_edits", 1)),
                                      int(spec.get("prefix_length", 0)),
                                      cap)
        q = " ".join(terms)
        quant = bool(spec.get("quantized", False))
        if terms and spec.get("meta") is not None:
            return {"type": "bool", "should": q, "meta": spec["meta"],
                    "quantized": quant}
        return {"type": "match", "q": q, "quantized": quant}

    def facet_counts_df(self, should: str = "", filter_q: str = "",
                        must_not: str = "", meta: dict | None = None,
                        field: str = "role") -> DataFrame | None:
        """Facet aggregation OVER a query's full match set: how many
        matching docs per value of a docmap metadata field — the
        aggregation-inside-a-query-context shape (the reference's
        geohex grid agg runs within an arbitrary filtered query,
        GeoHexGridAggregationBuilder + bool contexts). Returns a
        DataFrame (facet string, n long); NULL field values are
        excluded (the missing bucket).

        Scale shape: each shard step resolves its FULL local match set
        (bool semantics incl. meta mask) and folds it against its own
        docmap column into ≤ |distinct values| rows
        (operators/boolquery.FacetCounts); the merge sums those tiny
        partials. No per-doc row ever leaves the shard."""
        op = FacetCounts(field)
        local, plan = self._bool_placed(0, should, filter_q, must_not,
                                        meta=meta, need=op.cols)
        if plan is None:
            return None
        if local is not None:
            rows = sorted(local._facet_counts(plan, op).items(),
                          key=lambda kv: (-kv[1], kv[0]))
            return self.spark.createDataFrame(rows, "facet string, n long")
        return (self._bool_job(plan, op).groupBy("facet")
                .agg(F.sum("n").cast("long").alias("n"))
                .orderBy(F.desc("n"), F.asc("facet")))

    def match_stats_df(self, should: str = "", filter_q: str = "",
                       must_not: str = "",
                       meta: dict | None = None) -> DataFrame | None:
        """Metric aggregation over a query's FULL match set (the
        stats/min/max-agg-inside-a-query-context shape): one row
        (n_matched, sum_dl, min_ts_us, max_ts_us) — dl and ts from each
        shard's own docmap. Each shard step folds its local match set
        to ONE partial row (operators/boolquery.MatchStats) and the
        merge combines them (count/sum/min/max are all associative).
        ts nulls are excluded from min/max (SQL semantics), an empty
        match set sums to NULL; None = structurally empty query."""
        local, plan = self._bool_placed(0, should, filter_q, must_not,
                                        meta=meta)
        if plan is None:
            return None
        if local is not None:
            cols = ("n_matched", "sum_dl", "min_ts_us", "max_ts_us")
            st = local._match_stats(plan)
            return self.spark.createDataFrame(
                [tuple(st[c] for c in cols)],
                ", ".join(f"{c} long" for c in cols))
        return self._bool_job(plan, MatchStats()).agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_matched"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
            F.min("min_ts").cast("long").alias("min_ts_us"),
            F.max("max_ts").cast("long").alias("max_ts_us"))

    def facet_counts(self, should: str = "", filter_q: str = "",
                     must_not: str = "", meta: dict | None = None,
                     field: str = "role") -> dict[str, int]:
        df = self.facet_counts_df(should, filter_q, must_not, meta, field)
        if df is None:
            return {}
        return {r["facet"]: int(r["n"]) for r in df.collect()}

    def search_collapsed_df(self, should: str = "", filter_q: str = "",
                            must_not: str = "", k: int = 10,
                            meta: dict | None = None,
                            field: str = "role") -> DataFrame | None:
        """Field-collapsed top-k (the OpenSearch `collapse` clause): at
        most ONE hit per distinct value of a docmap metadata field —
        the best-scoring doc per value — then the top-k values by that
        best hit. Returns (field value as `collapse`, doc_id, score).

        Per-value best is chosen under the rounded-ordering contract
        (round(score, ORDER_DP) desc, doc_id asc); NULL field values
        are dropped (the missing bucket, same as facets).

        Scale shape: each shard step resolves its FULL local match set
        (collapse must see every match — a shard's 11th-best can be a
        rare value's best) and keeps ONE row per distinct value
        (operators/boolquery.Collapse); the global reduce is a window
        over those tiny partials."""
        from pyspark.sql import Window

        from geospatial_spark.functions.oracle_sql import ORDER_DP

        op = Collapse(field)
        local, plan = self._bool_placed(k, should, filter_q, must_not,
                                        meta=meta, need=op.cols)
        if plan is None:
            return None
        if local is not None:
            return self.spark.createDataFrame(
                local._collapse(plan, op, int(k)),
                schema="collapse string, doc_id string, score double")
        rounded = F.round(F.col("score"), ORDER_DP)
        rn = F.row_number().over(Window.partitionBy("collapse")
                                 .orderBy(rounded.desc(), F.asc("doc_id")))
        return (self._bool_job(plan, op).withColumn("rn", rn)
                .where(F.col("rn") == 1).drop("rn")
                .orderBy(rounded.desc(), F.asc("doc_id"))
                .limit(int(k)))

    def search_collapsed(self, should: str = "", filter_q: str = "",
                         must_not: str = "", k: int = 10,
                         meta: dict | None = None, field: str = "role"
                         ) -> list[tuple[str, str, float]]:
        """Collapsed top-k as (field_value, doc_id, score) tuples."""
        df = self.search_collapsed_df(should, filter_q, must_not, k,
                                      meta=meta, field=field)
        if df is None:
            return []
        return [(r["collapse"], r["doc_id"], float(r["score"]))
                for r in df.collect()]

    def search_many(self, queries: dict[str, str], k: int = 10,
                    quantized: bool = False
                    ) -> dict[str, list[tuple[str, float]]]:
        """Batched top-k: ALL queries in one Spark job. The segment scan
        filters on the union of query terms; each (gen, shard) kernel
        scores every query against its shard (per-query exact WAND) and
        returns qid-tagged top-k rows; one window pass truncates per
        query. Amortizes the per-job fixed cost — the throughput path
        for query workloads (one scan + one shuffle for the whole
        batch)."""
        from pyspark.sql.window import Window

        local = self._local_dispatch(k)
        if local is not None:
            # one over-budget multi-hot query sends the WHOLE batch
            # down the one-job Spark path (single dispatch decision)
            nrm = self.manifest.get("normalization") or {}
            for text in queries.values():
                if not self.n_docs:
                    break
                ts = sorted({nrm.get(t, t) for t in tokenize_py(text)})
                if ts and self._match_local(k, self._df_for(ts)) is None:
                    local = None
                    break
        if local is not None:
            # serving-tier batch: per-query local top-k (same kernel,
            # same tie-break as the one-job Spark batch; the shared
            # term-row LRU de-duplicates reads across the batch)
            return {qid: local.search(text, k=int(k),
                                      quantized=bool(quantized))
                    for qid, text in queries.items()}

        norm = self.manifest.get("normalization") or {}
        qterms: dict[str, list[str]] = {}
        for qid, text in queries.items():
            qterms[qid] = sorted({norm.get(t, t) for t in tokenize_py(text)})
        all_terms = sorted({t for ts in qterms.values() for t in ts})
        out: dict[str, list[tuple[str, float]]] = {q: [] for q in queries}
        if not all_terms or self.n_docs == 0:
            return out
        df_global = self._df_for(all_terms)
        if not df_global:
            return out

        matched = (self._segments().where(F.col("term").isin(list(df_global)))
                   .drop("pos_blocks"))
        n_docs, avgdl = self.n_docs, self.avgdl
        shard_docs, gdirs = self.shard_docs, self.gdirs
        dm_files = self.docmap_files
        kk = int(k)
        qz = bool(quantized)
        q_spec = {qid: [t for t in ts if t in df_global]
                  for qid, ts in qterms.items()}

        def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            from pathlib import Path as _P

            import pyarrow.parquet as pq

            from geospatial_spark.plans import lifecycle as lc_w

            gen, shard = str(key[0]), int(key[1])
            base = shard << ORD_SHARD_SHIFT
            n_local = shard_docs.get((gen, shard), 0)
            rows_by_term = {}
            for rec in pdf.to_dict("records"):
                rows_by_term[rec["term"]] = rec
            docmap_col = None
            outs = []
            for qid, ts in q_spec.items():
                rows = [rows_by_term[t] for t in ts if t in rows_by_term]
                if not rows:
                    continue
                local, scores = wand_shard(rows, n_local, base, df_global,
                                           n_docs, avgdl, kk, quantize=qz)
                if len(local) == 0:
                    continue
                if docmap_col is None:
                    docmap_col = pq.read_table(
                        _P(gdirs[gen]) / dm_files[(gen, shard)],
                        columns=["doc_id"]).column("doc_id")
                ids = docmap_col.take(local.tolist()).to_pylist()
                outs.append(pd.DataFrame({
                    "qid": qid, "doc_id": ids,
                    "score": scores.astype(np.float64)}))
            if outs:
                return pd.concat(outs, ignore_index=True)
            return pd.DataFrame({"qid": pd.Series([], dtype=object),
                                 "doc_id": pd.Series([], dtype=object),
                                 "score": pd.Series([], dtype="float64")})

        per_shard = matched.groupBy("gen", "shard").applyInPandas(
            run_shard, schema="qid string, doc_id string, score double"
        )
        w = Window.partitionBy("qid").orderBy(F.desc("score"), *merge_tie_break())
        top = (per_shard.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= kk))
        # collect the rank and sort explicitly — post-window row order
        # surviving the filter is not contractually guaranteed by Spark
        rows = sorted(top.collect(), key=lambda r: (r["qid"], r["rank"]))
        for r in rows:
            out[r["qid"]].append((r["doc_id"], float(r["score"])))
        return out

    def search_many_mixed(self, queries: dict[str, dict], k: int = 10
                          ) -> dict[str, list[tuple[str, float]]]:
        """Batched MIXED-TYPE search: every query in ONE Spark job —
        one segment scan over the union of all queries' terms (the
        positions column ships only when the batch contains a
        phrase/near query), one applyInPandas pass dispatching each
        query to its kernel, one window truncation.

        queries: qid → spec:
          {"type": "match",  "q": text[, "quantized": bool]}
          {"type": "phrase", "q": text}
          {"type": "phrase_scored", "q": text}   (phrase scored as ONE
                             term: idf from phrase df, tf = occurrences)
          {"type": "near",   "q": text, "slop": int}
          {"type": "bool",   "should": text, "filter": text,
                             "must_not": text
                             [, "minimum_should_match": int]}
                             (clauses optional; msm 0 = optional
                             should, default 1)
          {"type": "prefix" | "fuzzy" | "wildcard", "q": term
                             [, "max_expansions", "max_edits",
                              "prefix_length", "meta"]}  — rewritten
                             driver-side into the expanded match/bool
                             spec (one small dictionary job per
                             expansion entry, then the usual single
                             batched segment job)
        """
        queries = {qid: self._rewrite_expansion_spec(spec)
                   for qid, spec in queries.items()}

        local = self._local_dispatch(k)
        if local is not None:
            # volume bounds, per spec: one over-budget phrase/near
            # (positions) or multi-hot match entry sends the WHOLE
            # batch down the one-job Spark path (single dispatch
            # decision)
            nrm = self.manifest.get("normalization") or {}
            for spec in queries.values():
                typ = spec.get("type", "match")
                if typ in ("phrase", "phrase_scored", "near", "match"):
                    if not self.n_docs:
                        break
                    ts = sorted({nrm.get(t, t)
                                 for t in tokenize_py(spec.get("q", ""))})
                    if not ts:
                        continue
                    dfg = self._df_for(ts)
                    over = (self._cooc_est(dfg, ts)
                            > self.LOCAL_SEARCH_MAX_COOC
                            if typ != "match"
                            else self._match_local(k, dfg) is None)
                    if over:
                        local = None
                        break
        if local is not None:
            out_l: dict[str, list[tuple[str, float]]] = {}
            for qid, spec in queries.items():
                typ = spec.get("type", "match")
                if typ == "match":
                    out_l[qid] = local.search(
                        spec.get("q", ""), k=int(k),
                        quantized=bool(spec.get("quantized", False)))
                elif typ == "phrase":
                    out_l[qid] = local.search_phrase(spec.get("q", ""),
                                                     int(k))
                elif typ == "phrase_scored":
                    out_l[qid] = local.search_phrase_scored(
                        spec.get("q", ""), int(k))
                elif typ == "near":
                    out_l[qid] = local.search_near(
                        spec.get("q", ""), int(spec.get("slop", 0)),
                        int(k))
                elif typ == "bool":
                    plan = plan_bool(local, **bool_clauses(spec))
                    out_l[qid] = ([] if plan is None
                                  else local._bool_topk(plan, int(k)))
                else:
                    raise ValueError(
                        f"unknown query type {typ!r} for {qid!r}")
            return out_l

        norm = self.manifest.get("normalization") or {}

        def toks_set(text: str) -> list[str]:
            return sorted({norm.get(t, t) for t in tokenize_py(text or "")})

        def toks_seq(text: str) -> list[str]:
            return [norm.get(t, t) for t in tokenize_py(text or "")]

        out: dict[str, list[tuple[str, float]]] = {q: [] for q in queries}
        if self.n_docs == 0:
            return out
        needs_pos = any(s.get("type") in ("phrase", "phrase_scored",
                                          "near")
                        for s in queries.values())
        if needs_pos and not self.manifest.get("positions", True):
            raise ValueError("batch contains phrase/near queries but the "
                             "index was built with store_positions=False")

        # driver-side planning: per-query term sets + early-empty
        plans: dict[str, dict] = {}
        all_terms: set[str] = set()
        for qid, spec in queries.items():
            typ = spec.get("type", "match")
            if typ == "match":
                ts = toks_set(spec.get("q", ""))
                p = {"type": typ, "terms": ts,
                     "quantized": bool(spec.get("quantized", False))}
            elif typ in ("phrase", "phrase_scored"):
                slots = toks_seq(spec.get("q", ""))
                p = {"type": typ, "slots": slots,
                     "terms": sorted(set(slots))}
            elif typ == "near":
                ts = toks_set(spec.get("q", ""))
                p = {"type": typ, "terms": ts,
                     "slop": int(spec.get("slop", 0))}
            elif typ == "bool":
                bq = parse_bool(self, **bool_clauses(spec))
                p = {"type": typ, "query": bq, "terms": bq.terms}
            else:
                raise ValueError(f"unknown query type {typ!r} for {qid!r}")
            plans[qid] = p
            all_terms.update(p["terms"])
        if not all_terms:
            return out
        df_global = self._df_for(sorted(all_terms))

        live: dict[str, dict] = {}
        for qid, p in plans.items():
            t = p["type"]
            if t == "match":
                p["terms"] = [x for x in p["terms"] if x in df_global]
                ok = bool(p["terms"])
            elif t in ("phrase", "phrase_scored", "near"):
                ok = bool(p["terms"]) and all(x in df_global
                                              for x in p["terms"])
            else:
                p["plan"] = prune_bool(p["query"], df_global)
                ok = p["plan"] is not None
            if ok:
                live[qid] = p
        if not live:
            return out
        # any pure-NOT (or metadata-only / optional-should) bool in the
        # batch forces the shard scaffold: its hits live in shards with
        # zero matched segment rows
        any_pure_not = any(p["type"] == "bool" and p["plan"].pure_not
                           for p in live.values())

        scan_terms = sorted({t for p in live.values() for t in p["terms"]
                             if t in df_global})
        matched = self._segments().where(F.col("term").isin(scan_terms))
        if not needs_pos:
            matched = matched.drop("pos_blocks")
        if any_pure_not:
            matched = self._shard_scaffold().join(matched, ["gen", "shard"],
                                                  "left")
        n_docs, avgdl = self.n_docs, self.avgdl
        shard_docs, gdirs = self.shard_docs, self.gdirs
        dm_files = self.docmap_files
        kk = int(k)

        def run_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
            from geospatial_spark.operators.boolquery import TopK, bool_shard
            from geospatial_spark.operators.metafilter import docmap_reader
            from geospatial_spark.operators.phrase import (
                near_match_shard,
                phrase_match_shard,
                phrase_scored_match_shard,
            )

            gen, shard = str(key[0]), int(key[1])
            base = shard << ORD_SHARD_SHIFT
            n_local = shard_docs.get((gen, shard), 0)
            rows_by_term = {rec["term"]: rec
                            for rec in pdf.to_dict("records")
                            if isinstance(rec.get("term"), str)}
            col = docmap_reader(f"{gdirs[gen]}/{dm_files[(gen, shard)]}")
            outs = []
            for qid, p in live.items():
                t = p["type"]
                if t == "match":
                    rows = [rows_by_term[x] for x in p["terms"]
                            if x in rows_by_term]
                    if not rows:
                        continue
                    local, scores = wand_shard(
                        rows, n_local, base, df_global, n_docs, avgdl,
                        kk, quantize=p.get("quantized", False))
                elif t == "phrase":
                    local, scores, _ = phrase_match_shard(
                        p["slots"], rows_by_term, base, df_global,
                        n_docs, avgdl, kk)
                elif t == "phrase_scored":
                    # score column = the idf-less saturation term; the
                    # driver multiplies idf(phrase df) in after summing
                    # per-shard match counts (ranking is idf-invariant)
                    local, scores, _ptf, n_matched = \
                        phrase_scored_match_shard(
                            p["slots"], rows_by_term, base, avgdl, kk)
                    nm = int(n_matched)
                elif t == "near":
                    local, scores, _ = near_match_shard(
                        p["terms"], p["slop"], rows_by_term, base,
                        df_global, n_docs, avgdl, kk)
                else:
                    part = bool_shard(p["plan"], TopK(kk), rows_by_term,
                                      n_local, base, col)
                    if part is None:
                        continue
                    ids, scores = part["doc_id"], part["score"]
                if t != "bool":
                    if len(local) == 0:
                        continue
                    ids = col("doc_id").take(local).to_pylist()
                outs.append(pd.DataFrame({
                    "qid": qid, "gen": gen,
                    "shard": np.full(len(ids), shard, dtype=np.int32),
                    "doc_id": ids,
                    "score": scores.astype(np.float64),
                    "n_match": np.full(
                        len(ids),
                        nm if t == "phrase_scored" else 0,
                        dtype=np.int64)}))
            if outs:
                return pd.concat(outs, ignore_index=True)
            return pd.DataFrame({"qid": pd.Series([], dtype=object),
                                 "gen": pd.Series([], dtype=object),
                                 "shard": pd.Series([], dtype="int32"),
                                 "doc_id": pd.Series([], dtype=object),
                                 "score": pd.Series([], dtype="float64"),
                                 "n_match": pd.Series([], dtype="int64")})

        from pyspark.sql.window import Window

        per_shard = matched.groupBy("gen", "shard").applyInPandas(
            run_shard,
            schema="qid string, gen string, shard int, doc_id string, "
                   "score double, n_match long")
        ps_qids = [q for q, p in live.items() if p["type"] == "phrase_scored"]
        if ps_qids:
            # the per-shard rows are needed twice (top-k window + the
            # phrase-df reduce over ALL shards, pre-truncation): they
            # are at most k × shards × qids rows, so materialize once
            per_shard = per_shard.localCheckpoint(eager=True)
        w = Window.partitionBy("qid").orderBy(F.desc("score"), *merge_tie_break())
        top = (per_shard.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= kk))
        dfp: dict[str, float] = {}
        if ps_qids:
            from geospatial_spark.functions.bm25 import idf as _idf

            stats = (per_shard.where(F.col("qid").isin(ps_qids))
                     .groupBy("qid", "gen", "shard")
                     .agg(F.first("n_match").alias("nm"))
                     .groupBy("qid").agg(F.sum("nm").alias("df"))
                     .collect())
            dfp = {r["qid"]: _idf(int(r["df"]), self.n_docs)
                   for r in stats}
        for r in sorted(top.collect(), key=lambda r: (r["qid"], r["rank"])):
            sc = float(r["score"]) * dfp.get(r["qid"], 1.0) \
                if r["qid"] in dfp else float(r["score"])
            out[r["qid"]].append((r["doc_id"], sc))
        return out

    def fetch_doc_text(self, doc_id: str, transcripts: DataFrame) -> str | None:
        """1-row lookup of a doc's text (limit-1 dictionary search
        analogue, GeoIpDataDao.java:252)."""
        from geospatial_spark.sources.transcripts import with_doc_id

        row = with_doc_id(transcripts).where(F.col("doc_id") == doc_id) \
                                      .select("text").limit(1).collect()
        return row[0]["text"] if row else None

    def highlight(self, query: str, transcripts: DataFrame, k: int = 10,
                  window: int = 12,
                  quantized: bool = False,
                  meta: dict | None = None
                  ) -> list[tuple[str, float, str, int]]:
        """Top-k with snippets (the unified-highlighter analogue):
        (doc_id, score, snippet, n_hit) where the snippet is the
        ``window``-token span holding the most DISTINCT query terms
        (earliest on ties — operators/highlight.py) and n_hit is that
        distinct count. Text is not stored in the index, so hits are
        re-joined against the transcripts source in ONE bounded lookup
        (k ids), then the O(n) two-pointer kernel snippets each text
        driver-side — k texts, never the corpus."""
        from geospatial_spark.operators.highlight import highlight_text_py
        from geospatial_spark.sources.transcripts import with_doc_id

        hits = self.search(query, k, quantized=quantized, meta=meta)
        if not hits:
            return []
        ids = [d for d, _ in hits]
        norm = self.manifest.get("normalization") or {}
        qterms = sorted({norm.get(t, t) for t in tokenize_py(query)})
        texts = {r["doc_id"]: r["text"] for r in
                 with_doc_id(transcripts)
                 .where(F.col("doc_id").isin(ids))
                 .select("doc_id", "text").collect()}
        out = []
        for d, s in hits:
            snippet, n_hit = highlight_text_py(texts.get(d, ""), qterms,
                                               window)
            out.append((d, s, snippet, n_hit))
        return out

    def locate_doc(self, doc_id: str) -> tuple[str, int, int] | None:
        """(generation id, shard, shard-local ordinal) of a doc, or None.

        Fast path: fresh builds assign shard = xxhash64(conv, turn) mod
        n_shards (plans/build.py), so ONE docmap's doc_id column is
        probed (O(n_docs / n_shards) driver read — the same column the
        point-lookup serving tier caches per shard). Fallback: merged /
        resharded generations may not preserve the hash assignment, so
        the remaining shards are probed in order. A point diagnostic
        API — never a Spark job over postings."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pathlib import Path as _P

        conv, _, turn = doc_id.rpartition(":")
        ns_set = sorted({int(g["n_shards"]) for g in self.gens})
        hashed = {}
        if ns_set and turn.lstrip("-").isdigit():
            row = self.spark.range(1).select(*[
                F.pmod(F.xxhash64(F.lit(conv).cast("string"),
                                  F.lit(int(turn)).cast("int")),
                       F.lit(ns)).cast("int").alias(f"s{ns}")
                for ns in ns_set]).first()
            hashed = {ns: int(row[f"s{ns}"]) for ns in ns_set}

        def probe(gen_id: str, shard: int) -> int:
            name = self.docmap_files.get((gen_id, shard))
            if name is None:
                return -1
            col = pq.read_table(_P(self.gdirs[gen_id]) / name,
                                columns=["doc_id"]).column("doc_id")
            return pc.index(col, pa.scalar(doc_id)).as_py()

        for g in self.gens:
            first = hashed.get(int(g["n_shards"]), -1)
            order = ([first] if first >= 0 else []) + [
                int(s["shard"]) for s in g["shards"]
                if int(s["shard"]) != first]
            for sh in order:
                ordn = probe(g["id"], sh)
                if ordn >= 0:
                    return g["id"], sh, int(ordn)
        return None

    def explain(self, query: str, doc_id: str,
                quantized: bool = False) -> dict | None:
        """Score explanation for one (query, doc) pair — the _explain
        API analogue (operators/explain.py): per-term
        {term, tf, dl, df, idf, contribution} decoded from the doc's own
        (generation, shard) index rows, plus the exact total. None when
        the doc isn't indexed. sum(contribution) equals search()'s score
        for the doc (or 0.0 when no query term matches it)."""
        from geospatial_spark.operators.explain import explain_entries

        norm = self.manifest.get("normalization") or {}
        terms = sorted({norm.get(t, t) for t in tokenize_py(query)})
        loc = self.locate_doc(doc_id)
        if loc is None:
            return None
        gen_id, shard, ordn = loc
        entries: list[dict] = []
        df_global = self._df_for(terms) if terms else {}
        if df_global:
            rows = [r.asDict() for r in (
                self._segments()
                .where((F.col("gen") == gen_id) & (F.col("shard") == shard)
                       & F.col("term").isin(list(df_global)))
                .select("term", "doc_blocks", "tf_blocks", "dl_blocks",
                        "block_last_doc")
                .collect())]  # bounded: ≤ |query terms| rows
            entries = explain_entries(
                rows, (shard << ORD_SHARD_SHIFT) + ordn, df_global,
                self.n_docs, self.avgdl, quantized=quantized)
        return {"doc_id": doc_id, "generation": gen_id, "shard": shard,
                "ordinal": ordn, "entries": entries,
                "score": float(sum(e["contribution"] for e in entries))}

    def search_by_doc(self, doc_id: str, transcripts: DataFrame,
                      k: int = 10) -> list[tuple[str, float]]:
        """Query-by-indexed-doc (more-like-this): two-phase fetch-then-
        query — the indexed-shape query analogue
        (XYShapeQueryBuilder.java:49-51, :105-115: fetch the stored
        shape by id, then use it as the probe)."""
        text = self.fetch_doc_text(doc_id, transcripts)
        if text is None:
            return []
        return self.search(text, k)

    def mlt_terms(self, text: str, max_query_terms: int = 25,
                  min_term_freq: int = 1,
                  min_doc_freq: int = 2) -> list[str]:
        """The more_like_this rewrite's selected terms for a source
        text: top max_query_terms by rounded tf·idf
        (operators/expand.select_mlt_terms), df from the index
        dictionary."""
        from collections import Counter

        from geospatial_spark.operators.expand import select_mlt_terms

        norm = self.manifest.get("normalization") or {}
        tf = Counter(norm.get(t, t) for t in tokenize_py(text))
        dfg = self._df_for(sorted(tf))
        return select_mlt_terms(tf, dfg, self.n_docs, max_query_terms,
                                min_term_freq, min_doc_freq)

    def more_like_this_df(self, doc_id: str, transcripts: DataFrame,
                          k: int = 10, max_query_terms: int = 25,
                          min_term_freq: int = 1, min_doc_freq: int = 2,
                          include: bool = False) -> DataFrame | None:
        """more_like_this (the MLT query analogue; reference two-phase
        shape: fetch the stored doc by id, then query with it —
        XYShapeQueryBuilder.java:49-51, :105-115): the source doc's top
        tf·idf terms (mlt_terms) scored as a plain BM25 should-OR;
        include=False (the default) drops the source doc itself from
        the page. Returns ≥k candidate rows UNCOLLECTED (k+1 fetched
        when excluding); None = unknown doc or no selectable terms."""
        text = self.fetch_doc_text(doc_id, transcripts)
        if text is None:
            return None
        terms = self.mlt_terms(text, max_query_terms, min_term_freq,
                               min_doc_freq)
        if not terms:
            return None
        df = self.search_df("", k if include else k + 1, terms=terms)
        if df is None:
            return None
        return df if include else df.where(F.col("doc_id") != doc_id)

    def more_like_this(self, doc_id: str, transcripts: DataFrame,
                       k: int = 10, max_query_terms: int = 25,
                       min_term_freq: int = 1, min_doc_freq: int = 2,
                       include: bool = False) -> list[tuple[str, float]]:
        df = self.more_like_this_df(doc_id, transcripts, k,
                                    max_query_terms, min_term_freq,
                                    min_doc_freq, include)
        if df is None:
            return []
        out = df.orderBy(F.desc("score"), *merge_tie_break()) \
                .limit(int(k)).collect()
        return [(r["doc_id"], float(r["score"])) for r in out]
