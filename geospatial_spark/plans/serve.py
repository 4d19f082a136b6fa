"""Low-latency serving path: query the frozen index WITHOUT launching a
Spark job.

Reference analogue: the shard-local preference + request cache that makes
ip2geo lookups cheap at serve time (GeoIpDataDao.java:254-255,
Ip2GeoCachedDao.java). A Spark job per query costs ~seconds of
scheduling; a *serving* process only needs the manifest + dictionary +
the matched row groups. Segments are term-sorted with small row groups,
so pyarrow's predicate pushdown reads only the row groups containing the
query's terms — I/O stays ∝ matched postings even for a huge index (on
object stores these are range reads).

Exactness contract is identical to plans/query.IndexSearcher: same
segments, same wand_shard kernel, same stats, same tie-break. The bool
family (search_bool, facet_counts, match_stats, search_collapsed) shares
more than the kernel: both searchers run the same plan and per-shard
step (operators/boolquery.py); only the shard loop and the final merge
here are serving-specific.
The batch engine (IndexSearcher) remains the path for query WORKLOADS
(search_many fan-out across executors); LocalSearcher is the
interactive/serving path.
"""

from __future__ import annotations

import functools
from pathlib import Path

import numpy as np

from geospatial_spark.functions.tokenize import tokenize_py
from geospatial_spark.operators.boolquery import (Collapse, FacetCounts,
                                                  MatchStats, TopK,
                                                  best_per_value, bool_shard,
                                                  plan_bool)
from geospatial_spark.operators.metafilter import read_docmap_column
from geospatial_spark.operators.wand import wand_shard
from geospatial_spark.plans import lifecycle as lc
from geospatial_spark.plans.build import ORD_SHARD_SHIFT


class LocalSearcher:
    """Driver/serving-process searcher over a published index. No Spark
    session required."""

    # merged-vocabulary size past which the serving dictionary is NOT
    # loaded into one python dict (same contract as
    # IndexSearcher.DICT_CACHE_MAX): df lookups fall back to per-query
    # term-filtered dataset reads, and only the (small by construction)
    # impact-copied term set is materialized eagerly
    DICT_CACHE_MAX = 2_000_000

    def __init__(self, index_root: str, max_age_seconds: float | None = None,
                 preload_docmaps: bool = False,
                 dict_cache_max: int | None = None,
                 docstore: str | None = None):
        self.root = index_root
        m = lc.read_manifest(index_root)
        if not m or m.get("state") != lc.STATE_AVAILABLE:
            raise ValueError(f"index at {index_root} not AVAILABLE: {m and m.get('state')}")
        missing = lc.missing_generations(index_root)
        if missing:
            raise ValueError(
                f"index_generations_missing: {missing} listed in manifest "
                "but absent on disk — force rebuild required")
        if max_age_seconds is not None:
            import time as _time

            age = _time.time() - float(m.get("built_at_unix", 0))
            if age > max_age_seconds:
                raise ValueError(f"index_data_expired: built {age:.0f}s ago")
        self.manifest = m
        # empty list is a valid (empty-corpus) generation set
        self.gens = (m["generations"] if "generations" in m else [
            {"id": m["generation"], "n_shards": m["n_shards"],
             "n_docs": m["n_docs"], "shards": m["shards"]}
        ])
        self.n_docs = int(m["n_docs"])
        self.avgdl = float(m["avgdl"])
        self.gdirs = {g["id"]: Path(lc.gen_dir(index_root, g["id"])) for g in self.gens}
        self.shard_docs = {
            (g["id"], int(s["shard"])): int(s["docs_tokenized"])
            for g in self.gens for s in g["shards"]
        }
        # manifest-recorded artifact names (storage adapter: put-mode
        # names are unique/tokenized — the serving reader never lists)
        self.docmap_files: dict[tuple[str, int], str] = {}
        self._shard_file_maps: dict[str, dict[int, Path]] = {}
        for g in self.gens:
            _, dms = lc.gen_shard_files(g)
            gdir = self.gdirs[g["id"]]
            self._shard_file_maps[g["id"]] = {}
            for s in g["shards"]:
                sh = int(s["shard"])
                self.docmap_files[(g["id"], sh)] = dms[sh]
                self._shard_file_maps[g["id"]][sh] = gdir / (
                    s.get("segment_file") or lc.segment_file(sh))
        self._dict: dict[str, int] | None = None
        self._dict_loaded = False
        self._imp_terms: dict[str, set] = {}  # gen -> terms with impact copies
        self._imp_flagged: set[str] = set()  # gens whose dictionary has has_imp
        self._seg_ds = None  # lazy pyarrow dataset over all generations
        self._readers: dict[str, _SegmentReader] = {}
        # (gen, shard, column) → docmap column; frozen index → safe
        self._docmap_cache: dict[tuple[str, int, str], object] = {}
        # term-row LRU: (gen, term, read-class) → segment rows; see
        # search() — the always-on serving process's hot cache
        from collections import OrderedDict

        self._term_cache: "OrderedDict[tuple, list]" = OrderedDict()
        self.term_cache_max = 2048
        # BYTE-accounted bound (the binding one): entry count alone lets
        # a few thousand saturated-term rows hold multi-MB impact/doc
        # streams each — the one unbounded-memory path in the serving
        # tier. Sizes re-estimate on HIT because kernels legally fatten
        # cached rows in place (heavy-stream completion fetches, bulk
        # (docs, contribution) memos) after the fill-time estimate.
        self.term_cache_max_bytes = 256 << 20
        self._term_cache_sizes: dict[tuple, int] = {}
        self._term_cache_total = 0
        if dict_cache_max is not None:
            self.DICT_CACHE_MAX = int(dict_cache_max)
        # optional doc-text source for highlight(): transcripts parquet
        # (text is NOT stored in the index — by design, the index holds
        # postings + docmap only; snippets re-join the source)
        self.docstore = docstore
        self._docstore_ds = None
        self._text_cache: "OrderedDict[str, str]" = OrderedDict()
        self.text_cache_max = 4096
        self._dict_small = (
            sum(int(g.get("n_terms", 0)) for g in self.gens)
            <= self.DICT_CACHE_MAX)
        self._ts_cache: dict[str, int | None] | None = None  # decay path
        if preload_docmaps:
            for g in self.gens:
                for s in g["shards"]:
                    self._docmap_column(g["id"], int(s["shard"]), "doc_id")

    # -- dictionary (loaded once; the frozen index makes this sound) ---

    def _dict_datasets(self):
        import pyarrow.dataset as ds

        for g in self.gens:
            base = self.gdirs[g["id"]] / "dictionary"
            names = g.get("dictionary_files")
            src = [str(base / n) for n in names] if names else str(base)
            yield g["id"], ds.dataset(src, format="parquet")

    def _load_dict(self) -> None:
        """Small-vocabulary path: full merged dictionary in one python
        dict. Past DICT_CACHE_MAX terms, only the impact-copied term
        set (small by construction — the per-shard hot threshold) is
        materialized; df lookups go per-query through _df_for's
        term-filtered dataset read instead, so serving memory stays
        O(hot terms), not O(vocabulary)."""
        if self._dict_loaded:
            return
        self._dict_loaded = True
        if self._dict_small:
            self._dict = {}
        import pyarrow.compute as pc

        for gen_id, d in self._dict_datasets():
            has_imp = "has_imp" in d.schema.names
            if has_imp:
                self._imp_flagged.add(gen_id)
            imp_terms = self._imp_terms.setdefault(gen_id, set())
            if self._dict is not None:
                cols = ["term", "df"] + (["has_imp"] if has_imp else [])
                t = d.to_table(columns=cols)
                imps = t.column("has_imp").to_pylist() if has_imp else None
                for i, (term, df) in enumerate(
                        zip(t.column("term").to_pylist(),
                            t.column("df").to_pylist())):
                    self._dict[term] = self._dict.get(term, 0) + int(df)
                    if imps is not None and imps[i]:
                        imp_terms.add(term)
            elif has_imp:
                # has_imp is stored as an int flag column
                t = d.to_table(columns=["term"],
                               filter=pc.field("has_imp") != 0)
                imp_terms.update(t.column("term").to_pylist())

    def _df_for(self, terms: list[str]) -> dict[str, int]:
        self._load_dict()
        if self._dict is not None:
            return {t: self._dict[t] for t in terms if t in self._dict}
        # large-vocabulary fallback: per-query term-filtered dataset
        # read over (term, df) only — the same size-tiered contract as
        # the Spark searcher (plans/query.py DICT_CACHE_MAX)
        import pyarrow.compute as pc

        out: dict[str, int] = {}
        for _gen_id, d in self._dict_datasets():
            t = d.to_table(columns=["term", "df"],
                           filter=pc.field("term").isin(terms))
            for term, df in zip(t.column("term").to_pylist(),
                                t.column("df").to_pylist()):
                out[term] = out.get(term, 0) + int(df)
        return out

    # -- expansion queries (prefix / fuzzy rewrite) ---------------------

    def _expand(self, match, max_expansions: int,
                arrow_filter=None) -> list[str]:
        """Dictionary expansion shared by prefix/fuzzy: merge df across
        generations for terms passing ``match`` (a python predicate),
        then apply the pinned df-desc/term-asc cap (operators/expand.py).
        Small-vocab tier scans the already-merged driver dict; the
        large-vocab tier streams dictionary batches (optionally
        pre-filtered by ``arrow_filter`` on the parquet scan) so memory
        stays O(matching terms), never O(vocabulary)."""
        from geospatial_spark.operators.expand import pick_top_py

        return pick_top_py(self._expand_candidates(match, arrow_filter),
                           max_expansions)

    def _expand_candidates(self, match, arrow_filter=None) -> dict[str, int]:
        """Merged-df dictionary candidates passing ``match`` (the
        uncapped half of _expand — the suggester ranks these by its own
        distance-first contract instead of the df cap)."""
        self._load_dict()
        acc: dict[str, int] = {}
        if self._dict is not None:
            for term, df in self._dict.items():
                if match(term):
                    acc[term] = df
        else:
            for _gen_id, d in self._dict_datasets():
                scanner = d.scanner(columns=["term", "df"],
                                    filter=arrow_filter)
                for batch in scanner.to_batches():
                    for term, df in zip(batch.column("term").to_pylist(),
                                        batch.column("df").to_pylist()):
                        if match(term):
                            acc[term] = acc.get(term, 0) + int(df)
        return acc

    def complete(self, prefix: str, size: int = 10
                 ) -> list[tuple[str, int]]:
        """Prefix autocomplete on the serving path — the twin of
        IndexSearcher.complete: (term, df) most-frequent first."""
        import pyarrow.compute as pc

        p = (prefix or "").lower()
        if not p:
            return []
        acc = self._expand_candidates(
            lambda t: t.startswith(p),
            arrow_filter=pc.starts_with(pc.field("term"), p))
        ranked = sorted(((-df, t) for t, df in acc.items()))
        return [(t, -negdf) for negdf, t in ranked[:int(size)]]

    def suggest(self, term: str, size: int = 5,
                max_edits: int = 2) -> list[tuple[str, int, int]]:
        """Did-you-mean on the serving path — the twin of
        IndexSearcher.suggest: dictionary terms within max_edits of the
        input (input excluded), ranked (distance asc, df desc, term
        asc) → [(term, df, distance)]."""
        from geospatial_spark.operators.expand import (levenshtein_py,
                                                       rank_suggestions)

        norm = self.manifest.get("normalization") or {}
        t = norm.get((term or "").lower(), (term or "").lower())
        if not t:
            return []
        me = int(max_edits)

        def match(x: str) -> bool:
            return (x != t and abs(len(x) - len(t)) <= me
                    and levenshtein_py(x, t) <= me)

        # push the length band into the arrow dictionary scan so the
        # large-vocab tier prunes batches before any python runs (the
        # starts_with analogue complete() uses)
        import pyarrow.compute as pc

        lens = pc.utf8_length(pc.field("term"))
        band = pc.and_(pc.greater_equal(lens, len(t) - me),
                       pc.less_equal(lens, len(t) + me))
        return rank_suggestions(
            self._expand_candidates(match, arrow_filter=band), t,
            int(size))

    def expand_prefix(self, prefix: str, max_expansions: int = 64) -> list[str]:
        import pyarrow.compute as pc

        prefix = (prefix or "").lower()
        if not prefix:
            return []
        return self._expand(
            lambda t: t.startswith(prefix), max_expansions,
            arrow_filter=pc.starts_with(pc.field("term"), prefix))

    def expand_fuzzy(self, term: str, max_edits: int = 1,
                     prefix_length: int = 0,
                     max_expansions: int = 64) -> list[str]:
        from geospatial_spark.operators.expand import levenshtein_py

        term = (term or "").lower()
        if not term:
            return []
        me = int(max_edits)
        pfx = term[:int(prefix_length)] if prefix_length > 0 else ""

        def match(t: str) -> bool:
            return (abs(len(t) - len(term)) <= me
                    and (not pfx or t.startswith(pfx))
                    and levenshtein_py(t, term) <= me)

        arrow_filter = None
        if pfx:
            import pyarrow.compute as pc
            arrow_filter = pc.starts_with(pc.field("term"), pfx)
        return self._expand(match, max_expansions, arrow_filter=arrow_filter)

    def expand_wildcard(self, pattern: str,
                        max_expansions: int = 64) -> list[str]:
        import re

        from geospatial_spark.operators.expand import (
            wildcard_literal_prefix, wildcard_regex)

        pattern = (pattern or "").lower()
        if not pattern or pattern.strip("*?") == "":
            return []
        rx = re.compile(wildcard_regex(pattern))
        pfx = wildcard_literal_prefix(pattern)
        arrow_filter = None
        if pfx:
            import pyarrow.compute as pc
            arrow_filter = pc.starts_with(pc.field("term"), pfx)
        return self._expand(lambda t: rx.match(t) is not None,
                            max_expansions, arrow_filter=arrow_filter)

    def expand_regexp(self, pattern: str,
                      max_expansions: int = 64) -> list[str]:
        import re

        from geospatial_spark.operators.expand import (
            regexp_guard, regexp_literal_prefix)

        pattern = regexp_guard(pattern)
        if not pattern:
            return []
        rx = re.compile(pattern)
        pfx = regexp_literal_prefix(pattern)
        arrow_filter = None
        if pfx:
            import pyarrow.compute as pc
            arrow_filter = pc.starts_with(pc.field("term"), pfx)
        return self._expand(lambda t: rx.fullmatch(t) is not None,
                            max_expansions, arrow_filter=arrow_filter)

    def search_regexp(self, pattern: str, k: int = 10,
                      max_expansions: int = 64,
                      meta: dict | None = None) -> list[tuple[str, float]]:
        """RegexpQuery rewrite — identical contract to
        IndexSearcher.search_regexp_df (anchored full-term regex,
        bounded df-ranked expansion, BM25 should-OR)."""
        terms = self.expand_regexp(pattern, max_expansions)
        if not terms:
            return []
        return self.search(" ".join(terms), k, meta=meta)

    def search_wildcard(self, pattern: str, k: int = 10,
                        max_expansions: int = 64,
                        meta: dict | None = None) -> list[tuple[str, float]]:
        terms = self.expand_wildcard(pattern, max_expansions)
        if not terms:
            return []
        return self.search(" ".join(terms), k, meta=meta)

    def search_prefix(self, prefix: str, k: int = 10,
                      max_expansions: int = 64,
                      meta: dict | None = None) -> list[tuple[str, float]]:
        """PrefixQuery rewrite — identical contract to
        IndexSearcher.search_prefix_df (BM25 should-OR over the bounded
        df-ranked expansion)."""
        terms = self.expand_prefix(prefix, max_expansions)
        if not terms:
            return []
        return self.search(" ".join(terms), k, meta=meta)

    def search_fuzzy(self, term: str, k: int = 10, max_edits: int = 1,
                     prefix_length: int = 0, max_expansions: int = 64,
                     meta: dict | None = None) -> list[tuple[str, float]]:
        terms = self.expand_fuzzy(term, max_edits, prefix_length,
                                  max_expansions)
        if not terms:
            return []
        return self.search(" ".join(terms), k, meta=meta)

    def _imp_for(self, gen_id: str) -> set:
        """Terms holding an impact-ordered copy in this generation — the
        pre-read routing signal (light read vs doc-stream prefetch)."""
        self._load_dict()
        return self._imp_terms.get(gen_id, set())

    # -- search --------------------------------------------------------

    def _segments_dataset(self):
        """One pyarrow dataset per generation (kept for tooling; the
        search path uses the row-group-pruned _SegmentReader below)."""
        import pyarrow.dataset as ds

        if self._seg_ds is None:
            parts = []
            for g in self.gens:
                files = sorted(str(p) for p in
                               self._shard_file_maps[g["id"]].values())
                if files:
                    parts.append((g["id"], ds.dataset(files, format="parquet")))
            self._seg_ds = parts
        return self._seg_ds

    def _account(self, key: tuple, rows: list) -> None:
        """(Re-)record one entry's byte size in the cache accounting."""
        sz = _entry_bytes(rows)
        self._term_cache_total += sz - self._term_cache_sizes.get(key, 0)
        self._term_cache_sizes[key] = sz

    def _evict(self, protect: set) -> None:
        """Evict oldest entries past either bound (bytes are the
        binding bound for saturated terms; the entry cap guards the
        many-tiny-rows regime). Entries just handed to the caller are
        protected — they are live references this query."""
        while ((self._term_cache_total > self.term_cache_max_bytes
                or len(self._term_cache) > self.term_cache_max)
               and len(self._term_cache) > len(protect)):
            for key in self._term_cache:
                if key not in protect:
                    break
            else:
                return
            self._term_cache.pop(key)
            self._term_cache_total -= self._term_cache_sizes.pop(key, 0)

    def _cached_rows(self, gen_id: str, reader: "_SegmentReader",
                     terms: list[str], cols: list[str],
                     klass: str) -> list[dict]:
        """Term rows through the LRU (misses read + pythonize once).
        Byte-accounted: hit entries re-measure (kernels fatten cached
        rows in place), then eviction trims to the byte budget."""
        rows: list[dict] = []
        miss = []
        touched: set = set()
        for t in terms:
            key = (gen_id, t, klass)
            got = self._term_cache.get(key)
            if got is None:
                miss.append(t)
            else:
                self._term_cache.move_to_end(key)
                self._account(key, got)  # re-measure: rows mutate in place
                touched.add(key)
                rows.extend(got)
        if miss:
            fetched = reader.read_terms(miss, cols)
            by_term: dict[str, list[dict]] = {t: [] for t in miss}
            for r in fetched:
                _pythonize_streams(r)
                by_term[r["term"]].append(r)
            for t, trows in by_term.items():
                key = (gen_id, t, klass)
                self._term_cache[key] = trows
                self._account(key, trows)
                touched.add(key)
                rows.extend(trows)
        self._evict(touched)
        return rows

    def _light_cols(self, names) -> list[str]:
        return [c for c in names
                if c.startswith("imp_head_") or c.startswith("imp_sky_")
                or c.startswith("imp_tier_") or c == "df"]

    def warm_hot_terms(self) -> int:
        """Preload every impact-copied term's LIGHT rows into the term
        cache — the serving warm-up a long-lived daemon runs at swap
        time, so the FIRST query touching a saturated term skips the
        parquet read (the measured uncached-latency dominator). The hot
        set is small by construction (only terms above the per-shard
        impact-copy threshold); returns the number of terms warmed."""
        self._load_dict()
        warmed = 0
        for g in self.gens:
            gen_id = g["id"]
            imp = sorted(self._imp_for(gen_id))
            if not imp:
                continue
            reader = self._reader(gen_id)
            self._cached_rows(gen_id, reader, imp,
                              self._light_cols(reader.schema_names), "h")
            warmed += len(imp)
        return warmed

    def _reader(self, gen_id: str) -> "_SegmentReader":
        r = self._readers.get(gen_id)
        if r is None:
            r = _SegmentReader(self.gdirs[gen_id],
                               shard_files=self._shard_file_maps[gen_id])
            self._readers[gen_id] = r
        return r

    # byte-stream columns a serving read skips up front: terms that need
    # them get ONE batched second read; dominated hot terms usually need
    # NONE (discovery lives in imp_head) and fall back to a targeted
    # per-file fetch only when discovery overruns the head
    HEAVY_COLS = ("doc_blocks", "tf_blocks", "dl_blocks", "pos_blocks",
                  "imp_tail_doc_blocks", "imp_tail_tf_blocks",
                  "imp_tail_dl_blocks")

    def search_after(self, query: str, k: int = 10,
                     after: tuple[float, str] | None = None,
                     quantized: bool = False,
                     meta: dict | None = None) -> list[tuple[str, float]]:
        """Cursor pagination — same contract as
        IndexSearcher.search_after: the next k hits STRICTLY AFTER
        ``after = (score, doc_id)`` under the pagination ordering
        (round(score, ORDER_DP) desc, doc_id asc); raw scores out.
        Adaptive top-m re-run sized to cursor depth (Lucene from+size
        cost shape), tie-exact at every page boundary."""
        from geospatial_spark.functions.oracle_sql import ORDER_DP

        if after is None:
            cs, cd = float("inf"), ""
        else:
            cs, cd = round(float(after[0]), ORDER_DP), str(after[1])
        kk = int(k)
        m = max(2 * kk, kk + 50)
        while True:
            rows = self.search(query, m, quantized=quantized, meta=meta)
            post = [(d, s) for d, s in rows
                    if round(s, ORDER_DP) < cs
                    or (round(s, ORDER_DP) == cs and d > cd)]
            if len(rows) < m or m >= self.n_docs:
                break
            if len(post) >= kk and (round(post[kk - 1][1], ORDER_DP)
                                    != round(rows[-1][1], ORDER_DP)):
                break
            m *= 4
        post.sort(key=lambda h: (-round(h[1], ORDER_DP), h[0]))
        return post[:kk]

    def search(self, query: str, k: int = 10,
               quantized: bool = False,
               meta: dict | None = None,
               terms: list[str] | None = None) -> list[tuple[str, float]]:
        if meta is not None:
            if terms is not None:
                raise ValueError(
                    "terms= with meta= is not supported: the bool path "
                    "tokenizes its should clause itself — pass query text")
            # a metadata-filtered match IS a scored should-OR under the
            # mask (same terms, scores, tie-break) — one code path
            return self.search_bool(should=query, k=k, meta=meta,
                                    quantized=quantized)
        norm = self.manifest.get("normalization") or {}
        if terms is None:
            terms = sorted({norm.get(t, t) for t in tokenize_py(query)})
        else:
            # pre-normalized index terms (rewrite queries: more_like_this
            # hands dictionary terms back — re-tokenizing could split them)
            terms = sorted(set(terms))
        if not terms or self.n_docs == 0:
            return []
        df_global = self._df_for(terms)
        if not df_global:
            return []
        qterms = list(df_global)

        candidates: list[tuple[float, str, int, str]] = []  # (-score, conv, turn, doc_id)
        for g in self.gens:
            gen_id = g["id"]
            reader = self._reader(gen_id)
            names = reader.schema_names
            imp_set = self._imp_for(gen_id)

            # route per term BEFORE reading: terms with an impact copy
            # are read light (metadata + imp_head only — their byte
            # streams are the big ones, and discovery rarely leaves the
            # head); the rest get their doc streams in the same read
            hot_q = [t for t in qterms if t in imp_set]
            cold_q = [t for t in qterms if t not in imp_set]
            # discovery for hot terms needs ONLY df + the impact head +
            # impact skylines. The doc-ordered per-block metadata
            # columns (block_last_doc, sky_*) total O(Σ df) ints across
            # a row group — decoding them for every term in the group
            # was the measured serve-latency growth term; completion
            # re-fetches block_last_doc with the byte streams on the
            # rare discovery overrun.
            light = self._light_cols(names)
            # a cold-routed term has has_imp = 0 (the max over shards),
            # so every impact cell of its rows is null: skip them all.
            # A dictionary without has_imp routes every term cold, and
            # those rows keep their impact head and skylines.
            skip = (("imp_", "pos_blocks") if gen_id in self._imp_flagged
                    else ("imp_tail_", "pos_blocks"))
            cold_cols = [c for c in names if not c.startswith(skip)]
            # term-row LRU (the serving-node hot cache, the
            # Ip2GeoCachedDao.java:119-138 analogue): repeated terms skip
            # the parquet row-group read entirely — per-query read
            # latency (~1 ms/row-group) IS the warm-path budget. Safe on
            # a frozen generation: kernel mutations are additive (a
            # fetched heavy stream stays attached, saving the next
            # query's fetch). Entry-count bounded, oldest evicted.
            rows: list[dict] = []
            for bucket, cols, klass in ((cold_q, cold_cols, "c"),
                                        (hot_q, light, "h")):
                rows.extend(self._cached_rows(gen_id, reader, bucket,
                                              cols, klass))
            if not rows:
                continue
            # targeted completion fetch: byte streams (positions are
            # never needed by plain search) + the doc-ordered block
            # metadata the light hot read skipped (a routed-hot term can
            # still be COLD in a shard below the copy threshold — that
            # row needs the full cold metadata on fetch)
            heavy_all = [c for c in names
                         if (c in self.HEAVY_COLS and c != "pos_blocks")
                         or c in ("block_last_doc", "block_max_tf",
                                  "block_min_dl", "sky_tf", "sky_dl",
                                  "sky_off")]
            for r in rows:
                if r.get("doc_blocks") is None:
                    r["_fetch_heavy"] = reader.make_fetch(
                        int(r["shard"]), r["term"], ["shard", "term"] + heavy_all)

            by_shard: dict[int, list[dict]] = {}
            for r in rows:
                by_shard.setdefault(int(r["shard"]), []).append(r)

            def run(shard_rows):
                shard, seg_rows = shard_rows
                base = shard << ORD_SHARD_SHIFT
                local, scores = wand_shard(
                    seg_rows, self.shard_docs[(gen_id, shard)], base,
                    df_global, self.n_docs, self.avgdl, k,
                    quantize=quantized,
                )
                if len(local) == 0:
                    return []
                col = self._docmap_column(gen_id, shard, "doc_id")
                ids = col.take(local.tolist()).to_pylist()
                return list(zip(ids, scores))

            # single-threaded scoring loop, like the reads above: a
            # measured A/B at sf0.1 found that a shard thread pool slows
            # LIGHT queries 2-5× (GIL contention on the python glue
            # between the numpy kernels) and buys heavy queries ~nothing
            results = [run(it) for it in by_shard.items()]
            for part in results:
                for doc_id, sc in part:
                    conv, _, turn = doc_id.rpartition(":")
                    candidates.append((-float(sc), conv, int(turn), doc_id))

        candidates.sort()
        return [(d, -neg) for neg, _, _, d in candidates[:k]]


    def search_phrase(self, phrase: str, k: int = 10) -> list[tuple[str, float]]:
        return [(d, s) for d, s, _ in self.search_phrase_full(phrase, k)]

    def search_phrase_full(self, phrase: str, k: int = 10
                           ) -> list[tuple[str, float, int]]:
        """Exact-phrase top-k without a Spark job — same contract as
        IndexSearcher.search_phrase (operators/phrase.py): phrase terms'
        rows (including pos_blocks) read row-group-pruned per shard,
        position intersection + distinct-term BM25 scoring local.
        Returns (doc_id, score, phrase_tf) — the full column set of
        IndexSearcher.search_phrase_df."""

        from geospatial_spark.operators.phrase import phrase_match_shard

        if not self.manifest.get("positions", True):
            raise ValueError("index built with store_positions=False "
                             "cannot serve phrase queries")
        norm = self.manifest.get("normalization") or {}
        slots = [norm.get(t, t) for t in tokenize_py(phrase)]
        if not slots or self.n_docs == 0:
            return []
        distinct = sorted(set(slots))
        df_global = self._df_for(distinct)
        if len(df_global) < len(distinct):
            return []  # a phrase term absent from the corpus ⇒ no match

        candidates: list[tuple[float, str, int, str]] = []
        for g in self.gens:
            gen_id = g["id"]
            reader = self._reader(gen_id)
            cols = [c for c in reader.schema_names
                    if not c.startswith("imp_")]  # phrase never uses impact copies
            rows = self._cached_rows(gen_id, reader, distinct, cols, "p")
            by_shard: dict[int, dict[str, dict]] = {}
            for r in rows:
                by_shard.setdefault(int(r["shard"]), {})[r["term"]] = r
            for shard, rows_by_term in by_shard.items():
                base = shard << ORD_SHARD_SHIFT
                local, scores, ptf = phrase_match_shard(
                    slots, rows_by_term, base, df_global,
                    self.n_docs, self.avgdl, k)
                if len(local) == 0:
                    continue
                col = self._docmap_column(gen_id, shard, "doc_id")
                for doc_id, sc, tf in zip(col.take(local.tolist()).to_pylist(),
                                          scores, ptf):
                    conv, _, turn = doc_id.rpartition(":")
                    candidates.append((-float(sc), conv, int(turn), doc_id,
                                       int(tf)))
        candidates.sort()
        return [(d, -neg, tf) for neg, _, _, d, tf in candidates[:k]]

    def search_phrase_prefix(self, query: str, k: int = 10,
                             max_expansions: int = 64
                             ) -> list[tuple[str, float]]:
        """match_phrase_prefix without a Spark job — same contract as
        IndexSearcher.search_phrase_prefix: trailing token expanded
        against the dictionary, fixed-tokens-then-any-variant adjacency,
        per-doc MAX over variant phrase scores
        (operators/phrase.phrase_prefix_match_shard)."""

        from geospatial_spark.operators.phrase import (
            phrase_prefix_match_shard,
        )

        if not self.manifest.get("positions", True):
            raise ValueError("index built with store_positions=False "
                             "cannot serve phrase queries")
        norm = self.manifest.get("normalization") or {}
        toks = tokenize_py(query)
        if not toks or self.n_docs == 0:
            return []
        fixed = [norm.get(t, t) for t in toks[:-1]]
        exp = self.expand_prefix(toks[-1], max_expansions)
        if not exp:
            return []
        all_terms = sorted(set(fixed) | set(exp))
        df_global = self._df_for(all_terms)
        if any(t not in df_global for t in set(fixed)):
            return []

        candidates: list[tuple[float, str, int, str]] = []
        for g in self.gens:
            gen_id = g["id"]
            reader = self._reader(gen_id)
            cols = [c for c in reader.schema_names
                    if not c.startswith("imp_")]
            rows = self._cached_rows(gen_id, reader, all_terms, cols, "p")
            by_shard: dict[int, dict[str, dict]] = {}
            for r in rows:
                by_shard.setdefault(int(r["shard"]), {})[r["term"]] = r
            for shard, rows_by_term in by_shard.items():
                base = shard << ORD_SHARD_SHIFT
                local, scores = phrase_prefix_match_shard(
                    fixed, exp, rows_by_term, base, df_global,
                    self.n_docs, self.avgdl, k)
                if len(local) == 0:
                    continue
                col = self._docmap_column(gen_id, shard, "doc_id")
                for doc_id, sc in zip(col.take(local.tolist()).to_pylist(),
                                      scores):
                    conv, _, turn = doc_id.rpartition(":")
                    candidates.append((-float(sc), conv, int(turn), doc_id))
        candidates.sort()
        return [(d, -neg) for neg, _, _, d in candidates[:k]]

    def search_phrase_scored(self, phrase: str, k: int = 10
                             ) -> list[tuple[str, float]]:
        """Phrase-as-term scoring on the serving path — same contract
        as IndexSearcher.search_phrase_scored: idf from the phrase's
        df (sum of per-shard match counts), tf = occurrence count.
        Per-shard top-k by the idf-less saturation term is already in
        final-score order (idf is a constant positive factor)."""

        from geospatial_spark.functions.bm25 import idf as _idf
        from geospatial_spark.operators.phrase import (
            phrase_scored_match_shard,
        )

        if not self.manifest.get("positions", True):
            raise ValueError("index built with store_positions=False "
                             "cannot serve phrase queries")
        norm = self.manifest.get("normalization") or {}
        slots = [norm.get(t, t) for t in tokenize_py(phrase)]
        if not slots or self.n_docs == 0:
            return []
        distinct = sorted(set(slots))
        if len(self._df_for(distinct)) < len(distinct):
            return []

        phrase_df = 0
        hits: list[tuple[float, str, int, str]] = []  # (sat, conv, turn, id)
        for g in self.gens:
            gen_id = g["id"]
            reader = self._reader(gen_id)
            cols = [c for c in reader.schema_names
                    if not c.startswith("imp_")]
            rows = self._cached_rows(gen_id, reader, distinct, cols, "p")
            by_shard: dict[int, dict[str, dict]] = {}
            for r in rows:
                by_shard.setdefault(int(r["shard"]), {})[r["term"]] = r
            for shard, rows_by_term in by_shard.items():
                base = shard << ORD_SHARD_SHIFT
                local, sat, _ptf, n_matched = phrase_scored_match_shard(
                    slots, rows_by_term, base, self.avgdl, k)
                phrase_df += n_matched
                if len(local) == 0:
                    continue
                col = self._docmap_column(gen_id, shard, "doc_id")
                for doc_id, s in zip(col.take(local.tolist()).to_pylist(),
                                     sat):
                    conv, _, turn = doc_id.rpartition(":")
                    hits.append((-float(s), conv, int(turn), doc_id))
        if not hits:
            return []
        idf_p = _idf(phrase_df, self.n_docs)
        hits.sort()
        return [(d, -neg * idf_p) for neg, _, _, d in hits[:k]]

    def search_near(self, query: str, slop: int, k: int = 10
                    ) -> list[tuple[str, float]]:
        return [(d, s) for d, s, _ in self.search_near_full(query, slop, k)]

    def search_near_full(self, query: str, slop: int, k: int = 10
                         ) -> list[tuple[str, float, int]]:
        """Proximity top-k on the serving path — same contract as
        IndexSearcher.search_near. Returns (doc_id, score, min_span),
        the full column set of IndexSearcher.search_near_df."""

        from geospatial_spark.operators.phrase import near_match_shard

        if not self.manifest.get("positions", True):
            raise ValueError("index built with store_positions=False "
                             "cannot serve proximity queries")
        norm = self.manifest.get("normalization") or {}
        terms = sorted({norm.get(t, t) for t in tokenize_py(query)})
        if not terms or self.n_docs == 0:
            return []
        df_global = self._df_for(terms)
        if len(df_global) < len(terms):
            return []  # AND semantics

        candidates: list[tuple[float, str, int, str]] = []
        for g in self.gens:
            gen_id = g["id"]
            reader = self._reader(gen_id)
            cols = [c for c in reader.schema_names
                    if not c.startswith("imp_")]
            by_shard: dict[int, dict[str, dict]] = {}
            for r in self._cached_rows(gen_id, reader, terms, cols, "p"):
                by_shard.setdefault(int(r["shard"]), {})[r["term"]] = r
            for shard, rows_by_term in by_shard.items():
                base = shard << ORD_SHARD_SHIFT
                local, scores, spans = near_match_shard(
                    terms, int(slop), rows_by_term, base, df_global,
                    self.n_docs, self.avgdl, k)
                if len(local) == 0:
                    continue
                col = self._docmap_column(gen_id, shard, "doc_id")
                for doc_id, sc, sp in zip(col.take(local.tolist()).to_pylist(),
                                          scores, spans):
                    conv, _, turn = doc_id.rpartition(":")
                    candidates.append((-float(sc), conv, int(turn), doc_id,
                                       int(sp)))
        candidates.sort()
        return [(d, -neg, sp) for neg, _, _, d, sp in candidates[:k]]

    # -- bool family: one plan, one shard loop, the shared reducers -----

    def _bool_shards(self, plan, op):
        """The serving placement of a bool-family op
        (operators/boolquery.py): per generation, the plan's term rows
        through the term-row LRU (doc streams only), every shard of the
        generation when the plan is pure-NOT, then the shared shard
        step over cached docmap columns. Yields the op's per-shard
        partial columns."""
        for g in self.gens:
            gen_id = g["id"]
            reader = self._reader(gen_id)
            cols = [c for c in reader.schema_names
                    if not c.startswith("imp_") and c != "pos_blocks"]
            by_shard: dict[int, dict[str, dict]] = {}
            for r in self._cached_rows(gen_id, reader, list(plan.scan_terms),
                                       cols, "b"):
                by_shard.setdefault(int(r["shard"]), {})[r["term"]] = r
            if plan.pure_not:
                # complement path: shards with no scanned term row
                # still hold hits — run the step on every shard
                for (g_id, shard) in self.shard_docs:
                    if g_id == gen_id:
                        by_shard.setdefault(shard, {})
            for shard, rows_by_term in by_shard.items():
                part = bool_shard(
                    plan, op, rows_by_term, self.shard_docs[(gen_id, shard)],
                    shard << ORD_SHARD_SHIFT,
                    functools.partial(self._docmap_column, gen_id, shard))
                if part is not None:
                    yield part

    def search_bool(self, should: str = "", filter_q: str = "",
                    must_not: str = "", k: int = 10,
                    meta: dict | None = None,
                    quantized: bool = False,
                    min_should_match: int = 1,
                    boosts: dict[str, float] | None = None
                    ) -> list[tuple[str, float]]:
        """Bool query (operators/boolquery.py): scored should-OR
        restricted by filter-AND, must_not-NOT and the metadata
        predicate (operators/metafilter.py); min_should_match 0 =
        optional should, >1 = that many distinct should terms; optional
        per-should-term boosts."""
        plan = plan_bool(self, should, filter_q, must_not, meta=meta,
                         min_should_match=min_should_match, boosts=boosts,
                         quantized=quantized)
        return [] if plan is None else self._bool_topk(plan, int(k))

    def _bool_topk(self, plan, k: int) -> list[tuple[str, float]]:
        cand: list[tuple[float, str, int, str]] = []
        for part in self._bool_shards(plan, TopK(k)):
            for doc_id, sc in zip(part["doc_id"], part["score"]):
                conv, _, turn = doc_id.rpartition(":")
                cand.append((-float(sc), conv, int(turn), doc_id))
        cand.sort()
        return [(d, -neg) for neg, _, _, d in cand[:k]]

    def facet_counts(self, should: str = "", filter_q: str = "",
                     must_not: str = "", meta: dict | None = None,
                     field: str = "role") -> dict[str, int]:
        """Matching docs per value of a docmap field (or UTC time
        bucket) over the query's full match set; NULL values are
        excluded."""
        op = FacetCounts(field)
        plan = plan_bool(self, should, filter_q, must_not, meta=meta,
                         need=op.cols)
        return {} if plan is None else self._facet_counts(plan, op)

    def _facet_counts(self, plan, op) -> dict[str, int]:
        out: dict[str, int] = {}
        for part in self._bool_shards(plan, op):
            for v, n in zip(part["facet"], part["n"]):
                out[v] = out.get(v, 0) + int(n)
        return out

    def match_stats(self, should: str = "", filter_q: str = "",
                    must_not: str = "",
                    meta: dict | None = None) -> dict:
        """{n_matched, sum_dl, min_ts_us, max_ts_us} over the bool
        match set (docmap dl/ts per shard, nulls excluded from
        min/max)."""
        return self._match_stats(
            plan_bool(self, should, filter_q, must_not, meta=meta))

    def _match_stats(self, plan) -> dict:
        parts = ([] if plan is None
                 else list(self._bool_shards(plan, MatchStats())))
        lo = [p["min_ts"][0] for p in parts if p["min_ts"][0] is not None]
        hi = [p["max_ts"][0] for p in parts if p["max_ts"][0] is not None]
        # sum_dl is None (SQL NULL) for an empty match set — the exact
        # contract of the Spark tier's F.sum and the oracle's sum()
        return {"n_matched": sum(p["n"][0] for p in parts),
                "sum_dl": (sum(p["sum_dl"][0] for p in parts)
                           if parts else None),
                "min_ts_us": min(lo) if lo else None,
                "max_ts_us": max(hi) if hi else None}

    def search_collapsed(self, should: str = "", filter_q: str = "",
                         must_not: str = "", k: int = 10,
                         meta: dict | None = None, field: str = "role"
                         ) -> list[tuple[str, str, float]]:
        """Field-collapsed top-k (field_value, doc_id, score): the best
        hit per docmap field value under (round(score, ORDER_DP) desc,
        doc_id asc), then the top-k values in that order."""
        op = Collapse(field)
        plan = plan_bool(self, should, filter_q, must_not, meta=meta,
                         need=op.cols)
        return [] if plan is None else self._collapse(plan, op, int(k))

    def _collapse(self, plan, op, k: int) -> list[tuple[str, str, float]]:
        import pyarrow as pa

        parts = [pa.table(p) for p in self._bool_shards(plan, op)
                 if p["doc_id"]]  # all-NULL shards have no partial rows
        if not parts:
            return []
        best = best_per_value(pa.concat_tables(parts)).slice(0, k)
        return list(zip(*(best.column(c).to_pylist()
                          for c in ("collapse", "doc_id", "score"))))

    def _texts_for(self, ids: list[str]) -> dict[str, str]:
        """doc_id → text for a bounded id set via the configured
        docstore parquet (the transcripts source itself). A production
        deployment fronts a KV doc store; this is its parquet analogue:
        a conv_id IN (...) predicate pushed into the scan (row-group
        statistics prune when the store is laid out by conversation),
        then exact (conv, turn) selection. Never more than the page's
        conversations are read; hot texts ride a small LRU."""
        if self.docstore is None:
            raise ValueError(
                "no docstore configured — pass docstore= (transcripts "
                "parquet path) to LocalSearcher, or supply text_of=")
        out: dict[str, str] = {}
        miss: list[tuple[str, int, str]] = []
        for d in ids:
            cached = self._text_cache.get(d)
            if cached is not None:
                self._text_cache.move_to_end(d)
                out[d] = cached
            else:
                conv, _, turn = d.rpartition(":")
                miss.append((conv, int(turn), d))
        if miss:
            import pyarrow.dataset as pads

            if self._docstore_ds is None:
                self._docstore_ds = pads.dataset(self.docstore,
                                                 format="parquet")
            convs = sorted({c for c, _, _ in miss})
            t = self._docstore_ds.to_table(
                columns=["conv_id", "turn_idx", "text"],
                filter=pads.field("conv_id").isin(convs))
            want = {(c, i): d for c, i, d in miss}
            for c, i, x in zip(t.column("conv_id").to_pylist(),
                               t.column("turn_idx").to_pylist(),
                               t.column("text").to_pylist()):
                d = want.get((c, int(i)))
                if d is not None:
                    out[d] = x
                    self._text_cache[d] = x
            while len(self._text_cache) > self.text_cache_max:
                self._text_cache.popitem(last=False)
        return out

    def highlight(self, query: str, k: int = 10, window: int = 12,
                  quantized: bool = False, meta: dict | None = None,
                  text_of=None) -> list[tuple[str, float, str, int]]:
        """Top-k with snippets on the serving path — the twin of
        IndexSearcher.highlight: (doc_id, score, snippet, n_hit) under
        the best-window rule (operators/highlight.py). Texts come from
        ``text_of`` (a dict or callable) when given, else the
        constructor's docstore parquet — either way the fetch is
        bounded to the k hit ids, never the corpus."""
        from geospatial_spark.operators.highlight import highlight_text_py

        hits = self.search(query, k, quantized=quantized, meta=meta)
        if not hits:
            return []
        ids = [d for d, _ in hits]
        if text_of is None:
            texts = self._texts_for(ids)
        elif callable(text_of):
            texts = {d: text_of(d) or "" for d in ids}
        else:
            texts = {d: text_of.get(d, "") for d in ids}
        norm = self.manifest.get("normalization") or {}
        qterms = sorted({norm.get(t, t) for t in tokenize_py(query)})
        return [(d, s, *highlight_text_py(texts.get(d, ""), qterms, window))
                for d, s in hits]

    def _ts_lookup(self):
        """doc_id → ts_us resolver over every generation's docmap,
        ARROW-backed (one concatenated doc_id column + an int64 numpy
        ts array — a few tens of bytes per doc, no per-entry python
        dict overhead): the same column-shaped working set the tier's
        docmap cache already assumes, lazily built once. Returns a
        callable doc_id → ts_us|None; v1 docmaps contribute None."""
        if self._ts_cache is None:
            import numpy as np
            import pyarrow as pa
            import pyarrow.parquet as pq

            id_chunks, ts_parts = [], []
            for g in self.gens:
                for s in g["shards"]:
                    key = (g["id"], int(s["shard"]))
                    if key not in self.docmap_files:
                        continue
                    pf = pq.ParquetFile(
                        self.gdirs[g["id"]] / self.docmap_files[key])
                    names = pf.schema_arrow.names
                    cols = ["doc_id"] + (["ts_us"] if "ts_us" in names
                                         else [])
                    t = pf.read(columns=cols)
                    id_chunks.append(t.column("doc_id"))
                    if "ts_us" in cols:
                        ts_parts.append(
                            t.column("ts_us").to_numpy(
                                zero_copy_only=False).astype("float64"))
                    else:
                        ts_parts.append(np.full(t.num_rows, np.nan))
            if id_chunks:
                ids = pa.chunked_array(id_chunks).combine_chunks() \
                        .to_numpy(zero_copy_only=False).astype("U")
                ts = np.concatenate(ts_parts)
            else:
                ids = np.empty(0, dtype="U1")
                ts = np.empty(0)
            order = np.argsort(ids, kind="stable")
            self._ts_cache = _TsIndex(ids[order], ts[order])
        return self._ts_cache

    def search_rescored(self, query: str, rescore_query: str,
                        k: int = 10, window: int = 50,
                        query_weight: float = 1.0,
                        rescore_weight: float = 1.0
                        ) -> list[tuple[str, float]]:
        """Rescore window on the serving path — the twin of
        IndexSearcher.search_rescored (same pinned contract: window cut
        from the full base ranking under rounded-score/doc_id order,
        secondary = the rescore query's exact BM25 on window docs)."""
        from geospatial_spark.functions.oracle_sql import ORDER_DP

        base = self.search(query, max(self.n_docs, 1))
        if not base:
            return []
        win = sorted(base, key=lambda h: (-round(h[1], ORDER_DP), h[0]))
        win = win[:int(window)]
        sec = dict(self.search(rescore_query, max(self.n_docs, 1)))
        qw, rw = float(query_weight), float(rescore_weight)
        comb = [(d, qw * s + rw * sec.get(d, 0.0)) for d, s in win]
        comb.sort(key=lambda h: (-round(h[1], ORDER_DP), h[0]))
        return comb[:int(k)]

    def search_decayed(self, query: str, k: int = 10,
                       half_life_s: float = 604_800.0,
                       origin_us: int | None = None
                       ) -> list[tuple[str, float]]:
        """Recency-decayed top-k on the serving path — the twin of
        IndexSearcher.search_decayed: score' = BM25 · 0.5^(max(0,
        origin − ts)/half_life), ts from docmap ts_us, missing ts →
        multiplier 1. Exact (every matching doc scored, the
        function_score contract)."""
        if origin_us is None:
            raise ValueError("search_decayed requires origin_us (the "
                             "decay origin in epoch microseconds)")
        hits = self.search(query, max(self.n_docs, 1))  # ALL matches
        if not hits:
            return []
        ts_of = self._ts_lookup().batch([d for d, _ in hits])
        hl, org = float(half_life_s), int(origin_us)
        out = []
        for (d, s), t in zip(hits, ts_of):
            mult = (1.0 if t is None
                    else 0.5 ** (max(0.0, (org - t) / 1e6) / hl))
            conv, _, turn = d.rpartition(":")
            out.append((-s * mult, conv, int(turn), d))
        out.sort()
        return [(d, -neg) for neg, _, _, d in out[:int(k)]]

    def mlt_terms(self, text: str, max_query_terms: int = 25,
                  min_term_freq: int = 1,
                  min_doc_freq: int = 2) -> list[str]:
        """Serving twin of IndexSearcher.mlt_terms (same pinned
        selection: operators/expand.select_mlt_terms)."""
        from collections import Counter

        from geospatial_spark.operators.expand import select_mlt_terms

        norm = self.manifest.get("normalization") or {}
        tf = Counter(norm.get(t, t) for t in tokenize_py(text))
        dfg = self._df_for(sorted(tf))
        return select_mlt_terms(tf, dfg, self.n_docs, max_query_terms,
                                min_term_freq, min_doc_freq)

    def more_like_this(self, doc_id: str, k: int = 10,
                       max_query_terms: int = 25, min_term_freq: int = 1,
                       min_doc_freq: int = 2, include: bool = False,
                       text_of=None) -> list[tuple[str, float]]:
        """more_like_this on the serving path — the twin of
        IndexSearcher.more_like_this: source text from ``text_of`` (dict
        or callable) or the constructor's docstore, top tf·idf terms,
        plain BM25 should-OR, source doc dropped unless include."""
        if text_of is None:
            text = self._texts_for([doc_id]).get(doc_id)
        elif callable(text_of):
            text = text_of(doc_id)
        else:
            text = text_of.get(doc_id)
        if text is None:
            return []
        terms = self.mlt_terms(text, max_query_terms, min_term_freq,
                               min_doc_freq)
        if not terms:
            return []
        hits = self.search("", k if include else k + 1, terms=terms)
        if not include:
            hits = [h for h in hits if h[0] != doc_id][:int(k)]
        return hits

    def _docmap_column(self, gen_id: str, shard: int, name: str):
        """One docmap column of a (gen, shard) through the docmap cache
        (None when the docmap predates the column): doc_id resolves
        kernel ordinals, and role / ts_us / dl feed the metadata mask
        and the bool-family reducers. Preloaded with doc_id when
        preload_docmaps=True."""
        key = (gen_id, shard, name)
        if key not in self._docmap_cache:
            self._docmap_cache[key] = read_docmap_column(
                self.gdirs[gen_id] / self.docmap_files[(gen_id, shard)],
                name)
        return self._docmap_cache[key]

    def locate_doc(self, doc_id: str) -> tuple[str, int, int] | None:
        """(generation, shard, shard-local ordinal) of a doc, or None.
        Probes docmap doc_id columns shard by shard through the serving
        docmap cache — the serving tier's normal per-shard working set
        (the Spark tier's IndexSearcher.locate_doc additionally
        hash-routes fresh builds to one shard)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        for g in self.gens:
            for s in g["shards"]:
                sh = int(s["shard"])
                if (g["id"], sh) not in self.docmap_files:
                    continue
                idx = pc.index(self._docmap_column(g["id"], sh, "doc_id"),
                               pa.scalar(doc_id)).as_py()
                if idx >= 0:
                    return g["id"], sh, int(idx)
        return None

    def explain(self, query: str, doc_id: str,
                quantized: bool = False) -> dict | None:
        """Score explanation for one (query, doc) pair on the serving
        path — the twin of IndexSearcher.explain (operators/explain.py):
        per-term {term, tf, dl, df, idf, contribution} decoded from the
        doc's own (generation, shard) term rows (one posting block per
        term), plus the exact total. None when the doc isn't indexed."""
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
            reader = self._reader(gen_id)
            cols = ["shard", "term", "doc_blocks", "tf_blocks",
                    "dl_blocks", "block_last_doc"]
            rows = [r for r in reader._read_file(
                        reader._shard_file[shard], list(df_global), cols)
                    if int(r["shard"]) == shard]
            entries = explain_entries(
                rows, (shard << ORD_SHARD_SHIFT) + ordn, df_global,
                self.n_docs, self.avgdl, quantized=quantized)
        return {"doc_id": doc_id, "generation": gen_id, "shard": shard,
                "ordinal": ordn, "entries": entries,
                "score": float(sum(e["contribution"] for e in entries))}


class _TsIndex:
    """Column-compact doc_id → ts_us resolver (sorted numpy string
    array + aligned float array with NaN for missing): O(log n)
    searchsorted probes, batchable, no per-entry python objects — the
    decay path's corpus-wide lookup at docmap-column memory cost."""

    def __init__(self, ids_sorted, ts_sorted):
        self._ids = ids_sorted
        self._ts = ts_sorted

    def get(self, doc_id: str):
        import numpy as np

        i = int(np.searchsorted(self._ids, doc_id))
        if i >= len(self._ids) or self._ids[i] != doc_id \
                or np.isnan(self._ts[i]):
            return None
        return int(self._ts[i])

    def batch(self, doc_ids: list[str]):
        """ts_us|None per id, one vectorized searchsorted pass."""
        import numpy as np

        if not len(self._ids):
            return [None] * len(doc_ids)
        probe = np.asarray(doc_ids, dtype="U")
        idx = np.clip(np.searchsorted(self._ids, probe), 0,
                      len(self._ids) - 1)
        hit = self._ids[idx] == probe
        out = []
        for ok, i in zip(hit, idx):
            v = self._ts[i]
            out.append(int(v) if ok and not np.isnan(v) else None)
        return out

    def max_ts(self):
        import numpy as np

        return (None if not len(self._ts) or np.isnan(self._ts).all()
                else int(np.nanmax(self._ts)))


class _SegmentReader:
    """Row-group-pruned reader over one generation's segment files —
    the serving-grade I/O path. We own the format (term-sorted rows,
    256-row row groups, per-column statistics), so a term read touches
    exactly the row groups whose [min,max] term range can hold a query
    term: I/O ∝ matched postings, with none of the generic dataset-scan
    overhead (~3 ms/file of fragment/stat evaluation). A read is one
    serial pass per generation: the candidate row groups of every file,
    then one term filter and one row conversion over all of them."""

    def __init__(self, gdir, shard_files: dict[int, "Path"] | None = None):
        from pathlib import Path as _P

        self.gdir = _P(gdir)
        if shard_files is not None:
            # manifest-recorded names (storage adapter contract)
            self._shard_file = dict(shard_files)
            self.files = sorted(self._shard_file.values())
        else:
            self.files = sorted(self.gdir.glob("segments-*.parquet"))
            self._shard_file = {int(p.stem.split("-")[1]): p for p in self.files}
        self._pf: dict = {}
        self.schema_names: list[str] = []
        if self.files:
            import pyarrow.parquet as pq

            self.schema_names = list(
                pq.ParquetFile(self.files[0]).schema_arrow.names)

    def _file(self, path):
        ent = self._pf.get(path)
        if ent is None:
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(path)
            md = pf.metadata
            term_idx = None
            rg0 = md.row_group(0) if md.num_row_groups else None
            if rg0 is not None:
                for j in range(rg0.num_columns):
                    if rg0.column(j).path_in_schema == "term":
                        term_idx = j
                        break
            mins, maxs = [], []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(term_idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            ent = (pf, mins, maxs)
            self._pf[path] = ent
        return ent

    def _groups(self, path, terms, columns):
        """One file's row groups whose term range can hold a query
        term, read unfiltered; None when no group can."""
        pf, mins, maxs = self._file(path)
        rgs = [i for i in range(len(mins))
               if any(mins[i] <= t <= maxs[i] for t in terms)]
        if not rgs:
            return None
        return pf.read_row_groups(rgs, columns=columns, use_threads=False)

    def _read_file(self, path, terms, columns):
        """Matched rows of one shard file (targeted fetch, explain)."""
        return _matched_rows([self._groups(path, terms, columns)], terms)

    def read_terms(self, terms, columns):
        """Matched rows for the given terms across all shard files."""
        cols = list(dict.fromkeys(["shard", "term"] + list(columns)))
        return _matched_rows(
            [self._groups(p, terms, cols) for p in self.files], terms)

    def make_fetch(self, shard: int, term: str, columns):
        """Targeted single-row heavy fetch: reads only the one shard
        file's matching row group(s)."""
        path = self._shard_file[shard]

        def fetch():
            rows = self._read_file(path, [term], list(columns))
            # fetched tails land in the (possibly cached) row — convert
            # impact streams once, same as the cache-fill path
            return _pythonize_streams(rows[0])

        return fetch


def _cell_bytes(v) -> int:
    """Approximate retained bytes of one row cell: exact for the big
    things (numpy buffers, bytes, python block lists, pyarrow-backed
    list scalars via Array.nbytes), flat floor for scalars/None."""
    if v is None:
        return 8
    if isinstance(v, (bytes, bytearray, memoryview)):
        return len(v)
    if isinstance(v, np.ndarray):
        return int(v.nbytes)
    if isinstance(v, (list, tuple)):
        return 64 + sum(_cell_bytes(x) for x in v)
    vals = getattr(v, "values", None)  # pyarrow ListScalar
    nb = getattr(vals, "nbytes", None)
    if nb is not None:
        return int(nb)
    return 64


def _entry_bytes(rows: list[dict]) -> int:
    total = 512  # entry overhead floor
    for r in rows:
        for v in r.values():
            total += _cell_bytes(v)
    return total


_IMPACT_STREAM_COLS = ("imp_head_doc_blocks", "imp_head_tf_blocks",
                       "imp_head_dl_blocks", "imp_tail_doc_blocks",
                       "imp_tail_tf_blocks", "imp_tail_dl_blocks")


def _pythonize_streams(r: dict) -> dict:
    """Convert a row's IMPACT stream cells from pyarrow scalars to
    plain bytes lists, once, at term-cache fill. The saturated-multi-hot
    bulk path decodes impact streams WHOLE, where per-block
    BinaryScalar→bytes conversion was the measured cost (~150k scalar
    calls per query at sf0.1); converting here amortizes it across the
    cache hits. Doc-ordered streams stay zero-copy — block-max pruning
    usually decodes a small fraction of them."""
    for c in _IMPACT_STREAM_COLS:
        v = r.get(c)
        if v is not None and not isinstance(v, list):
            r[c] = [x.as_py() if hasattr(x, "as_py") else bytes(x)
                    for x in v]
    return r


def _matched_rows(parts, terms) -> list[dict]:
    """Row dicts of the given terms from candidate row-group tables
    (None parts skipped): one concat, one term filter, one conversion."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = [t for t in parts if t is not None]
    if not parts:
        return []
    t = pa.concat_tables(parts)
    t = t.filter(pc.is_in(t.column("term"), value_set=pa.array(terms)))
    return _rows_zero_copy(t)


def _rows_zero_copy(t) -> list[dict]:
    """Table → row dicts WITHOUT to_pylist's linear materialization:
    numeric list cells become zero-copy numpy slices, binary list cells
    stay pyarrow ListScalars (the scorer converts only the blocks it
    actually decodes — for a hot term that is a handful out of
    thousands), null cells become None."""
    import pyarrow as pa

    rows: list[dict] = [{} for _ in range(t.num_rows)]
    for name, col in zip(t.column_names, t.columns):
        typ = col.type
        # chunk by chunk (one per source row group): no combine copy,
        # and no int32 offset limit on a term's rows summed over shards
        start = 0
        for arr in col.chunks:
            out = rows[start:start + len(arr)]
            start += len(arr)
            if pa.types.is_list(typ) and not pa.types.is_binary(
                    typ.value_type):
                valid = arr.is_valid().to_numpy(zero_copy_only=False)
                offs = arr.offsets.to_numpy()
                vals = arr.values.to_numpy(zero_copy_only=False)
                for i, row in enumerate(out):
                    row[name] = (vals[offs[i]:offs[i + 1]]
                                 if valid[i] else None)
            elif pa.types.is_list(typ):
                for i, row in enumerate(out):
                    cell = arr[i]
                    row[name] = cell if cell.is_valid else None
            else:
                for row, v in zip(out, arr.to_pylist()):
                    row[name] = v
    return rows
