"""Resumable inverted-index build job.

Pipeline (SURVEY.md §3.1 lifecycle equivalent):

  read transcripts → validate → deterministic hash-bucket docs into
  shards (xxhash64 mod n_shards) → per-shard kernel (applyInPandas,
  Arrow batches): sort → fingerprint → [skip if checkpointed] →
  vectorized tokenize →
  tf via pandas groupby → delta-gap + varint FOR-block encode with
  block-max metadata → atomic parquet write + checkpoint JSON →
  metrics row → driver aggregates stats → publish manifest LAST.

Scale design (10^12 turns / 100 TB):
  * Shards partition DOCS, not terms — the OpenSearch shard model. A
    hot term's postings are spread uniformly over all shards, so no
    single executor ever materializes a global posting list: term-key
    skew is eliminated structurally (the north rule's salted-key
    handling; an explicit salted agg utility also exists in
    operators/grid.py for term-keyed shuffles like the dictionary).
  * One wide shuffle total (the hash bucketing — no sampling pass, no
    second input scan); tokenize/tf/encode are shard-local. Shard count
    is the operator's memory knob: size so a shard's text fits a worker
    (~docs_per_shard × avg_text). Hash assignment is a pure row
    function: re-runs land byte-identical shards (resume-stable) and
    hot conversations spread uniformly (no range-boundary skew).
  * Checkpoint fingerprint = hash of shard content in stable order;
    re-run after a kill skips finished shards
    (DatasourceUpdateService.shouldUpdate sha256 analogue, :282-292).
  * All files land in gen-<id>/; root manifest.json swaps last
    (setupIndex/updateDatasourceAsSucceeded analogue).
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geospatial_spark.functions.tokenize import tokenize_encoded
from geospatial_spark.plans import lifecycle as lc
from geospatial_spark.schemas import BUILD_METRIC_SCHEMA
from geospatial_spark.sources.transcripts import with_doc_id

ORD_SHARD_SHIFT = 40  # doc_ord = (shard << 40) | local_idx

DICT_SALTS = 16  # salt fan-out for the term-keyed dictionary aggregation


def _build_dictionary(spark: SparkSession, gdir: Path, n_shards: int,
                      seg_files: list[str] | None = None,
                      mode: str = lc.STORAGE_POSIX) -> tuple[int, list[str] | None]:
    """Global term dictionary: term → df (sum of shard-local dfs).

    The one term-KEYED shuffle in the engine, so it gets explicit
    salted-key skew handling (north rule): stage 1 aggregates on
    (term, salt) — a hot term's rows spread over DICT_SALTS reducers —
    stage 2 merges the salt partials. (The postings themselves never
    shuffle on term: the doc-sharded layout spreads hot terms
    structurally.) Input is already pre-aggregated to ≤ n_shards rows
    per term, so this is metadata-sized at any corpus scale.
    """
    if seg_files:
        # manifest-recorded names (the put-mode contract: never list)
        seg = spark.read.parquet(*[str(gdir / f) for f in seg_files])
    else:
        seg = spark.read.parquet(str(gdir / "segments-*.parquet"))
    partial = (
        seg.withColumn("salt", F.pmod(F.col("shard"), F.lit(DICT_SALTS)))
        .groupBy("term", "salt")
        .agg(F.sum("df").alias("df"), F.max("max_tf").alias("max_tf"),
             F.max(F.when(F.col("imp_sky_off").isNotNull(), 1)
                   .otherwise(0)).alias("has_imp"))
    )
    dictionary = partial.groupBy("term").agg(
        F.sum("df").cast("long").alias("df"),
        F.max("max_tf").cast("int").alias("max_tf"),
        # any shard holding an impact copy ⇒ serving reads this term
        # light-first (imp_head) instead of prefetching its doc streams
        F.max("has_imp").cast("int").alias("has_imp"),
    )
    out = gdir / "dictionary"
    ncoal = max(1, n_shards // 16)
    if mode == lc.STORAGE_PUT:
        # object-store landing: Spark's parquet committer stages under
        # _temporary/ and RENAMES on commit — the one operation the put
        # protocol bans. Each partition lands once under a unique
        # content-tokenized name (idempotent re-PUT on retry: same
        # content → same name), and the manifest records the names so
        # readers never list the directory.
        out.mkdir(parents=True, exist_ok=True)
        out_str = str(out)

        def write_part(it):
            import hashlib as _hl
            import os as _os

            import pandas as _pd
            import pyarrow as _pa
            import pyarrow.parquet as _pq

            for pdf in it:
                if len(pdf) == 0:
                    continue
                pdf = pdf.sort_values("term").reset_index(drop=True)
                h = _hl.sha256()
                h.update("\x00".join(pdf["term"].astype(str)).encode())
                token = h.hexdigest()[:10]
                name = f"dict-{token}.parquet"
                # stage under a task-unique temp name, then an atomic
                # os.replace to the content-tokenized name: a speculative
                # or retried task writing the same name concurrently can
                # no longer interleave writes into a torn parquet file.
                # (Local staging only — the object-store adapter still
                # sees a single PUT of the final name.)
                tmp = _os.path.join(
                    out_str, f".{name}.tmp-{_os.getpid()}-{id(pdf)}")
                _pq.write_table(
                    _pa.Table.from_pandas(pdf, preserve_index=False), tmp)
                _os.replace(tmp, _os.path.join(out_str, name))
                yield _pd.DataFrame({"file": [name], "rows": [len(pdf)]})

        parts = (dictionary.coalesce(ncoal)
                 .mapInPandas(write_part, "file string, rows long")
                 .collect())
        by_file = {r["file"]: int(r["rows"]) for r in parts}  # retry-dedup
        return sum(by_file.values()), sorted(by_file)

    dictionary.coalesce(ncoal).write.mode("overwrite").parquet(str(out))
    # term count from parquet footers (no extra Spark job)
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in out.glob("*.parquet")), None


def _fingerprint(doc_ids: pd.Series, texts: pd.Series,
                 config_digest: str = "",
                 roles: pd.Series | None = None,
                 ts_us: pd.Series | None = None) -> str:
    """Stable content hash of a shard (order-sensitive; shards arrive
    sorted by (conv_id, turn_idx)). config_digest folds in build config
    that changes the output (e.g. the normalization dictionary) so a
    config change invalidates checkpoints. role/ts ride in the hash
    because they land in the docmap (metadata-filter side table): a
    metadata-only change must invalidate the shard's checkpoint."""
    h = hashlib.sha256()
    h.update(config_digest.encode())
    h.update(pd.util.hash_pandas_object(doc_ids, index=False).values.tobytes())
    h.update(pd.util.hash_pandas_object(texts.fillna(""), index=False).values.tobytes())
    if roles is not None:
        h.update(pd.util.hash_pandas_object(
            roles.fillna(""), index=False).values.tobytes())
    if ts_us is not None:
        h.update(pd.util.hash_pandas_object(
            pd.to_numeric(ts_us, errors="coerce").fillna(-1).astype("int64"),
            index=False).values.tobytes())
    return h.hexdigest()


def _config_digest(normalization: dict[str, str] | None,
                   hot_df_copy: int = 0, store_positions: bool = True) -> str:
    h = hashlib.sha256()
    if normalization:
        for k in sorted(normalization):
            h.update(f"{k}\x01{normalization[k]}\x02".encode())
    h.update(f"pos={int(store_positions)}".encode())
    # the impact-copy threshold changes segment bytes → a different value
    # must invalidate checkpoints (old segments would lack/mis-size the
    # impact streams)
    h.update(f"hot={int(hot_df_copy)}".encode())
    # segment format version: v2 added the positions stream — a resumed
    # v1 checkpoint would silently skip shards whose files lack
    # pos_blocks, so the version rides in the fingerprint
    h.update(b"fmt=4")  # v3: tiered impact skylines; v4: docmap role/ts_us
    return h.hexdigest()


# per-shard df at/above which a term ALSO gets an impact-ordered posting
# copy (the hot-term early-termination path). Measured crossover on this
# hardware: below ~8k postings/shard, reading + bulk-decoding the whole
# doc-ordered stream (with chunked-θ block skipping) is cheaper than the
# hot path's per-term setup — the copy only pays once a term's stream is
# big enough that its I/O dominates. Terms above it get ~flat query cost
# in df (see BENCH/HOT_TERM.md); terms below it were never the problem.
HOT_DF_COPY = 8192

# impact blocks stored eagerly readable (the "head"); the rest of the
# impact stream lands in separate tail columns a serving reader only
# fetches when discovery overruns the head (rare: the head holds the
# 2048 highest-impact postings of the shard)
IMPACT_HEAD_BLOCKS = 16


def _tier_summaries(is_tf, is_dl, is_off, head_blocks: int):
    """Geometric TIER summaries over the impact stream's tail blocks
    (format v3). Tier t covers a doubling run of consecutive impact
    blocks; its summary is the dominance-pruned skyline of the member
    blocks' skyline points — an EXACT upper bound for every posting in
    the tier under ANY (k1, b, avgdl), computed at query time like the
    per-block bounds. Metadata per hot term becomes O(head + log df)
    instead of O(df / BLOCK); discovery decodes tail tiers whole (the
    doubling bounds amplification at 2×).

    Returns (tier_end_blocks, sky_tf, sky_dl, sky_off) — empty lists
    when the stream fits in the head."""
    from geospatial_spark.functions.codec import _block_skyline

    nblocks = len(is_off) - 1
    tends: list[int] = []
    ttf: list[int] = []
    tdl: list[int] = []
    toff: list[int] = [0]
    start = head_blocks
    width = head_blocks
    is_tf = np.asarray(is_tf, dtype=np.int64)
    is_dl = np.asarray(is_dl, dtype=np.int64)
    while start < nblocks:
        end = min(start + width, nblocks)
        lo, hi = int(is_off[start]), int(is_off[end])
        s_tf, s_dl = _block_skyline(is_tf[lo:hi], is_dl[lo:hi])
        ttf.extend(int(x) for x in s_tf)
        tdl.extend(int(x) for x in s_dl)
        toff.append(len(ttf))
        tends.append(end)
        start = end
        width *= 2
    if not tends:
        return [], [], [], [0]
    return tends, ttf, tdl, toff


def _seg_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("shard", pa.int32()),
            ("term", pa.string()),
            ("df", pa.int32()),
            ("max_tf", pa.int32()),
            ("min_dl", pa.int32()),
            ("doc_blocks", pa.list_(pa.binary())),
            ("tf_blocks", pa.list_(pa.binary())),
            ("dl_blocks", pa.list_(pa.binary())),
            ("pos_blocks", pa.list_(pa.binary())),
            ("block_max_tf", pa.list_(pa.int32())),
            ("block_min_dl", pa.list_(pa.int32())),
            ("block_last_doc", pa.list_(pa.int64())),
            ("sky_tf", pa.list_(pa.int32())),
            ("sky_dl", pa.list_(pa.int32())),
            ("sky_off", pa.list_(pa.int32())),
            ("imp_head_doc_blocks", pa.list_(pa.binary())),
            ("imp_head_tf_blocks", pa.list_(pa.binary())),
            ("imp_head_dl_blocks", pa.list_(pa.binary())),
            ("imp_tail_doc_blocks", pa.list_(pa.binary())),
            ("imp_tail_tf_blocks", pa.list_(pa.binary())),
            ("imp_tail_dl_blocks", pa.list_(pa.binary())),
            ("imp_sky_tf", pa.list_(pa.int32())),
            ("imp_sky_dl", pa.list_(pa.int32())),
            ("imp_sky_off", pa.list_(pa.int32())),
            # v3: geometric tier summaries over the impact tail
            ("imp_tier_ends", pa.list_(pa.int32())),
            ("imp_tier_sky_tf", pa.list_(pa.int32())),
            ("imp_tier_sky_dl", pa.list_(pa.int32())),
            ("imp_tier_sky_off", pa.list_(pa.int32())),
        ]
    )


def _bin_list_column(buf: bytes, byte_offsets, list_offsets):
    """list<binary> column assembled ZERO-COPY over one shared stream
    buffer: byte_offsets are the per-block boundaries into buf,
    list_offsets the per-term block boundaries. A shard's stream must
    stay < 2 GiB (int32 offsets) — shard count is the sizing knob."""
    import pyarrow as pa

    vo = byte_offsets.astype(np.int32)
    values = pa.Array.from_buffers(
        pa.binary(), len(vo) - 1,
        [None, pa.py_buffer(vo.tobytes()), pa.py_buffer(buf)])
    return pa.ListArray.from_arrays(pa.array(list_offsets.astype(np.int32)),
                                    values)


def _int_list_column(values, list_offsets, dtype):
    import pyarrow as pa

    return pa.ListArray.from_arrays(
        pa.array(list_offsets.astype(np.int32)),
        pa.array(values.astype(dtype)))


def encode_runs_to_segments(shard: int, terms_sorted, starts, ends,
                            docs_arr, tfs_arr, dls_arr, pos_flat,
                            run_tok_bounds, avgdl_local: float,
                            hot_df_copy: int = HOT_DF_COPY):
    """pos_flat may be None (store_positions=False builds): the
    pos_blocks column is then all-null and phrase/proximity queries are
    refused driver-side."""
    """(term, doc) runs (term-major, doc asc, positions flat per token)
    → one shard's segment table. Shared by the tokenize build path and
    the segment-merge compaction path (which reconstructs runs from
    decoded generations instead of raw text). Returns
    (segments pa.Table, n_postings, n_bytes)."""
    import pyarrow as pa

    from geospatial_spark.functions.codec import (
        encode_impact_posting,
        encode_shard_streams,
    )

    st = encode_shard_streams(docs_arr, tfs_arr, dls_arr, starts, ends,
                              positions=pos_flat,
                              run_tok_bounds=run_tok_bounds)
    n_postings = int(len(docs_arr))
    n_terms = st["n_terms"]
    fb = st["first_block"]  # int64[n_terms+1]
    n_bytes = (len(st["doc_buf"]) + len(st["tf_buf"]) + len(st["dl_buf"])
               + (len(st["pos_buf"]) if st["pos_buf"] is not None else 0))

    # ---- impact-ordered copies for hot terms (few) -------------------
    imp = {k: [None] * n_terms for k in
           ("hd", "ht", "hl", "td", "tt", "tl", "stf", "sdl", "soff",
            "tends", "ttf", "tdl", "toff")}
    if hot_df_copy:
        local_idx_all = (docs_arr.astype(np.int64)
                         & ((np.int64(1) << ORD_SHARD_SHIFT) - 1))
        H = IMPACT_HEAD_BLOCKS
        for ti in np.flatnonzero((ends - starts) >= hot_df_copy):
            s, e = int(starts[ti]), int(ends[ti])
            # impact-ordered copy: the early-termination path that
            # keeps saturated stopword queries sublinear in df; the
            # stream is head/tail-split so serving readers can skip
            # the tail (and doc-ordered) bytes of hot terms
            (idb, itb, ilb, is_tf, is_dl, is_off) = encode_impact_posting(
                local_idx_all[s:e],
                tfs_arr[s:e].astype(np.int64),
                dls_arr[s:e].astype(np.int64),
                avgdl_local,
            )
            n_bytes += (sum(len(x) for x in idb) + sum(len(x) for x in itb)
                        + sum(len(x) for x in ilb))
            imp["hd"][ti], imp["td"][ti] = idb[:H], idb[H:]
            imp["ht"][ti], imp["tt"][ti] = itb[:H], itb[H:]
            imp["hl"][ti], imp["tl"][ti] = ilb[:H], ilb[H:]
            # format v3: per-block skylines for the HEAD only; the tail
            # is summarized into geometric TIERS (union skylines) so a
            # hot term's bound metadata is O(head + log df), not
            # O(df / BLOCK) — the measured serve-latency growth term
            h_end = min(H, len(is_off) - 1)
            imp["stf"][ti] = is_tf[:is_off[h_end]]
            imp["sdl"][ti] = is_dl[:is_off[h_end]]
            imp["soff"][ti] = is_off[:h_end + 1]
            (imp["tends"][ti], imp["ttf"][ti],
             imp["tdl"][ti], imp["toff"][ti]) = _tier_summaries(
                is_tf, is_dl, is_off, H)

    # ---- zero-copy Arrow assembly -------------------------------------
    nb_per_term = fb[1:] - fb[:-1]
    sb = st["sky_bo"]
    # sky_off column: per term, the block skyline offsets LOCALIZED
    # to the term (sb[b0..b1] − sb[b0]), flattened
    reps = nb_per_term + 1
    pos_in_term = np.arange(int(reps.sum())) - np.repeat(
        np.concatenate(([0], np.cumsum(reps)[:-1])), reps)
    idx = np.repeat(fb[:-1], reps) + pos_in_term
    sky_off_vals = sb[idx] - np.repeat(sb[fb[:-1]], reps)
    sky_off_offsets = np.concatenate(([0], np.cumsum(reps)))

    cols = [
        pa.array(np.full(n_terms, shard, dtype=np.int32)),
        pa.array(terms_sorted),
        pa.array((ends - starts).astype(np.int32)),
        pa.array(np.maximum.reduceat(st["bmax_tf"], fb[:-1]).astype(np.int32)),
        pa.array(np.minimum.reduceat(st["bmin_dl"], fb[:-1]).astype(np.int32)),
        _bin_list_column(st["doc_buf"], st["doc_bo"], fb),
        _bin_list_column(st["tf_buf"], st["tf_bo"], fb),
        _bin_list_column(st["dl_buf"], st["dl_bo"], fb),
        (_bin_list_column(st["pos_buf"], st["pos_bo"], fb)
         if st["pos_buf"] is not None
         else pa.nulls(n_terms, type=pa.list_(pa.binary()))),
        _int_list_column(st["bmax_tf"], fb, np.int32),
        _int_list_column(st["bmin_dl"], fb, np.int32),
        _int_list_column(st["blast"], fb, np.int64),
        _int_list_column(st["sky_tf"], sb[fb], np.int32),
        _int_list_column(st["sky_dl"], sb[fb], np.int32),
        _int_list_column(sky_off_vals, sky_off_offsets, np.int32),
        pa.array(imp["hd"], type=pa.list_(pa.binary())),
        pa.array(imp["ht"], type=pa.list_(pa.binary())),
        pa.array(imp["hl"], type=pa.list_(pa.binary())),
        pa.array(imp["td"], type=pa.list_(pa.binary())),
        pa.array(imp["tt"], type=pa.list_(pa.binary())),
        pa.array(imp["tl"], type=pa.list_(pa.binary())),
        pa.array(imp["stf"], type=pa.list_(pa.int32())),
        pa.array(imp["sdl"], type=pa.list_(pa.int32())),
        pa.array(imp["soff"], type=pa.list_(pa.int32())),
        pa.array(imp["tends"], type=pa.list_(pa.int32())),
        pa.array(imp["ttf"], type=pa.list_(pa.int32())),
        pa.array(imp["tdl"], type=pa.list_(pa.int32())),
        pa.array(imp["toff"], type=pa.list_(pa.int32())),
    ]
    return pa.Table.from_arrays(cols, schema=_seg_schema()), n_postings, n_bytes


def _encode_shard(shard: int, doc_ids: pd.Series, texts: pd.Series,
                  normalization: dict[str, str] | None = None,
                  hot_df_copy: int = HOT_DF_COPY,
                  store_positions: bool = True,
                  roles: pd.Series | None = None,
                  ts_us: pd.Series | None = None):
    """Tokenize + posting encode one shard. Returns (segments pyarrow
    Table, docmap_df, stats dict). All hot paths vectorized; the
    segment table is assembled zero-copy from the bulk encoder's flat
    buffers (measured: python per-term row assembly cost more than the
    varint encode itself)."""
    import pyarrow as pa

    from geospatial_spark.functions.codec import encode_shard_streams

    n = len(doc_ids)
    # Arrow-native tokenize + dictionary encode: terms become int codes,
    # only the vocab is sorted/normalized (functions/tokenize.tokenize_encoded)
    codes, uniq_terms, flat_doc_idx, dl, flat_pos = tokenize_encoded(texts, normalization)
    doc_ords = (np.int64(shard) << ORD_SHARD_SHIFT) | np.arange(n, dtype=np.int64)
    flat_docs = doc_ords[flat_doc_idx] if len(flat_doc_idx) else np.empty(0, dtype=np.int64)
    flat_dls = dl[flat_doc_idx] if len(flat_doc_idx) else np.empty(0, dtype=np.int64)

    n_postings = 0
    n_bytes = 0
    schema = _seg_schema()
    segments = schema.empty_table()
    if len(codes):
        # all-numpy tf computation: int-code lexsort + run-length
        # segmentation (no object-dtype groupby, no string sort)
        order = np.lexsort((flat_docs, codes))
        tc = codes[order]
        dc = flat_docs[order]
        lc_ = flat_dls[order]
        # lexsort is stable → within a (term, doc) run, token order (and
        # therefore position order) is preserved ascending
        pc_ = flat_pos[order]
        # run boundaries of identical (term, doc) → tf = run length
        change = np.flatnonzero((tc[1:] != tc[:-1]) | (dc[1:] != dc[:-1])) + 1
        run_starts = np.concatenate(([0], change))
        run_ends = np.concatenate((change, [len(tc)]))
        tfs_arr = (run_ends - run_starts).astype(np.uint64)
        term_codes = tc[run_starts]
        docs_arr = dc[run_starts].astype(np.uint64)
        dls_arr = lc_[run_starts]
        # term boundaries over the (term, doc) runs
        tchange = np.flatnonzero(term_codes[1:] != term_codes[:-1]) + 1
        starts = np.concatenate(([0], tchange)).astype(np.int64)
        ends = np.concatenate((tchange, [len(term_codes)])).astype(np.int64)
        terms_sorted = uniq_terms[term_codes[starts]]
        run_tok_bounds = np.concatenate((run_starts, [len(tc)])).astype(np.int64)
        avgdl_local = float(dl.mean()) if n else 0.0
        segments, n_postings, n_bytes = encode_runs_to_segments(
            shard, terms_sorted, starts, ends, docs_arr, tfs_arr,
            dls_arr.astype(np.uint64),
            pc_ if store_positions else None,
            run_tok_bounds if store_positions else None,
            avgdl_local, hot_df_copy)

    docmap = pd.DataFrame(
        {
            "shard": np.full(n, shard, dtype=np.int32),
            "doc_ord": doc_ords,
            "doc_id": doc_ids.to_numpy(dtype=object),
            "dl": dl.astype(np.int32),
        }
    )
    # docmap v2: doc metadata rides the side table each query kernel
    # already opens locally — the metadata-filter path
    # (operators/metafilter.py) masks ordinals from these columns with
    # no shuffle and no postings read
    docmap["role"] = (roles.to_numpy(dtype=object) if roles is not None
                      else np.full(n, None, dtype=object))
    tsv = (pd.to_numeric(ts_us, errors="coerce").to_numpy(dtype="float64")
           if ts_us is not None else np.full(n, np.nan))
    docmap["ts_us"] = pd.array(tsv, dtype="Int64")
    stats = {
        "docs_tokenized": int(n),
        "postings_written": int(n_postings),
        "bytes_compressed": int(n_bytes),
        "total_tokens": int(dl.sum()),
    }
    return segments, docmap, stats


def _write_parquet(df: pd.DataFrame, path: Path,
                   mode: str = lc.STORAGE_POSIX) -> None:
    """Land one immutable parquet artifact through the storage adapter:
    posix → temp + os.replace (partial writes invisible); put → direct
    single-shot write to a unique content-tokenized name (the
    object-store protocol — no rename exists there; the checkpoint that
    records the name is the commit point)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path if mode == lc.STORAGE_PUT else path.with_suffix(".tmp")
    table = (df if isinstance(df, pa.Table)
             else pa.Table.from_pandas(df, preserve_index=False))
    # small row groups: terms are sorted within the file, so parquet
    # min/max stats let a query's term filter prune to the few row
    # groups that contain its terms. Row groups are ALSO capped by a
    # byte budget: parquet reads are row-group-granular per column, so
    # a fixed 256-row group containing one saturated term forces every
    # reader of a NEIGHBOR term to decode that term's whole byte stream
    # too (measured 10×+ serve-read amplification on merged shards).
    # The cap keeps read I/O ∝ matched postings + O(budget).
    if "doc_blocks" in table.column_names and table.num_rows:
        _write_row_groups(table, tmp)
    else:
        pq.write_table(table, tmp, row_group_size=256)
    if tmp is not path:
        os.replace(tmp, path)


SEG_ROW_GROUP_ROWS = 256
SEG_ROW_GROUP_BYTES = 1 << 20  # 1 MiB stream bytes per row group


def _row_bytes(table) -> np.ndarray:
    """Approximate stored bytes per row: the binary list columns'
    value lengths (the streams dominate; int metadata is noise)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    sizes = np.zeros(table.num_rows, dtype=np.int64)
    for name, col in zip(table.column_names, table.columns):
        if (pa.types.is_list(col.type)
                and pa.types.is_binary(col.type.value_type)):
            arr = col.combine_chunks()
            offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            elem = pc.binary_length(arr.values).to_numpy(zero_copy_only=False)
            cum = np.concatenate(([0], np.cumsum(elem, dtype=np.int64)))
            # null rows have equal adjacent offsets → contribute 0
            sizes += cum[offs[1:]] - cum[offs[:-1]]
    return sizes


def _write_row_groups(table, tmp) -> None:
    import pyarrow.parquet as pq

    sizes = _row_bytes(table)
    cum = np.concatenate(([0], np.cumsum(sizes, dtype=np.int64)))
    n = table.num_rows
    writer = pq.ParquetWriter(tmp, table.schema)
    try:
        start = 0
        while start < n:  # O(row groups), not O(rows)
            end_budget = int(np.searchsorted(
                cum, cum[start] + SEG_ROW_GROUP_BYTES, side="left"))
            end = min(start + SEG_ROW_GROUP_ROWS,
                      max(end_budget, start + 1), n)
            writer.write_table(table.slice(start, end - start))
            start = end
    finally:
        writer.close()


def _make_shard_builder(gdir_str: str, normalization: dict[str, str] | None = None,
                        hot_df_copy: int = HOT_DF_COPY,
                        storage: str = lc.STORAGE_POSIX,
                        store_positions: bool = True):
    """Returns the applyInPandas kernel. gdir + config passed by value
    (no driver globals captured by reference)."""

    cfg_digest = _config_digest(normalization, hot_df_copy, store_positions)

    def build_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        gdir = Path(gdir_str)

        # deterministic shard-local order (the fingerprint and the
        # in-shard doc_ord tie-break both depend on it); rows arrive in
        # arbitrary post-shuffle order
        data = (pdf[["conv_id", "turn_idx", "doc_id", "text", "role",
                     "ts_us"]]
                .sort_values(["conv_id", "turn_idx"], kind="mergesort")
                .reset_index(drop=True))

        fp = _fingerprint(data["doc_id"], data["text"], cfg_digest,
                          data["role"], data["ts_us"])
        cp_path = lc.checkpoint_path(gdir, shard)
        # put mode: unique content-derived name — deterministic (same
        # content re-PUTs the same object idempotently), never renamed
        token = fp[:10] if storage == lc.STORAGE_PUT else None
        seg_name = lc.segment_file(shard, token)
        dm_name = lc.docmap_file(shard, token)

        cp = lc.read_json(cp_path)
        if cp and cp.get("fingerprint") == fp:
            files = cp.get("files") or {}
            sp = gdir / files.get("segments", lc.segment_file(shard))
            dp = gdir / files.get("docmap", lc.docmap_file(shard))
            if sp.exists() and dp.exists():
                # resume fast path: fingerprint-matched shard, skip rebuild
                return pd.DataFrame([{**cp["stats"], "shard": shard,
                                      "fingerprint": fp, "skipped": 1,
                                      "segment_file": sp.name,
                                      "docmap_file": dp.name}])

        segments, docmap, stats = _encode_shard(shard, data["doc_id"], data["text"],
                                                normalization, hot_df_copy,
                                                store_positions,
                                                roles=data["role"],
                                                ts_us=data["ts_us"])
        _write_parquet(segments, gdir / seg_name, storage)
        _write_parquet(docmap, gdir / dm_name, storage)
        # checkpoint written LAST: it NAMES the landed files (the commit
        # record — readers and resume resolve names from it, never from
        # directory listings)
        lc.put_json(cp_path, {"fingerprint": fp, "stats": stats,
                              "files": {"segments": seg_name,
                                        "docmap": dm_name}}, storage)
        return pd.DataFrame([{**stats, "shard": shard, "fingerprint": fp,
                              "skipped": 0, "segment_file": seg_name,
                              "docmap_file": dm_name}])

    return build_shard


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_root: str,
    n_shards: int | None = None,
    generation: str = "g0001",
    append: bool = False,
    normalization: dict[str, str] | None = None,
    hot_df_copy: int = HOT_DF_COPY,
    storage: str | None = None,
    store_positions: bool = True,
    extra_manifest: dict | None = None,
) -> dict:
    """Build (or resume) the index; returns the published manifest.

    extra_manifest: caller-supplied fields (e.g. `source_snapshot`
    provenance from incremental_build) merged into the manifest BEFORE
    the single publish under BuildLock — avoids a second out-of-lock
    publish that could clobber a concurrent writer's manifest.

    append=True adds this build as a DELTA generation: prior
    generations keep serving their docs, global BM25 stats (N, avgdl,
    df) are summed across generations at query time, so scores equal a
    full rebuild (the Lucene multi-segment model). append=False
    replaces the active set with this single generation.

    Single-writer: a second concurrent build of the same index root
    raises ConcurrentBuildError (the ConcurrentModificationException
    analogue, PutDatasourceTransportAction.java:78-94); the lock is
    heartbeat-renewed for the build's duration
    (Ip2GeoLockService.java:29, GeoIpDataDao.java:307).
    """
    with lc.BuildLock(index_root, owner=f"build:{generation}"):
        return _build_index_locked(spark, transcripts, index_root, n_shards,
                                   generation, append, normalization,
                                   hot_df_copy, lc.storage_mode(storage),
                                   store_positions, extra_manifest)


def _build_index_locked(
    spark: SparkSession,
    transcripts: DataFrame,
    index_root: str,
    n_shards: int | None,
    generation: str,
    append: bool,
    normalization: dict[str, str] | None,
    hot_df_copy: int,
    storage: str,
    store_positions: bool = True,
    extra_manifest: dict | None = None,
) -> dict:
    import time as _time

    started_at = _time.time()
    if n_shards is None:
        n_shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    gdir = lc.gen_dir(index_root, generation)

    prior = lc.read_manifest(index_root)
    if append and prior and prior.get("state") == lc.STATE_AVAILABLE:
        # delta generations MUST tokenize through the same normalization
        # as the generations they join — a mismatched map would make
        # query-side normalization and df inconsistent across generations
        prior_norm = prior.get("normalization") or {}
        if normalization is None:
            normalization = dict(prior_norm) or None
        elif dict(normalization) != prior_norm:
            raise ValueError(
                "append build passed a normalization map different from "
                "the prior manifest's; rebuild (append=False) to change it")
        if bool(prior.get("positions", True)) != bool(store_positions):
            raise ValueError(
                "append build's store_positions differs from the prior "
                "manifest's; rebuild (append=False) to change it")

    try:
        gdir.mkdir(parents=True, exist_ok=True)
        docs = with_doc_id(transcripts)
        # doc metadata for the docmap side table (metadata-filter path);
        # minimal 4-column inputs (tests, adapted tables) get nulls
        have = set(transcripts.columns)
        if "role" not in have:
            docs = docs.withColumn("role", F.lit(None).cast("string"))
        if "ts" not in have:
            docs = docs.withColumn("ts", F.lit(None).cast("timestamp"))
        docs = docs.select(
            "conv_id", "turn_idx", "doc_id", "text", "role",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
        # deterministic hash-bucket sharding: shard = xxhash64(doc key)
        # mod n_shards. Two properties repartitionByRange lacks, both
        # load-bearing at scale: (a) NO sampling pass — range
        # partitioning runs an extra job over the whole input to sample
        # boundaries, a full second scan at 100 TB, and its sampled
        # boundaries are nondeterministic run-to-run, which silently
        # defeats fingerprint-based resume; (b) assignment is a pure
        # row function, so a killed build re-runs into byte-identical
        # shards and skips every finished one.
        keyed = docs.withColumn(
            "shard_key",
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_shards)).cast("int"))
        # ONE explicit shuffle into exactly n_shards partitions keyed by
        # shard_key. This is not one shard kernel per task: the exchange
        # Murmur3-hashes the shard number, so shards collide (16 shards
        # land on 10 partitions, at most 2 in one). Leaving the exchange
        # to spark.sql.shuffle.partitions hashes many shard-groups into
        # fewer tasks still: with 128 shards over 8 slots the multinomial
        # imbalance puts ~21 groups in the largest task (~1.3× the mean),
        # and the stage waits on it — measured as the dominant scaling
        # loss between 2 and 8 cores. hashpartitioning(shard_key,
        # n_shards) already satisfies applyInPandas' clustering
        # requirement, so no second exchange is added, and the explicit
        # partition count pins AQE away from coalescing kernels together
        # (same trap as the merge path, compact.py).
        metrics_df = (keyed.repartition(n_shards, "shard_key")
                      .groupBy("shard_key").applyInPandas(
            _make_shard_builder(str(gdir), normalization, hot_df_copy, storage,
                                store_positions),
            schema=BUILD_METRIC_SCHEMA))
        metrics = [r.asDict() for r in metrics_df.collect()]

        # purge stale shard files from a previous build of this
        # generation (different shard count, or different content token
        # in put mode) — they would otherwise linger and, for legacy
        # glob readers, inflate df / corrupt idf
        live_files = ({m["segment_file"] for m in metrics}
                      | {m["docmap_file"] for m in metrics})
        live_shards = {m["shard"] for m in metrics}
        for f in sorted(gdir.glob("segments-*.parquet")) + \
                sorted(gdir.glob("docmap-*.parquet")):
            if f.name not in live_files:
                f.unlink()
        for f in sorted((gdir / "_checkpoints").glob("part-*.json")):
            if int(f.stem.split("-")[1]) not in live_shards:
                f.unlink()

        n_docs_g = sum(m["docs_tokenized"] for m in metrics)
        total_tokens_g = sum(m["total_tokens"] for m in metrics)
        # zero-row input → zero partitions → no segment files to read
        n_terms, dict_files = (
            _build_dictionary(spark, gdir, n_shards,
                              [m["segment_file"] for m in metrics],
                              mode=storage)
            if metrics else (0, None))
        gen_entry = {
            "id": generation,
            "n_shards": n_shards,
            "n_docs": n_docs_g,
            "total_tokens": total_tokens_g,
            "n_terms": n_terms,
            "shards": sorted(metrics, key=lambda m: m["shard"]),
        }
        if dict_files is not None:
            # put-mode contract: readers resolve dictionary file names
            # from the manifest, never from a directory listing
            gen_entry["dictionary_files"] = dict_files

        if append and prior and prior.get("state") == lc.STATE_AVAILABLE:
            gens = [g for g in prior.get("generations", []) if g["id"] != generation]
        else:
            gens = []
        # a zero-doc generation has no artifacts on disk (zero shard
        # tasks ran) — listing it would poison readers that glob its
        # files, so it is omitted: every manifest-listed generation is
        # guaranteed to have dictionary + segment + docmap files
        if n_docs_g > 0:
            gens.append(gen_entry)
        n_docs = sum(g["n_docs"] for g in gens)
        total_tokens = sum(g["total_tokens"] for g in gens)
        avgdl = (total_tokens / n_docs) if n_docs else 0.0

        # per-build audit record (the Datasource.java:105-173 update-stats
        # analogue: lastSucceededAt / processing time / skip counts)
        shards_skipped = sum(int(m.get("skipped", 0)) for m in metrics)
        finished_at = _time.time()
        build_record = {
            "generation": generation,
            "append": bool(append),
            "started_at_unix": started_at,
            "finished_at_unix": finished_at,
            "duration_sec": finished_at - started_at,
            "n_docs": n_docs_g,
            "shards_total": len(metrics),
            "shards_skipped": shards_skipped,
            "shards_rebuilt": len(metrics) - shards_skipped,
            "error": None,
        }
        history = list(prior.get("build_history", [])) if prior else []
        history.append(build_record)
        history = history[-50:]  # bounded audit trail

        manifest = {
            "state": lc.STATE_AVAILABLE,
            "built_at_unix": finished_at,
            "build_history": history,
            "generation": generation,
            "generations": gens,
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "avgdl": avgdl,
            "bm25": {"k1": 1.2, "b": 0.75},
            # queries must normalize through the same dictionary
            "normalization": normalization or {},
            "positions": bool(store_positions),
            "storage": storage,
            # single-generation compatibility block (tests, tooling)
            "n_shards": n_shards,
            "n_terms": n_terms,
            "shards": gen_entry["shards"],
        }
        if extra_manifest:
            manifest.update(extra_manifest)
        lc.publish_manifest(index_root, manifest, storage)
        return manifest
    except Exception as exc:  # mark CREATE_FAILED, keep prior manifest serving
        lc.mark_create_failed(index_root, generation, repr(exc), build_record={
            "generation": generation, "append": bool(append),
            "started_at_unix": started_at, "finished_at_unix": _time.time(),
            "error": repr(exc),
        })
        raise


def compact_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_root: str,
    n_shards: int | None = None,
    generation: str | None = None,
) -> dict:
    """Force-merge analogue (GeoIpDataDao.freezeIndex:123-133 merges to
    one segment before serving): rebuild the accumulated corpus into ONE
    fresh generation and swap, collapsing the delta-generation chain the
    streaming writer produces. Old generations stay until
    delete_unused_generations reclaims them (guarded).

    The generation id is fresh-by-construction (next unused compact-N) —
    never rebuild a manifest-live generation in place: readers of the
    live generation must keep seeing frozen files until the swap."""
    if generation is None:
        existing = set(lc.list_generations(index_root))
        i = 1
        while f"compact-{i:04d}" in existing:
            i += 1
        generation = f"compact-{i:04d}"
    manifest = build_index(spark, transcripts, index_root,
                           n_shards=n_shards, generation=generation,
                           append=False)
    return manifest
