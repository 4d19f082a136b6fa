"""Segment-level merge compaction: collapse delta generations into ONE
generation WITHOUT re-reading or re-tokenizing the source corpus.

Reference analogue: freeze/force-merge before serving
(ip2geo/dao/GeoIpDataDao.java:123-133 `freezeIndex` merges to one
segment). The streaming writer appends one delta generation per
micro-batch; queries stay exact across generations, but per-query cost
grows with generation count (one segment read + one kernel per (gen,
shard)). `compact_index` (plans/build.py) already rebuilds from raw
transcripts; THIS path merges from the index itself — at scale the
decisive difference, because posting bytes are a small fraction of raw
text bytes (the 100 TB corpus is never re-scanned, never re-tokenized).

Plan shape (2 wide shuffles, both ∝ index size, not corpus text size):
  A. docmaps of all generations → hash-bucket to new shards →
     per-shard sort by (conv_id, turn_idx) → new docmap files
     (doc ordinals re-based; the tie-break contract is preserved).
  B. segments of all generations → per (gen, old shard) bulk decode
     (doc/tf/dl/position streams) + old-docmap join (shard-local file
     read) → posting rows keyed by the SAME hash bucket → per new
     shard: map doc_id → new ordinal via the phase-A docmap, rebuild
     (term, doc) runs, re-encode through the shared
     encode_runs_to_segments (identical format, impact copies
     re-derived for the merged df).

Scores after merge are identical to a full rebuild: N, avgdl, dl and
tf are preserved exactly; df(term) re-sums in the new dictionary.
"""

from __future__ import annotations

import hashlib
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from geospatial_spark.plans import lifecycle as lc
from geospatial_spark.plans.build import (
    HOT_DF_COPY,
    ORD_SHARD_SHIFT,
    _build_dictionary,
    _seg_schema,
    _write_parquet,
    encode_runs_to_segments,
)

_DOCMAP_METRIC = ("shard int, docs long, total_tokens long, "
                  "docmap_file string, fingerprint string")
# append-mode delta generations may carry the SAME doc_id more than
# once (append never dedupes); ordinal mapping therefore keys on the
# (source generation, source ordinal) pair, which is unique by
# construction, never on doc_id
_SEG_METRIC = ("shard int, postings long, bytes long, segment_file string")

# the segment columns _bulk_decode_segment reads
_BLOCK_COLS = ["df", "doc_blocks", "tf_blocks", "dl_blocks", "pos_blocks",
               "block_last_doc"]

_CONV_EXPR = ("substring(doc_id, 1, length(doc_id) - "
              "length(substring_index(doc_id, ':', -1)) - 1)")


def _make_docmap_writer(gdir_str: str, storage: str):
    def write_docmap(key, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        gdir = Path(gdir_str)
        d = pdf.sort_values(["conv", "turn", "src_gen", "src_ord"],
                            kind="mergesort").reset_index(drop=True)
        n = len(d)
        doc_ords = (np.int64(shard) << ORD_SHARD_SHIFT) | np.arange(n, dtype=np.int64)
        fp = hashlib.sha256(
            pd.util.hash_pandas_object(d["doc_id"], index=False).values.tobytes()
        ).hexdigest()
        token = fp[:10] if storage == lc.STORAGE_PUT else None
        name = lc.docmap_file(shard, token)
        docmap = pd.DataFrame({
            "shard": np.full(n, shard, dtype=np.int32),
            "doc_ord": doc_ords,
            "doc_id": d["doc_id"].to_numpy(dtype=object),
            "dl": d["dl"].to_numpy(dtype=np.int32),
            # provenance: the merge ordinal-mapping key (doc_id may dup)
            "src_gen": d["src_gen"].to_numpy(dtype=object),
            "src_ord": d["src_ord"].to_numpy(dtype=np.int64),
        })
        # metadata passthrough (docmap v2): role/ts_us survive merges
        docmap["role"] = d["role"].to_numpy(dtype=object)
        docmap["ts_us"] = pd.array(
            pd.to_numeric(d["ts_us"], errors="coerce").to_numpy(
                dtype="float64"), dtype="Int64")
        _write_parquet(docmap, gdir / name, storage)
        return pd.DataFrame([{
            "shard": shard, "docs": n,
            "total_tokens": int(d["dl"].sum()),
            "docmap_file": name, "fingerprint": fp,
        }])

    return write_docmap


def _make_posting_decoder(gen_index: dict[str, int]):
    def decode(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from geospatial_spark.functions.codec import (
            varint_encode_with_lengths,
        )

        gen, shard = str(key[0]), int(key[1])
        gen_i = int(gen_index[gen])
        if len(pdf) == 0:
            return pd.DataFrame({
                "term": pd.Series([], dtype=object),
                "gen_i": pd.Series([], dtype="int32"),
                "src_ord": pd.Series([], dtype="int64"),
                "tf": pd.Series([], dtype="int64"),
                "dl": pd.Series([], dtype="int64"),
                "positions": pd.Series([], dtype=object)})
        seg_schema = _seg_schema()
        dfs, src_ords, tfs, dls, pos_flat, rtb = _bulk_decode_segment(
            pa.Table.from_pandas(
                pdf[_BLOCK_COLS], preserve_index=False,
                schema=pa.schema([seg_schema.field(c)
                                  for c in _BLOCK_COLS])))
        # positions travel the shuffle as ONE small varint-bytes cell
        # per posting (delta within the posting, first value absolute —
        # the run encoding, so the encoder bulk-decodes them back with
        # decode_positions_stream). A per-posting ndarray cell costs
        # ~200 B of Python object overhead × tens of millions of
        # postings — the measured dominator of merge wall time.
        tok_starts = rtb[:-1]
        pgaps = pos_flat.astype(np.int64).copy()
        if len(pgaps):
            pgaps[1:] -= pos_flat[:-1]
            pgaps[tok_starts] = pos_flat[tok_starts]
        buf, lens = varint_encode_with_lengths(pgaps.astype(np.uint64))
        boffs = np.concatenate(([0], np.cumsum(lens)))
        mv = memoryview(buf)
        starts_b = boffs[tok_starts]
        ends_b = boffs[rtb[1:]]
        poss_o = [bytes(mv[a:b]) for a, b in zip(starts_b, ends_b)]
        return pd.DataFrame({
            "term": np.repeat(pdf["term"].to_numpy(dtype=object), dfs),
            "gen_i": np.full(len(src_ords), gen_i, dtype=np.int32),
            "src_ord": src_ords,
            "tf": tfs,
            "dl": dls,
            "positions": pd.Series(poss_o, dtype=object),
        })

    return decode


def _encode_rows(shard: int, pdf: pd.DataFrame, gdir: Path,
                 dm_name: str, storage: str, hot_df_copy: int,
                 avgdl_local: float) -> pd.DataFrame:
    """Shared tail of both merge paths: posting rows (term, dest_local,
    tf, dl, positions-bytes) → sorted runs → encoded segment file."""
    ords = ((np.int64(shard) << ORD_SHARD_SHIFT)
            | pdf["dest_local"].to_numpy(dtype=np.int64))
    uniq_terms, codes = np.unique(pdf["term"].to_numpy(dtype="U"),
                                  return_inverse=True)
    order = np.lexsort((ords, codes))
    tc = codes[order]
    docs_arr = ords[order].astype(np.uint64)
    tfs_arr = pdf["tf"].to_numpy(dtype=np.int64)[order].astype(np.uint64)
    dls_arr = pdf["dl"].to_numpy(dtype=np.int64)[order].astype(np.uint64)
    pos_cells = pdf["positions"].to_numpy(dtype=object)[order]
    rtb = np.concatenate(([0], np.cumsum(tfs_arr))).astype(np.int64)
    # one bulk varint pass over all postings' position bytes; the
    # per-posting delta encoding IS the run encoding (first value
    # absolute per posting), so decode_positions_stream reconstructs
    # the absolute positions directly
    from geospatial_spark.functions.codec import decode_positions_stream

    pos_flat = (decode_positions_stream(
        b"".join(pos_cells), tfs_arr.astype(np.int64))
        if len(pos_cells) else np.empty(0, dtype=np.int64))
    tchange = np.flatnonzero(tc[1:] != tc[:-1]) + 1
    starts = np.concatenate(([0], tchange)).astype(np.int64)
    ends = np.concatenate((tchange, [len(tc)])).astype(np.int64)
    terms_sorted = uniq_terms[tc[starts]]

    segments, n_postings, n_bytes = encode_runs_to_segments(
        shard, terms_sorted, starts, ends, docs_arr, tfs_arr, dls_arr,
        pos_flat, rtb, avgdl_local, hot_df_copy)
    fp = hashlib.sha256(b"merge" + bytes(str(n_postings), "ascii")
                        + dm_name.encode()).hexdigest()
    token = fp[:10] if storage == lc.STORAGE_PUT else None
    name = lc.segment_file(shard, token)
    _write_parquet(segments, gdir / name, storage)
    return pd.DataFrame([{"shard": shard, "postings": int(n_postings),
                          "bytes": int(n_bytes), "segment_file": name}])


def _blocks_stream(col: pa.ChunkedArray):
    """A list<binary> column's blocks as one byte stream: per chunk, the
    flattened values' data buffer between their first and last offset
    (zero-copy for a one-chunk column; a sliced chunk's flattened
    values start at a non-zero array offset). binary, as _seg_schema
    declares it, has int32 offsets."""
    parts = []
    for chunk in col.chunks:
        flat = chunk.flatten()
        if len(flat) == 0:
            continue
        _, offs_buf, data = flat.buffers()
        offs = np.frombuffer(offs_buf, dtype=np.int32)
        lo, hi = int(offs[flat.offset]), int(offs[flat.offset + len(flat)])
        if hi > lo:
            parts.append(memoryview(data)[lo:hi])
    return parts[0] if len(parts) == 1 else b"".join(parts)


def _bulk_decode_segment(t: pa.Table):
    """Whole-segment bulk decode: ONE varint pass per stream over ALL
    terms' concatenated blocks, read straight from the Arrow buffers
    (the per-term loop costs ~170 µs/term of numpy call overhead — the
    measured dominator of merge decode).

    Returns (dfs, src_ords(global), tfs, dls, pos_flat, rtb) where term
    t's postings occupy [cum_dfs[t], cum_dfs[t+1]) and pos_flat holds
    the absolute in-document positions aligned token-for-token."""
    from geospatial_spark.functions.codec import (
        BLOCK,
        decode_positions_stream,
        varint_decode,
    )

    dfs = t.column("df").to_numpy().astype(np.int64)
    n = len(dfs)
    nblocks = -(-dfs // BLOCK)
    total_blocks = int(nblocks.sum())
    block_term = np.repeat(np.arange(n), nblocks)
    first_block = np.cumsum(nblocks) - nblocks
    block_in_term = np.arange(total_blocks) - first_block[block_term]
    lens = np.where(block_in_term == nblocks[block_term] - 1,
                    dfs[block_term] - (nblocks[block_term] - 1) * BLOCK,
                    BLOCK).astype(np.int64)

    def stream(col):
        return _blocks_stream(t.column(col))

    gaps = varint_decode(stream("doc_blocks")).astype(np.int64)
    tfs = varint_decode(stream("tf_blocks")).astype(np.int64)
    dls = varint_decode(stream("dl_blocks")).astype(np.int64)
    starts_flat = np.cumsum(lens) - lens
    blast_flat = pc.list_flatten(
        t.column("block_last_doc")).to_numpy().astype(np.int64)
    prev_last = np.where(block_in_term > 0,
                         blast_flat[np.arange(total_blocks) - 1], 0)
    gaps[starts_flat] += prev_last
    cs = np.cumsum(gaps)
    seg_off = cs[starts_flat] - gaps[starts_flat]
    src_ords = cs - np.repeat(seg_off, lens)  # GLOBAL source ordinals

    pos_flat = decode_positions_stream(stream("pos_blocks"), tfs)
    rtb = np.concatenate(([0], np.cumsum(tfs))).astype(np.int64)
    return dfs, src_ords, tfs, dls, pos_flat, rtb


def _make_shard_encoder(gdir_str: str, dm_names: dict[int, str],
                        storage: str, hot_df_copy: int):
    def encode(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow.parquet as pq

        shard = int(key[0])
        gdir = Path(gdir_str)
        dm = pq.read_table(gdir / dm_names[shard], columns=["dl"])
        avgdl_local = (float(np.mean(dm.column("dl").to_numpy()))
                       if dm.num_rows else 0.0)
        return _encode_rows(shard, pdf, gdir, dm_names[shard], storage,
                            hot_df_copy, avgdl_local)

    return encode


def _merge_segments_colocated(shard: int, gdir: Path,
                              srcs: list[tuple[str, int, str]],
                              by_gen: dict[int, tuple[np.ndarray, np.ndarray]],
                              avgdl_local: float, dm_name: str,
                              storage: str, hot_df_copy: int,
                              gen_index: dict[str, int]):
    """Segment half of the colocated merge kernel: bulk-decode this
    destination's source segments, remap ordinals through by_gen, and
    encode one merged segment file. Returns (postings, bytes, name) or
    None when the destination holds no postings (the driver's
    empty-segment fill then names the file)."""
    import pyarrow.parquet as pq

    term_l, df_l, dest_l, tf_l, dl_l, pos_l = [], [], [], [], [], []
    for gen, s_src, seg_path in srcs:
        # pre_buffer coalesces the column-chunk range reads into few
        # large I/Os — the merge reads whole segments, and on a cold
        # page cache (or an object store) scattered small reads are
        # the wall-clock term
        t = pq.read_table(seg_path, columns=["term", *_BLOCK_COLS],
                          pre_buffer=True)
        if t.num_rows == 0:
            continue
        dfs, src_ords, tfs, dls, pos_flat, _rtb = _bulk_decode_segment(t)
        gi = int(gen_index[gen])
        if gi not in by_gen:
            raise RuntimeError("merge: postings from a generation "
                               "absent from the destination docmap")
        sorted_so, row_idx = by_gen[gi]
        pos_in = np.searchsorted(sorted_so, src_ords)
        if (pos_in >= len(sorted_so)).any() or \
                (sorted_so[np.minimum(pos_in, len(sorted_so) - 1)]
                 != src_ords).any():
            raise RuntimeError("merge: posting doc missing from docmap")
        term_l.append(t.column("term").to_numpy().astype("U"))
        df_l.append(dfs)
        dest_l.append(row_idx[pos_in])
        tf_l.append(tfs)
        dl_l.append(dls)
        pos_l.append(pos_flat)
    if not term_l:
        return None

    dfs_all = np.concatenate(df_l)
    uniq_terms, term_codes = np.unique(np.concatenate(term_l),
                                       return_inverse=True)
    del term_l
    codes = np.repeat(term_codes, dfs_all)
    del term_codes, dfs_all, df_l
    dest_all = np.concatenate(dest_l)
    tf_all = np.concatenate(tf_l)
    dl_all = np.concatenate(dl_l)
    pos_all = np.concatenate(pos_l)
    del dest_l, tf_l, dl_l, pos_l
    ords = (np.int64(shard) << ORD_SHARD_SHIFT) | dest_all
    del dest_all
    order = np.lexsort((ords, codes))

    # vectorized per-posting position gather into the new order.
    # Fresh-allocation volume is deliberately kept low (intermediates
    # freed as soon as consumed): first-touch of new anon memory is the
    # dominant kernel cost under 16-way concurrency on fault-slow hosts.
    tok_starts = np.concatenate(([0], np.cumsum(tf_all)[:-1]))
    reps = tf_all[order]
    base_rep = np.repeat(np.concatenate(([0], np.cumsum(reps)[:-1])),
                         reps)
    flat_idx = np.repeat(tok_starts[order], reps)
    del tok_starts
    flat_idx += np.arange(int(reps.sum()), dtype=np.int64)
    flat_idx -= base_rep
    del base_rep
    pos_sorted = pos_all[flat_idx]
    del pos_all, flat_idx
    rtb_new = np.concatenate(([0], np.cumsum(reps))).astype(np.int64)
    del reps

    tc = codes[order]
    del codes
    tchange = np.flatnonzero(tc[1:] != tc[:-1]) + 1
    starts = np.concatenate(([0], tchange)).astype(np.int64)
    ends = np.concatenate((tchange, [len(tc)])).astype(np.int64)
    terms_sorted = uniq_terms[tc[starts]]
    del tc, tchange, uniq_terms

    ords_sorted = ords[order].astype(np.uint64)
    del ords
    tfs_sorted = tf_all[order].astype(np.uint64)
    del tf_all
    dls_sorted = dl_all[order].astype(np.uint64)
    del dl_all, order

    segments, n_postings, n_bytes = encode_runs_to_segments(
        shard, terms_sorted, starts, ends,
        ords_sorted, tfs_sorted, dls_sorted, pos_sorted, rtb_new,
        avgdl_local, hot_df_copy)
    del ords_sorted, tfs_sorted, dls_sorted, pos_sorted
    fp = hashlib.sha256(b"merge" + bytes(str(n_postings), "ascii")
                        + dm_name.encode()).hexdigest()
    token = fp[:10] if storage == lc.STORAGE_PUT else None
    name = lc.segment_file(shard, token)
    _write_parquet(segments, gdir / name, storage)
    return int(n_postings), int(n_bytes), name


_FUSED_METRIC = ("shard int, docs long, total_tokens long, "
                 "docmap_file string, fingerprint string, "
                 "postings long, bytes long, segment_file string")


def _make_fused_merger(gdir_str: str, storage: str, hot_df_copy: int,
                       seg_sources: dict[int, list[tuple[str, int, str]]],
                       dm_sources: dict[int, list[tuple[str, int, str]]],
                       gen_index: dict[str, int]):
    """Fused colocated merge kernel: when the new shard count DIVIDES
    every generation's old count, hash(conv) mod n_new == (hash mod
    n_old) mod n_new, so destination shard s is exactly the union of
    source shards {t : t % n_new == s}. One kernel call per destination
    then does BOTH merge phases shard-locally — build + write the merged
    docmap from the source docmaps (phase A), then bulk-decode, remap
    and re-encode the source segments against the in-memory docmap
    (phase B) — collapsing the previous two sequential Spark jobs into
    one and never re-reading the docmap it just wrote. No posting (and
    now no docmap row) ever crosses the wire; the general path shuffles
    one row per posting (~45M rows at sf0.1, measured ~6× the wall).

    Docmap identity: rows are assembled with the same columns, conv/turn
    derivation and null conventions as the general path's Spark
    projection, then written through the SAME write_docmap kernel — same
    sort, same ordinals, same fingerprint, same bytes."""

    write_docmap = _make_docmap_writer(gdir_str, storage)

    def run(key, _pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow.parquet as pq

        shard = int(key[0])
        gdir = Path(gdir_str)

        # ---- phase A, shard-local: merged docmap ---------------------
        parts = []
        for gen, _t_src, dm_path in dm_sources[shard]:
            t = pq.read_table(dm_path)
            cols = [c for c in ("doc_id", "dl", "role", "ts_us", "doc_ord")
                    if c in t.column_names]
            pdf = t.select(cols).to_pandas()
            # docmap-v1 generations (pre role/ts_us) merge with nulls —
            # the merged index then refuses metadata filters for them
            if "role" not in pdf.columns:
                pdf["role"] = None
            if "ts_us" not in pdf.columns:
                pdf["ts_us"] = None
            pdf = pdf.rename(columns={"doc_ord": "src_ord"})
            pdf["src_gen"] = gen
            parts.append(pdf[["doc_id", "dl", "role", "ts_us",
                              "src_gen", "src_ord"]])
        allp = (pd.concat(parts, ignore_index=True)
                if parts else pd.DataFrame())
        if len(allp) == 0:
            # phase A emits no row for an empty destination; neither do we
            return pd.DataFrame({
                "shard": pd.Series([], dtype="int32"),
                "docs": pd.Series([], dtype="int64"),
                "total_tokens": pd.Series([], dtype="int64"),
                "docmap_file": pd.Series([], dtype=object),
                "fingerprint": pd.Series([], dtype=object),
                "postings": pd.Series([], dtype="int64"),
                "bytes": pd.Series([], dtype="int64"),
                "segment_file": pd.Series([], dtype=object)})
        # conv/turn exactly as the Spark projection (_CONV_EXPR +
        # substring_index cast): conv = doc_id before its last ':' (""
        # without one), turn = the numeric suffix after it, or null
        head_sep_tail = allp["doc_id"].astype(str).str.rpartition(":")
        allp["conv"] = head_sep_tail[0]
        allp["turn"] = pd.to_numeric(head_sep_tail[2], errors="coerce")
        d = allp.sort_values(["conv", "turn", "src_gen", "src_ord"],
                             kind="mergesort").reset_index(drop=True)
        dm_metric = write_docmap((shard,), d).iloc[0].to_dict()
        dm_name = dm_metric["docmap_file"]

        # ---- phase B against the in-memory docmap --------------------
        dls_dm = d["dl"].to_numpy()
        avgdl_local = float(dls_dm.mean()) if len(dls_dm) else 0.0
        sg = d["src_gen"].map(gen_index).to_numpy(dtype=np.int64)
        so = d["src_ord"].to_numpy().astype(np.int64)
        by_gen: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for gi in np.unique(sg):
            rows_g = np.flatnonzero(sg == gi)
            o = np.argsort(so[rows_g], kind="stable")
            by_gen[int(gi)] = (so[rows_g][o], rows_g[o])
        seg = _merge_segments_colocated(
            shard, gdir, seg_sources[shard], by_gen, avgdl_local,
            dm_name, storage, hot_df_copy, gen_index)
        n_postings, n_bytes, seg_name = seg if seg else (0, 0, None)
        return pd.DataFrame([{**dm_metric,
                              "postings": n_postings, "bytes": n_bytes,
                              "segment_file": seg_name}])

    return run


def merge_generations(spark: SparkSession, index_root: str,
                      n_shards: int | None = None,
                      generation: str | None = None,
                      hot_df_copy: int = HOT_DF_COPY,
                      storage: str | None = None,
                      force: bool = False) -> dict:
    """Merge all live generations into one new generation and swap the
    manifest. No-op (returns the manifest) when ≤1 generation is live,
    unless force=True — forcing a single-generation merge RESHARDS it
    (the serve-tier optimize step: builds run wide for throughput, then
    compact into fewer, larger shards so saturated terms cross the
    per-shard impact-copy threshold and serving reads touch fewer
    files). Raises ConcurrentBuildError if a build/merge is running."""
    storage = lc.storage_mode(storage)
    with lc.BuildLock(index_root, owner="merge"):
        m = lc.read_manifest(index_root)
        if not m or m.get("state") != lc.STATE_AVAILABLE:
            raise ValueError(f"index at {index_root} not AVAILABLE")
        if not m.get("positions", True):
            raise ValueError("segment merge requires a positions index "
                             "(store_positions=True builds)")
        gens = m.get("generations", [])
        if len(gens) <= 1 and not force:
            return m
        if not gens:
            return m
        started = time.time()
        if n_shards is None:
            n_shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if generation is None:
            existing = set(lc.list_generations(index_root))
            i = 1
            while f"merge-{i:04d}" in existing:
                i += 1
            generation = f"merge-{i:04d}"
        gdir = lc.gen_dir(index_root, generation)
        gdir.mkdir(parents=True, exist_ok=True)

        gdirs = {g["id"]: str(lc.gen_dir(index_root, g["id"])) for g in gens}
        seg_files: list[str] = []
        docmap_files: dict[tuple[str, int], str] = {}
        seg_by_gen: dict[str, list[str]] = {}
        seg_path_by: dict[tuple[str, int], str] = {}
        for g in gens:
            segs, dms = lc.gen_shard_files(g)
            seg_by_gen[g["id"]] = [f"{gdirs[g['id']]}/{s}" for s in segs]
            for sh_entry, seg_name in zip(g["shards"], segs):
                seg_path_by[(g["id"], int(sh_entry["shard"]))] =                     f"{gdirs[g['id']]}/{seg_name}"
            for sh, name in dms.items():
                docmap_files[(g["id"], sh)] = name

        gen_index = {g["id"]: i for i, g in enumerate(gens)}
        if all(int(g["n_shards"]) % n_shards == 0 for g in gens):
            # co-located FUSED path: n_new divides every generation's
            # shard count, so hash mod n_new == (hash mod n_old) mod
            # n_new — destination shard s owns exactly the source shards
            # {t : t % n_new == s}. ONE kernel call per destination
            # performs both merge phases shard-locally (docmap build + segment
            # re-encode) — see _make_fused_merger. Collapses the two
            # sequential Spark jobs (docmap write + collect, then kernel
            # pass re-reading those docmaps) into a single job.
            seg_sources: dict[int, list[tuple[str, int, str]]] = {}
            dm_sources: dict[int, list[tuple[str, int, str]]] = {}
            for g in gens:
                for sh_entry in g["shards"]:
                    t_src = int(sh_entry["shard"])
                    dest = t_src % n_shards
                    seg_sources.setdefault(dest, []).append(
                        (g["id"], t_src, seg_path_by[(g["id"], t_src)]))
                    dm_sources.setdefault(dest, []).append(
                        (g["id"], t_src,
                         f"{gdirs[g['id']]}/{docmap_files[(g['id'], t_src)]}"))
            # explicit repartition: AQE would coalesce this 16-row
            # shuffle into ONE partition and serialize the heavy
            # per-destination kernels (measured 16× wall blowup). It
            # hash-partitions the shard numbers, so destinations spread
            # over fewer partitions than there are destinations (8 over
            # 5 measured, up to 3 in one task), not one per task. The
            # seed is a pandas frame: Arrow makes it a local relation,
            # where a Python list would be a Python RDD whose scan starts
            # Python tasks that do no engine work.
            dests = sorted(dm_sources)
            dest_df = spark.createDataFrame(
                pd.DataFrame({"shard": np.asarray(dests, dtype=np.int32)}),
                "shard int",
            ).repartition(len(dests), "shard")
            fused = [r.asDict() for r in
                     dest_df.groupBy("shard").applyInPandas(
                         _make_fused_merger(str(gdir), storage,
                                            hot_df_copy, seg_sources,
                                            dm_sources, gen_index),
                         schema=_FUSED_METRIC).collect()]
            dm_metrics = [{k: r[k] for k in
                           ("shard", "docs", "total_tokens",
                            "docmap_file", "fingerprint")} for r in fused]
            dm_names = {int(r["shard"]): r["docmap_file"] for r in fused}
            seg_metrics = [{"shard": r["shard"], "postings": r["postings"],
                            "bytes": r["bytes"],
                            "segment_file": r["segment_file"]}
                           for r in fused if r["segment_file"]]
            seg_names = {int(r["shard"]): r["segment_file"]
                         for r in seg_metrics}
            return _finish_merge(spark, index_root, m, gens, gdir,
                                 generation, n_shards, dm_metrics,
                                 dm_names, seg_metrics, seg_names,
                                 storage, started)

        shard_key = F.pmod(F.xxhash64(F.expr(_CONV_EXPR).alias("c"),
                                      F.substring_index("doc_id", ":", -1)
                                      .cast("int")), F.lit(n_shards)).cast("int")

        # ---- phase A: merged docmaps ---------------------------------
        dmaps = None
        for g in gens:
            raw = spark.read.parquet(
                *[f"{gdirs[g['id']]}/{docmap_files[(g['id'], int(s['shard']))]}"
                  for s in g["shards"]])
            # docmap-v1 generations (pre role/ts_us) merge with nulls —
            # the merged index then refuses metadata filters for them
            if "role" not in raw.columns:
                raw = raw.withColumn("role", F.lit(None).cast("string"))
            if "ts_us" not in raw.columns:
                raw = raw.withColumn("ts_us", F.lit(None).cast("long"))
            part = raw.select("doc_id", "dl", "role", "ts_us",
                              F.lit(g["id"]).alias("src_gen"),
                              F.col("doc_ord").alias("src_ord"))
            dmaps = part if dmaps is None else dmaps.unionByName(part)
        keyed = dmaps.select(
            "doc_id", "dl", "role", "ts_us", "src_gen", "src_ord",
            F.expr(_CONV_EXPR).alias("conv"),
            F.substring_index("doc_id", ":", -1).cast("int").alias("turn"),
            shard_key.alias("shard_key"))
        dm_metrics = [r.asDict() for r in keyed.groupBy("shard_key").applyInPandas(
            _make_docmap_writer(str(gdir), storage),
            schema=_DOCMAP_METRIC).collect()]
        dm_names = {int(r["shard"]): r["docmap_file"] for r in dm_metrics}

        # ---- phase B: decode → re-bucket → re-encode -----------------
        segs = None
        for g in gens:
            part = (spark.read.parquet(*seg_by_gen[g["id"]])
                    .select("shard", "term", "df", "doc_blocks", "tf_blocks",
                            "dl_blocks", "pos_blocks", "block_last_doc")
                    .withColumn("gen", F.lit(g["id"])))
            segs = part if segs is None else segs.unionByName(
                part, allowMissingColumns=True)
        gen_index = {g["id"]: i for i, g in enumerate(gens)}
        rows = segs.groupBy("gen", "shard").applyInPandas(
            _make_posting_decoder(gen_index),
            schema=("term string, gen_i int, src_ord long, "
                    "tf long, dl long, positions binary"))
        # (gen_i, src_ord) → (dest shard, dest local ordinal), derived
        # from the phase-A docmaps: postings reach their destination by
        # an equi-join on NUMERIC keys instead of shipping conv/turn
        # strings per posting (the measured merge-wall dominator).
        # Broadcast while the doc count allows; at larger scale this
        # becomes an ordinary shuffle join ∝ posting count.
        gen_map = spark.createDataFrame(
            pd.DataFrame({"src_gen": [g["id"] for g in gens],
                          "gen_i": np.arange(len(gens), dtype=np.int32)}),
            "src_gen string, gen_i int")
        local_mask = (1 << ORD_SHARD_SHIFT) - 1
        mapping = (spark.read.parquet(
            *[str(gdir / dm_names[sh]) for sh in sorted(dm_names)])
            .join(F.broadcast(gen_map), "src_gen")
            .select("gen_i", "src_ord",
                    F.col("shard").alias("dest_shard"),
                    (F.col("doc_ord").bitwiseAND(F.lit(local_mask))
                     ).alias("dest_local")))
        n_total_docs = sum(int(r["docs"]) for r in dm_metrics)
        if n_total_docs <= 5_000_000:
            mapping = F.broadcast(mapping)
        rekeyed = rows.join(mapping, ["gen_i", "src_ord"])
        seg_metrics = [r.asDict() for r in rekeyed.groupBy("dest_shard").applyInPandas(
            _make_shard_encoder(str(gdir), dm_names, storage, hot_df_copy),
            schema=_SEG_METRIC).collect()]
        seg_names = {int(r["shard"]): r["segment_file"] for r in seg_metrics}
        return _finish_merge(spark, index_root, m, gens, gdir, generation,
                             n_shards, dm_metrics, dm_names, seg_metrics,
                             seg_names, storage, started)


def _finish_merge(spark, index_root, m, gens, gdir, generation, n_shards,
                  dm_metrics, dm_names, seg_metrics, seg_names, storage,
                  started):
    """Shared tail of both merge paths: empty-segment fill, dictionary,
    manifest assembly, publish."""
    # a docmap shard can exist with zero postings (all-empty texts);
    # give it an empty segment file so readers resolve every name
    for sh, dm_name in dm_names.items():
        if sh not in seg_names:
            name = lc.segment_file(sh, dm_name.split("-")[-1].split(".")[0]
                                   if storage == lc.STORAGE_PUT else None)
            _write_parquet(_seg_schema().empty_table(), gdir / name, storage)
            seg_names[sh] = name

    n_terms, dict_files = _build_dictionary(spark, gdir, n_shards,
                                            list(seg_names.values()),
                                            mode=storage)

    shards = []
    for r in sorted(dm_metrics, key=lambda r: r["shard"]):
        sh = int(r["shard"])
        sm = next((s for s in seg_metrics if int(s["shard"]) == sh), None)
        shards.append({
            "shard": sh,
            "docs_tokenized": int(r["docs"]),
            "postings_written": int(sm["postings"]) if sm else 0,
            "bytes_compressed": int(sm["bytes"]) if sm else 0,
            "total_tokens": int(r["total_tokens"]),
            "fingerprint": r["fingerprint"],
            "skipped": 0,
            "segment_file": seg_names[sh],
            "docmap_file": r["docmap_file"],
        })
    n_docs = sum(s["docs_tokenized"] for s in shards)
    total_tokens = sum(s["total_tokens"] for s in shards)
    gen_entry = {"id": generation, "n_shards": n_shards,
                 "n_docs": n_docs, "total_tokens": total_tokens,
                 "n_terms": n_terms, "shards": shards}
    if dict_files is not None:
        gen_entry["dictionary_files"] = dict_files
    finished = time.time()
    history = list(m.get("build_history", []))
    history.append({
        "generation": generation, "append": False,
        "merged_from": [g["id"] for g in gens],
        "started_at_unix": started, "finished_at_unix": finished,
        "duration_sec": finished - started,
        "n_docs": n_docs, "shards_total": len(shards),
        "shards_skipped": 0, "shards_rebuilt": len(shards),
        "error": None,
    })
    manifest = {
        **m,
        "built_at_unix": finished,
        "build_history": history[-50:],
        "generation": generation,
        "generations": [gen_entry],
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": (total_tokens / n_docs) if n_docs else 0.0,
        "storage": storage,
        "n_shards": n_shards,
        "n_terms": n_terms,
        "shards": shards,
    }
    lc.publish_manifest(index_root, manifest, storage)
    return manifest
