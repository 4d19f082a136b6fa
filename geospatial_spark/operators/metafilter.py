"""Doc-metadata predicates resolved to per-shard ordinal masks.

The reference embeds its scored queries inside bool/filter contexts
over ANY mapped field — XYPointQueryVisitor.java:165-178 walks FILTER
clauses mixing the spatial predicate with arbitrary field conditions.
The analogue here: a structured metadata predicate (role equality,
ts range, conv_id prefix) combined with a scored text query.

Execution shape (scale-first): metadata lives in the shard's docmap
side table, which is already LOCAL to every query kernel (it resolves
doc ordinals → doc_ids from it). A predicate therefore never shuffles
and never touches postings — each (gen, shard) kernel loads the
needed docmap columns of its OWN shard file and computes a boolean
mask over local ordinals; the bool kernel ANDs that mask into its
`allowed` set before scoring. Scoring stats (N, avgdl, df) stay
corpus-global: filter context does not change idf, matching the
reference's (Lucene's) filter semantics.

Null semantics are SQL-like: a NULL role/ts fails every predicate on
that field.
"""

from __future__ import annotations

import functools
import os

import numpy as np

# docmap columns the metadata path needs; indexes built before the
# docmap-v2 format (fmt=4 config digest) lack them and must be rebuilt
# to serve metadata-filtered queries
META_COLS = ("role", "ts_us")

# derived facet fields (the date_histogram agg analogue): UTC calendar
# buckets of the docmap timestamp, emitted as sortable strings
FACET_TIME_FIELDS = {"ts_day": "%Y-%m-%d", "ts_hour": "%Y-%m-%dT%H"}
FACET_FIELDS = ("role",) + tuple(FACET_TIME_FIELDS)


def facet_values(col, field: str):
    """The facet value per row of a docmap column slice (a pyarrow
    array): stored fields pass through, time-bucket fields format ts_us
    as a UTC calendar bucket, vectorized (µs never move a calendar
    bucket). Null = missing (excluded by the facet contract)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    fmt = FACET_TIME_FIELDS.get(field)
    if fmt is None:
        return col
    return pc.strftime(col.cast(pa.timestamp("us")), format=fmt)


def _ts_us(v) -> int:
    """Accept datetime / ISO string / int microseconds → int µs."""
    import datetime as _dt

    if isinstance(v, bool):
        raise TypeError("ts bound cannot be a bool")
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return int(v)
    if isinstance(v, str):
        d = _dt.datetime.fromisoformat(v)
        v = d
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    raise TypeError(f"unsupported ts bound type {type(v).__name__}")


def normalize_meta(meta: dict | None) -> dict | None:
    """Driver-side canonicalization of a user metadata predicate.

    Accepted keys:
      role        — str or list[str]: role must equal one of them
      ts_min / ts_max — inclusive bounds; datetime, ISO string, or
                    int microseconds-since-epoch (UTC)
      conv_prefix — str: doc_id (= conv_id || ':' || turn) must start
                    with it; matches conv_id prefixes because ':' is
                    the conv/turn separator

    Returns a plain-value dict (role: list[str], ts_min_us / ts_max_us:
    int, conv_prefix: str) safe to close over in an executor kernel, or
    None when the predicate is empty.
    """
    if not meta:
        return None
    # idempotent: the canonical keys this function EMITS are accepted
    # back unchanged, so an already-normalized dict may flow through a
    # second entry point (e.g. the small-k local dispatch hands the
    # query path's canonical meta to the serving engine, which
    # normalizes on its own)
    known = {"role", "ts_min", "ts_max", "conv_prefix",
             "ts_min_us", "ts_max_us"}
    unknown = set(meta) - known
    if unknown:
        raise ValueError(f"unknown metadata filter keys: {sorted(unknown)}")
    # a None bound counts as absent (the reads below skip it), so it
    # never conflicts with its other spelling
    for bound in ("ts_min", "ts_max"):
        if (meta.get(bound) is not None
                and meta.get(f"{bound}_us") is not None):
            raise ValueError(f"give {bound} or {bound}_us, not both")
    out: dict = {}
    role = meta.get("role")
    if role is not None:
        roles = [role] if isinstance(role, str) else sorted(role)
        if not all(isinstance(r, str) for r in roles):
            raise TypeError("role filter values must be strings")
        out["role"] = roles
    if meta.get("ts_min") is not None:
        out["ts_min_us"] = _ts_us(meta["ts_min"])
    if meta.get("ts_max") is not None:
        out["ts_max_us"] = _ts_us(meta["ts_max"])
    if meta.get("ts_min_us") is not None:
        out["ts_min_us"] = int(meta["ts_min_us"])
    if meta.get("ts_max_us") is not None:
        out["ts_max_us"] = int(meta["ts_max_us"])
    cp = meta.get("conv_prefix")
    if cp is not None:
        if not isinstance(cp, str) or not cp:
            raise ValueError("conv_prefix must be a non-empty string")
        out["conv_prefix"] = cp
    return out or None


def needed_cols(meta: dict) -> list[str]:
    cols = []
    if "role" in meta:
        cols.append("role")
    if "ts_min_us" in meta or "ts_max_us" in meta:
        cols.append("ts_us")
    if "conv_prefix" in meta:
        cols.append("doc_id")
    return cols


def meta_mask_table(table, meta: dict) -> np.ndarray:
    """Boolean mask over the docmap table's rows (row i == local
    ordinal i: docmaps are written in doc_ord order) for a normalized
    predicate. `table` is a pyarrow Table holding `needed_cols`."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = table.num_rows
    mask = np.ones(n, dtype=bool)
    if "role" in meta:
        col = table.column("role")
        # NULL role fails the predicate (is_in → null, filled False)
        hit = pc.fill_null(pc.is_in(col, value_set=pa.array(meta["role"])),
                           False)
        mask &= hit.combine_chunks().to_numpy(zero_copy_only=False)
    if "ts_min_us" in meta or "ts_max_us" in meta:
        col = table.column("ts_us").combine_chunks()
        valid = col.is_valid().to_numpy(zero_copy_only=False)
        vals = col.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
        ok = valid.copy()
        if "ts_min_us" in meta:
            ok &= vals >= meta["ts_min_us"]
        if "ts_max_us" in meta:
            ok &= vals <= meta["ts_max_us"]
        mask &= ok
    if "conv_prefix" in meta:
        hit = pc.starts_with(table.column("doc_id"), pattern=meta["conv_prefix"])
        mask &= hit.combine_chunks().to_numpy(zero_copy_only=False)
    return mask


def read_docmap_column(path, name: str):
    """One column of a shard's docmap file as a single-chunk pyarrow
    array (take() on a chunked column concatenates on every call), or
    None when the file predates the column (docmap-v1)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    if name not in pf.schema_arrow.names:
        return None
    return pf.read(columns=[name]).column(name).combine_chunks()


def docmap_reader(path):
    """Lazy, memoized column getter over one shard's docmap file."""
    got: dict = {}

    def col(name: str):
        if name not in got:
            got[name] = read_docmap_column(path, name)
        return got[name]

    return col


@functools.lru_cache(maxsize=1024)
def _docmap_columns(path: str, mtime_ns: int) -> frozenset:
    import pyarrow.parquet as pq

    return frozenset(pq.ParquetFile(path).schema_arrow.names)


def check_docmap_columns(index, need) -> None:
    """Fail fast, before any shard runs, when a generation's docmap
    lacks columns a request reads — an index built before the docmap-v2
    format. One parquet footer per generation, memoized by file path
    (and mtime): generations are frozen, so any searcher over the same
    files — single-root, federated or serving — shares the entry."""
    need = set(need) - {"doc_id"}
    if not need:
        return
    for g in index.gens:
        if not g["shards"]:
            continue
        sh = int(g["shards"][0]["shard"])
        path = os.path.join(index.gdirs[g["id"]],
                            index.docmap_files[(g["id"], sh)])
        have = _docmap_columns(path, os.stat(path).st_mtime_ns)
        missing = sorted(need - have)
        if missing:
            raise ValueError(
                f"generation {g['id']} docmap lacks metadata columns "
                f"{missing} — built before the docmap-v2 format; "
                "rebuild to serve metadata-filtered queries")
