"""Stats-pruned point reads over the split Parquet files, and the
decoded row-group cache they and the root doc fetch read through.

pyarrow's ``pq.read_table(filters=[("col", "in", values)])`` does NOT
prune row groups for ``in`` predicates (measured: a 10-docid fetch on a
1M-doc store read the whole file — 365 ms — and got SLOWER with smaller
row groups; an ``=`` predicate pruned fine). Since the warmup-read
discipline (leaf.rs:295-315 analog: read only the query's posting rows)
is the core of per-query latency, :func:`read_pruned` selects row
groups MANUALLY from the parquet footer statistics and applies the
residual ``is_in`` mask in memory — 365 ms → 37 ms on the same fetch,
and it keeps improving as row groups shrink.

Sound for any column with footer min/max stats; groups without stats
are always read. The leaves' postings misses and the term-stats reads
use it over the sorted postings layout (sorted by (field, term,
shard)), where a point read touches O(1) row groups. The doc store
needs no search: a docid IS its row number, so the root doc fetch
(``search.fetch_doc_payloads``) addresses its row groups directly and
reads them through :func:`cached_row_groups`.
"""

from __future__ import annotations

from bisect import bisect_left


def cached_row_groups(path: str, groups, columns, cache) -> list:
    """``columns`` of each of the row ``groups`` of the immutable file
    at ``path``, one Table per group in the given order, each kept
    DECODED in ``cache`` (an :class:`~quickwit_spark.functions.lru.LRU`)
    under ``(path, row group, tuple(columns))``, so a repeated read
    skips the decompress + decode.

    Every missing group comes from one read (measured 10-15 % cheaper
    than a read per group); each group's slice of it is cached on its
    own. The slices share the read's buffers, so each is charged its
    row share of them (Table.nbytes costs ~50 us a call; the buffer
    total ~2 us), and the memory returns once every sibling slice is
    evicted."""
    from quickwit_spark.functions import fs as fsio

    ckey = tuple(columns)
    parts = {g: cache.get((path, g, ckey)) for g in groups}
    missing = [g for g in groups if parts[g] is None]
    if missing:
        pf = fsio.parquet_file_cached(path)
        md = pf.metadata
        read = pf.read_row_groups(missing, columns=list(columns))
        size, off = read.get_total_buffer_size(), 0
        for g in missing:
            n = md.row_group(g).num_rows
            parts[g] = cache.put(
                (path, g, ckey), read.slice(off, n),
                size * n // max(1, read.num_rows),
            )
            off += n
    return [parts[g] for g in groups]


def read_pruned(path: str, columns, key_col: str, values, cache=None):
    """Read ``columns`` of the rows where ``key_col`` ∈ ``values``,
    touching only row groups whose [min, max] stats can contain one of
    the values. ``values`` must be non-empty; returns a pyarrow Table
    (the residual mask is exact). ``path`` is always an immutable index
    file (split parquet, versioned term stats), so the cached open is
    safe and saves the per-read footer parse and, via
    ``key_bounds``, the per-group statistics walk.

    ``cache`` keeps the DECODED row groups (see
    :func:`cached_row_groups`), so a repeated read only re-applies the
    residual mask. The leaves read postings through it only on a miss
    of their decoded postings entries (see ``search._ShardPostings``),
    so a term new to a warm handle pays the mask, not a second
    decompress of its row group."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from quickwit_spark.functions import fs as fsio

    pf = fsio.parquet_file_cached(path)
    vals = sorted(set(values))
    groups = []
    for g, bounds in enumerate(pf.key_bounds(key_col)):
        if bounds is None:
            groups.append(g)  # no stats — must read (sound)
            continue
        lo, hi = bounds
        i = bisect_left(vals, lo)
        if i < len(vals) and vals[i] <= hi:
            groups.append(g)
    read_cols = list(columns) if columns is not None else None
    if read_cols is not None and key_col not in read_cols:
        read_cols = read_cols + [key_col]
    if not groups:
        schema = pf.schema_arrow
        fields = [
            schema.field(c) for c in (read_cols or schema.names)
        ]
        tbl = pa.table(
            {f.name: pa.array([], type=f.type) for f in fields}
        )
    else:
        if cache is None:
            tbl = pf.read_row_groups(groups, columns=read_cols)
        else:
            parts = cached_row_groups(
                path, groups, read_cols or pf.schema_arrow.names, cache
            )
            tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
        mask = pc.is_in(tbl.column(key_col), value_set=pa.array(vals))
        tbl = tbl.filter(mask)
    if columns is not None and key_col not in columns:
        tbl = tbl.drop_columns([key_col])
    return tbl
