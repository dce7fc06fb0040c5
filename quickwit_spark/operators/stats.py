"""Index-level term statistics (global doc-freq per term).

The BM25 idf needs GLOBAL doc-freq. It is materialized as Σ df per
(field, term) over the published split set at publish time — the
analog of the reference's hotcache/footer (quickwit-directories/src/
hot_directory.rs: everything needed to *open* the index precomputed at
package time) — and the query path does a driver-side Parquet-pushdown
point read (~ms).

One df sum (:func:`sum_dfs`) serves both the refresh and the
Searcher's fallback when the artifact is missing: one split reader
(term-pruned through ``read_pruned`` when terms are given), aggregated
in Arrow in the driver up to DRIVER_REFRESH_MAX_SPLITS splits, and
above that one thread-capped ``mapInPandas`` job.

One artifact layout: a ``stats-<version>.parquet.shards/`` directory
named by the catalog's published-set version hash (so a stale one is
never used) holding range-sharded, internally sorted parquet parts and
a ``_MANIFEST.json`` with each part's (field, term) min/max. The
driver writes one part; the Spark path writes one part per range
partition FROM THE EXECUTORS (no vocab-sized driver materialization).
The manifest is written LAST and is the only commit marker: a
directory without a valid manifest reads as missing, and the next
refresh clears and rewrites it. Point reads consult the manifest,
touch only the covering part(s), and push the term filter into
row-group stats. A pre-change single ``stats-<version>.parquet`` file
reads as missing too; the next refresh writes the directory, and
``gc_term_stats`` collects superseded artifacts of either form.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa

from quickwit_spark.functions import fs as fsio
from quickwit_spark.functions.lru import LRU
from quickwit_spark.functions.parquet_io import read_pruned
from quickwit_spark.operators.build import POSTINGS_FILE
from quickwit_spark.plans.catalog import Catalog


DRIVER_REFRESH_MAX_SPLITS = 256
# shard-count bounds for the distributed layout: enough shards that a
# shard stays a few MB at billion-term vocabularies, few enough that
# the manifest and the carry-forward copy loop stay trivially small
STATS_MIN_SHARDS = 4
STATS_MAX_SHARDS = 64

_MANIFEST = "_MANIFEST.json"
_PART_KEYS = ("part", "rows", "field_min", "field_max", "term_min", "term_max")
_DF_SCHEMA = pa.schema(
    [("field", pa.string()), ("term", pa.string()), ("df", pa.int64())]
)

# parsed-manifest cache: safe because a shard directory is named by the
# published-set version hash and IMMUTABLE once its manifest commits
# (same invariant that justifies parquet_file_cached); bounded small —
# one entry per live stats version.
_MANIFEST_CACHE = LRU(lambda: 32)


def _shard_dir(out_path: str) -> str:
    return out_path + ".shards"


def _write_manifest(shard_dir: str, manifest: dict) -> None:
    """Atomic commit-marker write: local gets write-tmp-then-rename (a
    torn manifest must never exist — it would both wedge refresh and
    break the query path's fallback); object stores PUT atomically."""
    data = json.dumps(manifest).encode()
    target = fsio.join(shard_dir, _MANIFEST)
    if fsio.is_local(target):
        local = fsio.strip_local(target)
        tmp = local + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, local)
    else:
        fsio.write_bytes(target, data)


def _valid_manifest(manifest) -> bool:
    """An explicit shape check (not an assert: ``python -O`` strips
    those): a dict whose ``parts`` is a list of dicts with every
    manifest key."""
    parts = manifest.get("parts") if isinstance(manifest, dict) else None
    return isinstance(parts, list) and all(
        isinstance(p, dict) and all(k in p for k in _PART_KEYS) for p in parts
    )


def _load_manifest(shard_dir: str) -> dict | None:
    """Parsed manifest, cached per immutable path; None when missing,
    unparsable or misshapen (a torn/foreign file must degrade to the
    fallback, never crash the query path). A cache hit still checks the
    file exists: a stats directory removed from outside the process
    must read as missing so refresh rewrites it."""
    mpath = fsio.join(shard_dir, _MANIFEST)
    if not fsio.exists(mpath):
        _MANIFEST_CACHE.retain(lambda k: k != mpath)
        return None
    cached = _MANIFEST_CACHE.get(mpath)
    if cached is not None:
        return cached
    try:
        manifest = json.loads(fsio.read_bytes(mpath))
    except Exception:
        return None
    if not _valid_manifest(manifest):
        return None
    return _MANIFEST_CACHE.put(mpath, manifest, 1)


def _stats_exists(out_path: str) -> bool:
    """A shard directory whose (valid) manifest — written LAST — marks
    the commit."""
    return _load_manifest(_shard_dir(out_path)) is not None


def _df_candidate_splits(splits, missing, default_field):
    """Splits that can contribute a non-zero doc-freq for any of the
    ``missing`` (field, term) pairs: non-default-field terms have no
    recorded range (keep all splits); default-field terms prune on the
    split's (min, max) term range."""
    if any(f != default_field for f, _ in missing):
        return splits
    terms = [t for f, t in missing]
    out = []
    for s in splits:
        if s.term_range is None:
            out.append(s)
            continue
        lo, hi = s.term_range
        if any(lo <= t <= hi for t in terms):
            out.append(s)
    return out


def _read_split_dfs(split_dir: str, term_values) -> pa.Table:
    """The one split reader: a split's (field, term, df) rows; with
    ``term_values``, only those terms' rows (row groups pruned on their
    term bounds)."""
    path = fsio.join(split_dir, POSTINGS_FILE)
    if term_values is None:
        return fsio.read_table(path, columns=_DF_SCHEMA.names)
    return read_pruned(path, _DF_SCHEMA.names, "term", term_values)


def _df_dict(tables, terms) -> dict[tuple[str, str], int]:
    """Each of ``terms``' df in the (field, term, df) ``tables``; 0 for
    a pair no table holds."""
    found: dict[tuple[str, str], int] = {}
    for tbl in tables:
        for f, t, df in zip(
            tbl.column("field").to_pylist(),
            tbl.column("term").to_pylist(),
            tbl.column("df").to_pylist(),
        ):
            found[(f, t)] = int(df)
    return {t: found.get(t, 0) for t in terms}


def sum_dfs(spark, catalog: Catalog, terms=None):
    """Σ df per (field, term) over the catalog's published splits.

    With ``terms`` ((field, term) pairs), the splits are pruned to the
    candidates (:func:`_df_candidate_splits`), each reads only those
    terms' rows, and the result is a dict over exactly ``terms`` (0
    when absent) — the Searcher's fallback. Without, every pair is
    summed — the refresh — and the result is a (field, term)-sorted
    pyarrow Table when the driver summed it, else the aggregated Spark
    DataFrame, whose vocab-sized rows stay on the executors.

    Up to DRIVER_REFRESH_MAX_SPLITS splits are read in the driver and
    aggregated in Arrow C++ (no Spark job); more run as one
    ``mapInPandas`` job over at most 64 partitions."""
    from concurrent.futures import ThreadPoolExecutor

    splits = catalog.published_splits()
    term_values = None
    if terms is not None:
        # term-range pruning is sound for df: a split whose
        # default-field term range excludes EVERY term has zero
        # occurrences of them
        splits = _df_candidate_splits(
            splits, terms, catalog.config.default_search_field
        )
        term_values = sorted({t for _, t in terms})
    paths = [catalog.split_dir(s.split_id) for s in splits]

    if len(paths) <= DRIVER_REFRESH_MAX_SPLITS:
        with ThreadPoolExecutor(max_workers=max(1, min(len(paths), 16))) as ex:
            tables = list(ex.map(lambda p: _read_split_dfs(p, term_values), paths))
        agg = (
            (pa.concat_tables(tables) if tables else _DF_SCHEMA.empty_table())
            .group_by(["field", "term"])
            .aggregate([("df", "sum")])
            .rename_columns(_DF_SCHEMA.names)
        )
        if terms is not None:
            return _df_dict([agg], terms)
        return agg.sort_by([("field", "ascending"), ("term", "ascending")])

    def read_dfs(iterator):
        from quickwit_spark.operators.build import limit_worker_threads

        limit_worker_threads()
        for pdf in iterator:
            for path in pdf["path"]:
                yield _read_split_dfs(path, term_values).to_pandas()

    agg = (
        spark.createDataFrame([(p,) for p in paths], "path string")
        .repartition(min(len(paths), 64))
        .mapInPandas(read_dfs, schema="field string, term string, df long")
        .groupBy("field", "term")
        .sum("df")
        .withColumnRenamed("sum(df)", "df")
    )
    if terms is not None:
        return _df_dict([agg.toArrow()], terms)  # term-pruned: small
    return agg


def _write_part(shard_dir: str, pid: int, tbl: pa.Table) -> dict:
    """Write one sorted (field, term, df) part; returns its manifest
    entry (the part's first and last rows bound its keys)."""
    name = f"part-{pid:05d}.parquet"
    fsio.write_table(
        tbl, fsio.join(shard_dir, name), compression="zstd", row_group_size=32768
    )
    field, term = tbl.column("field"), tbl.column("term")
    return {
        "part": name, "rows": tbl.num_rows,
        "field_min": field[0].as_py(), "field_max": field[-1].as_py(),
        "term_min": term[0].as_py(), "term_max": term[-1].as_py(),
    }


def refresh_term_stats(spark, catalog: Catalog) -> str | None:
    """Write the stats artifact for the CURRENT published set from
    :func:`sum_dfs`. No-op if already current. The driver writes one
    part; the Spark path range-shards the sums and writes one part per
    shard from the executors. Manifest last."""
    out_path = catalog.term_stats_path()
    if _stats_exists(out_path):
        return out_path
    if not catalog.published_splits():
        return None
    shard_dir = _shard_dir(out_path)
    # a retry after a mid-write failure finds parts but no VALID
    # manifest: clear and rewrite (the version-hashed name makes this
    # idempotent)
    fsio.rmtree(shard_dir)
    fsio.makedirs(shard_dir)
    agg = sum_dfs(spark, catalog)
    if isinstance(agg, pa.Table):
        parts = [_write_part(shard_dir, 0, agg)] if agg.num_rows else []
    else:
        def write_shard(iterator):
            """Executor-side shard writer: one sorted part per range
            partition, emitted row = the part's manifest entry."""
            from pyspark import TaskContext

            from quickwit_spark.operators.build import limit_worker_threads

            limit_worker_threads()
            pdfs = list(iterator)
            if not pdfs:
                return
            tbl = pa.Table.from_pandas(
                pd.concat(pdfs, ignore_index=True), preserve_index=False
            )
            pid = TaskContext.get().partitionId()
            yield pd.DataFrame([_write_part(shard_dir, pid, tbl)])

        n_shards = max(
            STATS_MIN_SHARDS,
            min(STATS_MAX_SHARDS, len(catalog.published_splits()) // 8),
        )
        rows = (
            # range-shard on the lookup key, sort INSIDE each shard:
            # point reads touch one shard + one row group; shard key
            # ranges are disjoint by construction
            agg.repartitionByRange(n_shards, "field", "term")
            .sortWithinPartitions("field", "term")
            .mapInPandas(
                write_shard,
                schema="part string, rows long, field_min string, "
                       "field_max string, term_min string, term_max string",
            )
            .collect()  # shard-count-sized (<= STATS_MAX_SHARDS rows)
        )
        parts = sorted((r.asDict() for r in rows), key=lambda p: p["part"])
    # manifest LAST: its presence is the commit marker
    _write_manifest(shard_dir, {"parts": parts})
    return out_path


def carry_forward_term_stats(catalog: Catalog, old_version: str) -> bool:
    """Merges don't change global doc-freqs (Σ df is invariant under
    split concatenation), so the stats artifact survives a merge round
    verbatim — republish it under the new version name. The copy loop
    is shard-count-sized and writes its manifest last (same commit
    marker discipline). False when the old version has no artifact."""
    new_path = catalog.term_stats_path()
    if _stats_exists(new_path):
        return True
    old_dir = _shard_dir(
        fsio.join(catalog.index_dir, "term_stats", f"stats-{old_version}.parquet")
    )
    manifest = _load_manifest(old_dir)
    if manifest is None:
        return False
    new_dir = _shard_dir(new_path)
    fsio.rmtree(new_dir)
    fsio.makedirs(new_dir)
    for p in manifest["parts"]:
        fsio.copy_file(fsio.join(old_dir, p["part"]), fsio.join(new_dir, p["part"]))
    _write_manifest(new_dir, manifest)
    return True


def gc_term_stats(index_dir: str) -> None:
    """Delete every stats artifact under ``term_stats/`` except the
    current version's (superseded shard directories, pre-change single
    files, stray ``.tmp`` files). Only for an index that keeps no
    history: a time-travel handle reads its own version's artifact.
    The catalog is loaded AFTER the listing, so an artifact a
    concurrent writer published (commit first, artifact second) is
    never taken for a stale one."""
    root = fsio.join(index_dir, "term_stats")
    names = fsio.listdir(root)
    keep = _shard_dir(f"stats-{Catalog.load(index_dir).stats_version()}.parquet")
    for name in names:
        if name.startswith("stats-") and name != keep:
            fsio.rmtree(fsio.join(root, name))


def lookup_term_stats(
    catalog: Catalog, terms: set[tuple[str, str]]
) -> dict[tuple[str, str], int] | None:
    """Driver-side pushdown point read of global dfs; None if no stats
    artifact for the current published set exists. The manifest prunes
    to the covering part(s) first, then the per-part read pushes the
    term filter into row-group stats."""
    shard_dir = _shard_dir(catalog.term_stats_path())
    manifest = _load_manifest(shard_dir)
    if manifest is None:
        return None
    tables = []
    try:
        for p in manifest["parts"]:
            # parts are range-partitioned and sorted on the COMPOSITE
            # (field, term) key, so the manifest's first/last-row
            # bounds are composite bounds: a (field, term) lookup key
            # belongs to this part iff it lies inside them under tuple
            # comparison (term-only spans would mis-prune across a
            # field boundary, where the term column resets)
            lo = (p["field_min"], p["term_min"])
            hi = (p["field_max"], p["term_max"])
            hit = sorted({t for (f, t) in terms if lo <= (f, t) <= hi})
            if hit:
                tables.append(
                    read_pruned(fsio.join(shard_dir, p["part"]), None, "term", hit)
                )
    except Exception:
        # a cached manifest whose parts vanished (stats dir moved or
        # GC'd out from under this process) must degrade to the
        # fallback, never crash the query path
        mpath = fsio.join(shard_dir, _MANIFEST)
        _MANIFEST_CACHE.retain(lambda k: k != mpath)
        return None
    return _df_dict(tables, terms)
