"""Spans around the calls into each engine module's public functions,
and the per-layer metrics derived from them.

The benchmark times layers only from outside: ``install`` replaces a
module attribute (or class attribute) with a wrapper that records a
span when the tracer is enabled and otherwise calls straight through.
Work inside Spark's Python workers (the build kernel, the fan-out
leaf) is out of reach of these spans; it is measured by the
single-thread probes in ``workloads.py`` and shows up as self time of
the driver-side span that waits for it.
"""

from __future__ import annotations

import os
import statistics

from perfbench.harness import Tracer, self_times

SEARCH = "operators.search.search"
PARTIALS = "operators.search.search_partials"
ROOT_MERGE = "operators.search.merge_partials"
FETCH = "operators.search.fetch_docs"
PARSE = "plans.query.parse_query"
PRUNE = "plans.pruning.prune_splits"
GLOBAL_DF = "operators.stats.global_df"
LOOKUP = "operators.stats.lookup_term_stats"
REFRESH = "operators.stats.refresh_term_stats"
CARRY = "operators.stats.carry_forward_term_stats"
BUILD = "operators.build.build_index"
LOAD = "plans.catalog.load"
CREATE = "plans.catalog.create"
COMMIT = "plans.catalog.commit"
LINEAGE = "plans.catalog.append_lineage"
MERGE_PIPELINE = "operators.merge.run_merge_pipeline"
PLAN = "operators.merge.plan_merge_operations"
ROUND = "operators.merge.execute_merge_round"

# per-layer metrics read the first of these phases that reached a layer
PHASES = ("window", "probe", "setup")

# every per-layer metric of a traced run, with its unit
LAYER_UNITS = {
    "functions.tokenize.turns_per_s": "turns/s",
    "operators.build.kernel_turns_per_s": "turns/s",
    "operators.build.write_s": "s",
    "operators.build.job_s": "s",
    "operators.build.splits": "count",
    "operators.build.index_bytes": "bytes",
    "plans.catalog.load_s": "s",
    "plans.catalog.bytes_per_commit": "bytes",
    "operators.stats.lookup_cold_s": "s",
    "operators.stats.refresh_s": "s",
    "operators.merge.plan_s": "s",
    "operators.merge.round_s": "s",
    "operators.merge.carry_forward_s": "s",
    "operators.merge.ops": "count",
    "operators.merge.bytes_rewritten": "bytes",
    "plans.query.parse_s": "s",
    "plans.pruning.prune_s": "s",
    "plans.pruning.splits_kept_frac": "fraction",
    "operators.search.leaf_s": "s",
    "operators.search.leaf_driver_mode_s": "s",
    "operators.search.leaf_spark_mode_s": "s",
    "operators.search.root_merge_s": "s",
    "operators.search.fetch_s": "s",
    "operators.search.fetch_splits": "count",
    "operators.search.partial_rows": "count",
    "operators.search.num_hits": "count",
    "trace.other_frac": "fraction",
    "trace.op_p50_s": "s",
    "trace.overhead_frac": "fraction",
    "trace.spans": "count",
}


def _catalog_bytes(index_dir: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of the catalog's own files: everything in the
    index directory except split data, term stats and lineage."""
    out = {}
    for root, dirs, files in os.walk(index_dir):
        if root == index_dir:
            dirs[:] = [d for d in dirs if d not in ("splits", "term_stats", "lineage")]
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def install(tracer: Tracer) -> list:
    """Wrap the engine's layer entry points. Returns what ``uninstall``
    needs to put back."""
    import quickwit_spark.operators.build as qb
    import quickwit_spark.operators.merge as qm
    import quickwit_spark.operators.search as qs
    import quickwit_spark.operators.stats as qst
    import quickwit_spark.plans.catalog as qc

    saved = []

    def patch(owner, attr, name, counter=None, before=None):
        """Module attributes are looked up at call time by the engine,
        and class attributes at attribute access, so replacing either
        puts the span at every call site."""
        raw = owner.__dict__[attr]
        is_static = isinstance(raw, staticmethod)
        fn = raw.__func__ if is_static else raw
        wrapped = tracer.wrap(name, fn, counter, before)
        setattr(owner, attr, staticmethod(wrapped) if is_static else wrapped)
        saved.append((owner, attr, raw))

    looked_up: set = set()

    def lookup_counts(args, result, state):
        cold = id(args[0]) not in looked_up  # first lookup on this catalog
        looked_up.add(id(args[0]))
        return {"cold": int(cold), "terms": len(args[1])}

    def commit_counts(args, result, before):
        after = _catalog_bytes(args[0].index_dir)
        return {"bytes": sum(
            size for p, (size, mt) in after.items() if before.get(p) != (size, mt)
        )}

    # search path
    patch(qs.Searcher, "search", SEARCH, lambda a, r, st: {
        "num_hits": int(r.num_hits), "errors": len(r.errors),
    })
    patch(qs.Searcher, "search_partials", PARTIALS, lambda a, r, st: {
        "partial_rows": int(len(r[0])),
    })
    patch(qs.Searcher, "_global_df", GLOBAL_DF)
    patch(
        qs.Searcher, "_fetch_missing_docs", FETCH,
        lambda a, r, st: {"fetch_splits": st},
        lambda a: len({h.split_id for h in a[1].hits if h.doc is None}),
    )
    patch(qs, "merge_partials", ROOT_MERGE)
    patch(qs, "parse_query", PARSE)
    patch(qs, "prune_splits", PRUNE, lambda a, r, st: {
        "kept": len(r), "published": len(a[0]),
    })
    patch(qst, "lookup_term_stats", LOOKUP, lookup_counts)
    patch(qst, "refresh_term_stats", REFRESH)
    patch(qst, "carry_forward_term_stats", CARRY)
    # build and merge
    patch(qb, "build_index", BUILD)
    patch(qm, "run_merge_pipeline", MERGE_PIPELINE)
    patch(qm, "plan_merge_operations", PLAN, lambda a, r, st: {"ops": len(r)})
    patch(qm, "execute_merge_round", ROUND, lambda a, r, st: {
        "ops": len(a[2]),
        "bytes_rewritten": sum(s.size_in_bytes for op in a[2] for s in op),
    })
    # catalog: load/create are static methods; each backend owns _commit
    patch(qc.Catalog, "load", LOAD)
    patch(qc.Catalog, "create", CREATE)
    patch(qc.Catalog, "append_lineage", LINEAGE)
    for cls in (qc.Catalog, qc.SqliteCatalog, qc.ManifestCatalog):
        if "_commit" in cls.__dict__:
            patch(
                cls, "_commit", COMMIT, commit_counts,
                lambda a: _catalog_bytes(a[0].index_dir),
            )
    return saved


def uninstall(saved: list) -> None:
    for owner, attr, orig in reversed(saved):
        setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

def _pick(spans: list, name: str, phases=PHASES, where=None) -> list:
    """Spans named ``name`` (and passing ``where``) from the first of
    ``phases`` that has any."""
    for phase in phases:
        got = [
            s for s in spans
            if s.name == name and s.phase == phase and (where is None or where(s))
        ]
        if got:
            return got
    return []


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def layer_metrics(spans: list) -> dict:
    """Per-layer metrics from the recorded spans: the median per call,
    read from the first phase (window, probe, setup) that reached the
    layer. The probe runs the mix in driver mode (the leaf's in-process
    floor) and a few shapes in Spark mode (the distributed fan-out)."""
    selfs = self_times(spans)

    def dur(name, phases=PHASES):
        return _median(s.duration for s in _pick(spans, name, phases))

    def self_(name, phases=PHASES):
        return _median(selfs[s.span_id] for s in _pick(spans, name, phases))

    def count(name, key):
        return _mean(s.counts.get(key, 0) for s in _pick(spans, name))

    kept = [
        s.counts["kept"] / s.counts["published"]
        for s in _pick(spans, PRUNE) if s.counts.get("published")
    ]
    cold = _pick(spans, LOOKUP, where=lambda s: s.counts.get("cold"))
    rounds = _pick(spans, ROUND)
    return {
        "operators.build.job_s": self_(BUILD),
        "plans.catalog.load_s": dur(LOAD),
        "plans.catalog.bytes_per_commit": count(COMMIT, "bytes"),
        "operators.stats.lookup_cold_s": _median(s.duration for s in cold),
        "operators.stats.refresh_s": dur(REFRESH),
        "operators.merge.plan_s": dur(PLAN),
        "operators.merge.round_s": dur(ROUND),
        "operators.merge.carry_forward_s": dur(CARRY),
        "operators.merge.ops": sum(s.counts.get("ops", 0) for s in rounds),
        "operators.merge.bytes_rewritten": sum(
            s.counts.get("bytes_rewritten", 0) for s in rounds
        ),
        "plans.query.parse_s": dur(PARSE),
        "plans.pruning.prune_s": dur(PRUNE),
        "plans.pruning.splits_kept_frac": _mean(kept),
        "operators.search.leaf_s": self_(PARTIALS),
        "operators.search.leaf_driver_mode_s": self_(PARTIALS, ("probe",)),
        "operators.search.leaf_spark_mode_s": self_(PARTIALS, ("probe_spark",)),
        "operators.search.root_merge_s": dur(ROOT_MERGE),
        "operators.search.fetch_s": dur(FETCH),
        "operators.search.fetch_splits": count(FETCH, "fetch_splits"),
        "operators.search.partial_rows": count(PARTIALS, "partial_rows"),
        "operators.search.num_hits": count(SEARCH, "num_hits"),
    }
