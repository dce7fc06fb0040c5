"""The benchmark's workloads, their correctness checks and the layer
probes of the traced run.

Every workload is closed-loop with one client in one process: the next
operation starts when the previous one returns. Inputs come from
``generate_transcripts`` with the run's seed; the engine only ever sees
the generated rows.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import layers
from perfbench.harness import Tally, Tracer, same_ranking, summarize, uncovered_fraction

# Sizes, chosen so one run fits its time budget on a 4-core host (see
# README.md, "Sizing").
APPEND_BASE_TURNS, APPEND_BASE_SPLITS = 12_500, 4
APPEND_TURNS, APPEND_SPLITS = 12_500, 2
# keeps the published split count at or below DRIVER_EXEC_MAX_SPLITS
# (32) while appending: 4 base + 2 warm-up + 13 appends of 2 splits
MAX_APPENDS = 13
SEARCH_TURNS, SEARCH_SPLITS = 40_000, 8
# ranked shapes the traced run also sends through the Spark fan-out
SPARK_MODE_PROBES = 2
HOT_TERM_FRAC = 0.1
K = 10
# a rare term: its full hit list fits in one page, so the before/after
# merge comparison covers every hit and no tie is cut at the page end
MERGE_CHECK_QUERY, MERGE_CHECK_K = "w00420", 1000
FRESH_QUERIES = ("w00010", "w00420", "hotterm", "w00003", "w00007")


@dataclass
class Shape:
    name: str
    query: str
    kwargs: dict = field(default_factory=dict)
    ranked: bool = True  # WAND-eligible; False = exhaustive evaluator


def query_mix(rows) -> list[Shape]:
    """The bench.py QUERY_SET shapes plus a [start_us, end_us) shape
    over the middle half of the rows' time span."""
    ts = rows["ts"].astype("int64") // 1000
    lo, hi = int(ts.min()), int(ts.max())
    quarter = (hi - lo) // 4
    shapes = [
        Shape("term", "w00010"),
        Shape("term_rare", "w00420"),
        Shape("hot_term", "hotterm"),
        Shape("conj", "w00003 w00007"),
        Shape("disj", "w00010 OR w00020"),
        Shape("neg", "w00004 -w00001"),
        Shape("field", "role:assistant AND w00002"),
        Shape("phrase", '"w00001 w00002"~2', ranked=False),
        Shape(
            "time_range", "w00005",
            {"start_us": lo + quarter, "end_us": hi - quarter}, ranked=False,
        ),
        Shape("sorted", "w00002", {"sort_by": "ts"}, ranked=False),
        Shape(
            "agg", "w00001",
            {"k": 0, "aggs": {"r": {"terms": {"field": "role", "size": 5}}}},
            ranked=False,
        ),
    ]
    return shapes


def search_kwargs(shape: Shape) -> dict:
    return {"k": K, **shape.kwargs}


def generate(n_turns: int, seed: int):
    from quickwit_spark.sources.transcripts import generate_transcripts

    return generate_transcripts(n_turns, seed=seed, hot_term_frac=HOT_TERM_FRAC)


def write_parquet(rows, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(rows, preserve_index=False), path,
        coerce_timestamps="us", compression="zstd",
    )
    return path


def text_bytes(rows) -> int:
    return int(sum(len(t.encode("utf-8")) for t in rows["text"]))


def hit_key(h) -> tuple:
    return (h.conv_id, int(h.turn_idx))


def token_count(rows, term: str) -> int:
    """Rows whose text holds ``term`` as a whole token (generated text
    is space-separated lowercase tokens)."""
    return int((" " + rows["text"] + " ").str.contains(f" {term} ", regex=False).sum())


# ---------------------------------------------------------------------------
# the run: timing loop, correctness tally, traced probes
# ---------------------------------------------------------------------------

@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer
    tally: Tally = field(default_factory=Tally)
    report: dict = field(default_factory=dict)  # name -> (value, unit)
    op_times: list = field(default_factory=list)  # untraced ops
    traced_op_times: list = field(default_factory=list)
    traced_windows: list = field(default_factory=list)
    probe_metrics: dict = field(default_factory=dict)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def loop(self, op, seconds: float, min_ops: int = 1, max_ops: int | None = None):
        """Closed loop: start op(i) while the window lasts. A traced run
        traces every other op, so the untraced ones give the tracing
        overhead from the same process."""
        clock = time.perf_counter
        t0 = clock()
        i = 0
        while (clock() - t0 < seconds or i < min_ops) and (max_ops is None or i < max_ops):
            traced = self.trace and i % 2 == 0
            self.tracer.enabled = traced
            self.tracer.phase = "window"
            self.tracer.request = i
            a = clock()
            op(i)
            b = clock()
            self.tracer.enabled = False
            if traced:
                self.traced_op_times.append(b - a)
                self.traced_windows.append((a, b))
            else:
                self.op_times.append(b - a)
            i += 1
        self.tracer.request = None
        return i

    def all_op_times(self) -> list:
        return self.op_times + self.traced_op_times

    def put(self, name: str, value, unit: str) -> None:
        self.report[name] = (value, unit)


def op_checked(run: Run, what: str, fn):
    """Call fn(); a raise is recorded as a failed op and returns None."""
    try:
        return fn()
    except Exception as exc:  # noqa: BLE001 - counted and reported
        run.tally.record(False, f"{what}: {type(exc).__name__}: {exc}")
        return None


def check_search(resp, shape: Shape, oracle, rows) -> str | None:
    """Compare one engine response with the oracle over the same rows:
    num_hits, then rank identity on (conv_id, turn_idx) with scores
    within 1e-6 (keys only for sort_by), or the role buckets for aggs."""
    if resp.errors:
        return f"{shape.name}: engine errors {resp.errors[:1]}"
    kw = search_kwargs(shape)
    aggs = kw.pop("aggs", None)
    n_exp, exp_hits = oracle.search(shape.query, **kw)
    if resp.num_hits != n_exp:
        return f"{shape.name}: num_hits {resp.num_hits}, expected {n_exp}"
    if aggs:
        padded = " " + rows["text"] + " "
        mask = padded.str.contains(f" {shape.query} ", regex=False)
        want = {str(k): int(v) for k, v in rows.loc[mask, "role"].value_counts().items()}
        got = {
            str(b["key"]): int(b["doc_count"])
            for b in resp.aggs["r"]["buckets"]
        }
        return None if got == want else f"{shape.name}: buckets {got}, expected {want}"
    keyed = "sort_by" not in kw
    got = [(hit_key(h), h.score if keyed else None) for h in resp.hits]
    want = [((h.conv_id, int(h.turn_idx)), h.score if keyed else None) for h in exp_hits]
    diff = same_ranking(got, want)
    return None if diff is None else f"{shape.name}: {diff}"


def check_payloads(resp, text_by_key: dict) -> str | None:
    """Every hit's stored text must equal its input row's, byte for
    byte (the per-turn round-trip invariant)."""
    for h in resp.hits:
        want = text_by_key.get(hit_key(h))
        got = (h.doc or {}).get("text")
        if want is None or got is None or got.encode() != want.encode():
            return f"payload of {hit_key(h)} differs from its input row"
    return None


def texts_by_key(rows) -> dict:
    return dict(zip(zip(rows["conv_id"], rows["turn_idx"].astype(int)), rows["text"]))


def same_as_first(resp, first) -> bool:
    """Repeats of a shape must answer exactly like its first run."""
    return (
        not resp.errors
        and resp.num_hits == first.num_hits
        and [hit_key(h) for h in resp.hits] == [hit_key(h) for h in first.hits]
    )


def index_bytes(index_dir: str) -> tuple[int, int]:
    from quickwit_spark.plans.catalog import Catalog

    cat = Catalog.load(index_dir)
    splits = cat.published_splits()
    return sum(s.size_in_bytes for s in splits), len(splits)


# ---------------------------------------------------------------------------
# probes (traced run only): every layer the window did not reach is
# exercised once on this workload's own index and rows
# ---------------------------------------------------------------------------

def probe(run: Run, index_dir: str, rows, mix: list[Shape], n_splits: int) -> None:
    import quickwit_spark.operators.merge as qm
    import quickwit_spark.operators.stats as qst
    from quickwit_spark.operators.search import Searcher
    from quickwit_spark.plans.catalog import Catalog

    size, n_index_splits = index_bytes(index_dir)  # before the probe merge
    run.probe_metrics.update({
        "operators.build.splits": n_index_splits,
        "operators.build.index_bytes": size,
    })
    tr = run.tracer
    tr.phase = "probe"
    tr.enabled = True
    req = 10_000
    for _ in range(3):
        tr.request = req = req + 1
        Catalog.load(index_dir)
    # a fresh Searcher: cold stats lookups, then each shape once in
    # driver mode (the floor the fan-out could reach)
    s = Searcher(run.spark, index_dir)
    for shape in mix:
        tr.request = req = req + 1
        s.search(shape.query, mode="driver", **search_kwargs(shape))
    # the distributed root/leaf path: a mapInPandas job per query
    tr.phase = "probe_spark"
    for shape in [sh for sh in mix if sh.ranked][:SPARK_MODE_PROBES]:
        tr.request = req = req + 1
        s.search(shape.query, mode="spark", **search_kwargs(shape))
    tr.phase = "probe"
    if not any(sp.name == layers.ROUND for sp in tr.spans):
        # merge the two smallest splits: one real merge round on this
        # workload's splits, then the stats carry-forward
        cat = Catalog.load(index_dir)
        pre = cat.stats_version()
        tr.request = req = req + 1
        qm.plan_merge_operations(cat.published_splits(), cat.config)
        pair = sorted(cat.published_splits(), key=lambda sp: sp.num_docs)[:2]
        if len(pair) == 2:
            qm.execute_merge_round(run.spark, cat, [pair])
            qst.carry_forward_term_stats(cat, pre)
    tr.enabled = False
    tr.request = None
    run.probe_metrics.update(kernel_probe(run, rows, n_splits))


def kernel_probe(run: Run, rows, n_splits: int) -> dict:
    """The build kernel runs in Spark's Python workers, out of reach of
    driver spans: time its parts here on one split's rows, one thread,
    as a worker would run them."""
    import pyarrow as pa

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.functions.tokenize import tokenize_encode
    from quickwit_spark.operators.build import (
        build_split_tables_arrow,
        limit_worker_threads,
        write_split,
    )
    from quickwit_spark.oracle import route_split

    limit_worker_threads()  # the kernel's own thread cap (driver is done)
    ords = np.fromiter(
        (route_split(c, n_splits) for c in rows["conv_id"]), np.int64, len(rows)
    )
    tbl = pa.Table.from_pandas(rows[ords == 0], preserve_index=False)
    n = len(tbl)
    cfg = IndexConfig()
    tok, kern, write = [], [], []
    for rep in range(3):
        t = time.perf_counter()
        tokenize_encode(tbl.column(cfg.default_search_field), "default")
        tok.append(time.perf_counter() - t)
        t = time.perf_counter()
        postings, docs, _ = build_split_tables_arrow(tbl, cfg)
        kern.append(time.perf_counter() - t)
        t = time.perf_counter()
        write_split(postings, docs, run.path("probe-split", str(rep)))
        write.append(time.perf_counter() - t)
    return {
        "functions.tokenize.turns_per_s": n / statistics.median(tok),
        "operators.build.kernel_turns_per_s": n / statistics.median(kern),
        "operators.build.write_s": statistics.median(write),
    }


def trace_metrics(run: Run) -> dict:
    """Per-layer metrics, the share of traced window time no span
    covers, and the tracing overhead measured in the same window."""
    out = layers.layer_metrics(run.tracer.spans)
    out.update(run.probe_metrics)
    window_spans = [s for s in run.tracer.spans if s.phase == "window"]
    out["trace.other_frac"] = uncovered_fraction(run.traced_windows, window_spans)
    traced = statistics.median(run.traced_op_times) if run.traced_op_times else 0.0
    untraced = statistics.median(run.op_times) if run.op_times else 0.0
    out["trace.op_p50_s"] = traced
    out["trace.overhead_frac"] = (traced - untraced) / untraced if untraced else 0.0
    out["trace.spans"] = len(run.tracer.spans)
    return out


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Workload:
    """setup() makes the inputs and whatever index the workload needs;
    window() runs the timed closed loop; verify() checks outputs
    untimed; finish() reports. ``index_dir``/``rows``/``mix``/
    ``n_splits`` feed the traced run's probes."""

    mix: list
    n_splits: int

    def __init__(self, run: Run):
        self.run = run

    def end_to_end(self) -> dict:
        times = self.run.all_op_times()
        size, _ = index_bytes(self.index_dir)
        return {
            "op_p50_s": statistics.median(times),
            "index_bytes_per_text_byte": size / self.input_text_bytes,
        }


class AppendMerge(Workload):
    """Small appends into one index, each with its own ingest_id and a
    read-after-write query on a long-lived Searcher; then a merge."""

    n_splits = APPEND_BASE_SPLITS

    def setup(self):
        from quickwit_spark.operators import build as qb
        from quickwit_spark.operators.search import Searcher

        r = self.run
        base = generate(APPEND_BASE_TURNS, r.seed)
        self.batches = [
            generate(APPEND_TURNS, r.seed * 1000 + i + 1) for i in range(MAX_APPENDS + 1)
        ]
        # every batch numbers its conversations from 0: prefix them so
        # (conv_id, turn_idx) names one input row across the index
        for i, b in enumerate(self.batches):
            b["conv_id"] = f"a{i:02d}-" + b["conv_id"]
        self.paths = [
            write_parquet(b, r.path(f"append-{i}.parquet")) for i, b in enumerate(self.batches)
        ]
        self.index_dir = r.path("appends")
        qb.build_index(
            r.spark, write_parquet(base, r.path("base.parquet")), self.index_dir,
            n_splits=APPEND_BASE_SPLITS, ingest_id="base",
        )
        self.searcher = Searcher(r.spark, self.index_dir)
        self.appended = [base]
        self.append_s: list = []
        self.fresh: list = []  # (seconds, term, response, batches appended)
        self._append(0, "warm")  # warm-up append + read, not timed
        self.append_s.clear()
        self.fresh.clear()
        self.rows = base
        self.mix = query_mix(base)

    def _append(self, batch: int, ingest_id: str):
        from quickwit_spark.operators import build as qb

        r = self.run
        t = time.perf_counter()
        qb.build_index(
            r.spark, self.paths[batch], self.index_dir,
            n_splits=APPEND_SPLITS, ingest_id=ingest_id,
        )
        self.append_s.append(time.perf_counter() - t)
        self.appended.append(self.batches[batch])
        term = FRESH_QUERIES[batch % len(FRESH_QUERIES)]
        t = time.perf_counter()
        resp = self.searcher.search(term, k=K)
        self.fresh.append((time.perf_counter() - t, term, resp, len(self.appended)))

    def op(self, i: int):
        op_checked(self.run, f"append {i}", lambda: self._append(i + 1, f"a{i:03d}"))

    def window(self):
        from quickwit_spark.operators import merge as qm

        r = self.run
        r.loop(self.op, r.seconds, max_ops=MAX_APPENDS)
        self.before = self.searcher.search(MERGE_CHECK_QUERY, k=MERGE_CHECK_K)
        # one merge per run, timed on its own; traced when the run is
        r.tracer.enabled = r.trace
        t = time.perf_counter()
        self.merge_ops = op_checked(r, "merge", lambda: qm.run_merge_pipeline(r.spark, self.index_dir))
        self.merge_s = time.perf_counter() - t
        r.tracer.enabled = False

    def verify(self):
        import pandas as pd

        r = self.run
        self.input_text_bytes = sum(text_bytes(b) for b in self.appended)
        texts = texts_by_key(pd.concat(self.appended, ignore_index=True))
        for dt, term, resp, n_batches in self.fresh:
            want = token_count(pd.concat(self.appended[:n_batches], ignore_index=True), term)
            bad = check_payloads(resp, texts)
            r.tally.record(
                not resp.errors and resp.num_hits == want and bad is None,
                f"fresh {term!r}: num_hits {resp.num_hits}, expected {want}, "
                f"errors {resp.errors[:1]}, {bad}",
            )
        if self.merge_ops is None:
            return  # already counted as failed
        after = self.searcher.search(MERGE_CHECK_QUERY, k=MERGE_CHECK_K)
        total = sum(len(b) for b in self.appended)
        problems = []
        if self.before.num_hits > MERGE_CHECK_K:
            problems.append(f"check query has {self.before.num_hits} hits > k")
        if self.merge_ops == 0:
            problems.append("merge planned no operation")
        if self.searcher.n_docs != total:
            problems.append(f"num_docs {self.searcher.n_docs} after merge, expected {total}")
        # the full hit list in canonical order: split ids and docids
        # change under merge, so tied scores may swap places
        canon = lambda resp: sorted(  # noqa: E731
            (hit_key(h), h.score) for h in resp.hits
        )
        diff = same_ranking(canon(after), canon(self.before))
        if diff or after.num_hits != self.before.num_hits or after.errors:
            problems.append(f"merge changed results: {diff} {after.errors[:1]}")
        bad = check_payloads(after, texts)
        if bad:
            problems.append(bad)
        r.tally.record(not problems, "; ".join(problems))

    def finish(self):
        r = self.run
        r.put("append_p50_s", statistics.median(self.append_s), "s")
        r.put("fresh_search_p50_s", statistics.median(f[0] for f in self.fresh), "s")
        r.put("merge_s", self.merge_s, "s")


class SearchWarm(Workload):
    """A warm driver-mode Searcher over an index of at most 32 splits,
    running a seeded mix of query shapes."""

    n_splits = SEARCH_SPLITS

    def setup(self):
        from quickwit_spark.operators import build as qb
        from quickwit_spark.operators.search import Searcher

        r = self.run
        self.rows = generate(SEARCH_TURNS, r.seed)
        self.input_text_bytes = text_bytes(self.rows)
        self.index_dir = r.path("index")
        qb.build_index(
            r.spark, write_parquet(self.rows, r.path("src.parquet")), self.index_dir,
            n_splits=self.n_splits, ingest_id="b0000",
        )
        self.mix = query_mix(self.rows)
        self.searcher = Searcher(r.spark, self.index_dir)
        for shape in self.mix:  # warm caches and code paths
            self.searcher.search(shape.query, **search_kwargs(shape))
        # rounds of seeded permutations: every shape runs equally often,
        # so the mix does not shift with the seed
        rng = np.random.default_rng(r.seed)
        self.order = [
            self.mix[j] for _ in range(10_000) for j in rng.permutation(len(self.mix))
        ]
        self.done: list = []  # (shape, seconds, resp)

    def op(self, i: int):
        shape = self.order[i]
        t = time.perf_counter()
        resp = op_checked(self.run, shape.name, lambda: self.searcher.search(
            shape.query, **search_kwargs(shape)
        ))
        dt = time.perf_counter() - t
        if resp is not None:
            self.done.append((shape, dt, resp))

    def window(self):
        self.run.loop(self.op, self.run.seconds)

    def verify(self):
        from quickwit_spark.oracle import OracleEngine

        tally = self.run.tally
        tally.check("indexed turns", self.searcher.n_docs, SEARCH_TURNS)
        oracle = OracleEngine(self.rows, n_splits=self.n_splits)
        texts = texts_by_key(self.rows)
        first: dict = {}
        for shape, _, resp in self.done:
            if shape.name not in first:
                first[shape.name] = resp
                diff = check_search(resp, shape, oracle, self.rows)
            elif not same_as_first(resp, first[shape.name]):
                diff = f"{shape.name}: repeat answered differently"
            else:
                diff = None
            diff = diff or check_payloads(resp, texts)
            tally.record(diff is None, diff or "")

    def finish(self):
        r = self.run
        allq = summarize(dt for _, dt, _ in self.done)
        ranked = [dt for s, dt, _ in self.done if s.ranked]
        filtered = [dt for s, dt, _ in self.done if not s.ranked]
        r.put("search_p50_s", allq["p50"], "s")
        r.put("search_p95_s", allq["p95"], "s")
        r.put("search_queries", allq["n"], "count")
        r.put("search_beyond_p95", allq["beyond_p95"], "count")
        r.put("search_ranked_p50_s", statistics.median(ranked) if ranked else 0.0, "s")
        r.put("search_filtered_p50_s", statistics.median(filtered) if filtered else 0.0, "s")


WORKLOADS = {
    "append_merge": AppendMerge,
    "search_warm": SearchWarm,
}
