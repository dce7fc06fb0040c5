"""The pandas aggregation the leaf and root aggregations are tested against.

``_partial_agg`` and ``_final_agg`` are the per-split and root
aggregation as they ran before the aggregations moved onto cached
numpy columns: per-split ``value_counts`` / ``groupby`` over the
column's ``to_numpy(zero_copy_only=False)`` values, then a named
``groupby(...).agg`` over every split's bucket records. They share only
the request helpers (order, split_size, sub-agg payload) with
``operators/search.py``, so ``tests/test_agg_reference.py`` comparing
the two pins the bincount leaves and the dict root merge against
pandas' own grouping, sorting and NaN rules.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from quickwit_spark.operators.search import (
    _AGG_COLS,
    AGGREGATION_BUCKET_LIMIT,
    _bucket_metric_value,
    _std_from_moments,
    _sub_stats_payload,
    _subagg_metric_col,
    _terms_order,
    _terms_split_size,
)


def _partial_agg(
    kind: str, params: dict, vals: np.ndarray, extra_cols: dict | None = None
) -> list[dict]:
    """Per-split partial aggregation buckets (ES-compatible subset the
    reference wires through — docs/reference/aggregation.md: terms
    (with optional stats sub-agg + order-by-sub-agg), histogram, range,
    avg, stats): bucket records of the ``_AGG_COLS`` each sets."""
    rows = []
    if kind == "terms":
        ser = pd.Series(vals)
        # shard_size analog: fail fast IN THE LEAF on high-cardinality
        # terms aggs — without this cap every split ships its full
        # per-split cardinality through the root merge before the root
        # cap (collector.rs:273) gets a chance to reject the query
        n_buckets = ser.nunique(dropna=True)
        if n_buckets > AGGREGATION_BUCKET_LIMIT:
            raise ValueError(
                f"aggregation bucket limit exceeded in split: {n_buckets} "
                f"> {AGGREGATION_BUCKET_LIMIT} distinct terms keys"
            )
        stats_field = params.get("stats_field")
        if stats_field is not None:
            sv = pd.Series(extra_cols[stats_field]).astype(float)
            grouped = sv.groupby(ser).agg(["count", "sum", "min", "max"])
            grouped["sq"] = (sv * sv).groupby(ser).sum()
            for key, g in grouped.iterrows():
                rows.append(dict(
                    agg_key=str(key), agg_count=int(g["count"]),
                    agg_sum=float(g["sum"]), agg_min=float(g["min"]),
                    agg_max=float(g["max"]), agg_sq=float(g["sq"]),
                ))
        else:
            counts = ser.value_counts(dropna=True)
            for key, cnt in counts.items():
                rows.append(dict(agg_key=str(key), agg_count=int(cnt)))
        # min_doc_count=0: 'return all terms in the field'
        # (aggregation.md) — zero-count buckets for field values the
        # query didn't match (the split-local term dictionary)
        if (
            int(params.get("min_doc_count", 1)) == 0
            and extra_cols is not None
            and "__all__" in extra_cols
        ):
            seen = {r["agg_key"] for r in rows}
            all_keys = pd.Series(extra_cols["__all__"]).dropna().unique()
            if len(all_keys) > AGGREGATION_BUCKET_LIMIT:
                raise ValueError(
                    "aggregation bucket limit exceeded in split: "
                    f"{len(all_keys)} > {AGGREGATION_BUCKET_LIMIT} "
                    "distinct terms keys (min_doc_count=0)"
                )
            for key in all_keys:
                if str(key) not in seen:
                    r = dict(agg_key=str(key), agg_count=0)
                    if stats_field is not None:
                        r.update(agg_sum=0.0, agg_min=np.nan, agg_max=np.nan,
                                 agg_sq=0.0)
                    rows.append(r)
        # split_size cut (aggregation.md 'results from one split are
        # cut off at split_size', default size*1.5+10) + one summary
        # row (agg_key=None) so the root can compute
        # sum_other_doc_count and doc_count_error_upper_bound: the
        # error bound contribution is the largest CUT bucket's count
        split_size = _terms_split_size(params)
        if len(rows) > split_size:
            target, asc = _terms_order(params)
            if target == "_key":
                rows.sort(key=lambda r: r["agg_key"], reverse=not asc)
            elif target == "_count" or params.get("stats_field") is None:
                # count order (tie: key asc) — also the fallback cut
                # order when a sub-agg target is requested without a
                # recorded sub-agg (validated earlier)
                rows.sort(key=lambda r: (-r["agg_count"], r["agg_key"]))
            else:
                metric = _subagg_metric_col(target, params)
                sign = 1 if asc else -1

                def mkey(r, m=metric, s=sign):
                    v = _bucket_metric_value(r, m)
                    return (s * v, r["agg_key"])

                rows.sort(key=mkey)
            kept, cut = rows[:split_size], rows[split_size:]
            # the largest CUT bucket bounds the per-split error ONLY
            # under count-desc cut order (aggregation.md defines
            # doc_count_error_upper_bound for count ordering; under
            # _key / sub-agg-metric order the largest cut bucket says
            # nothing about missed counts) — other orders contribute 0
            # so the root never reports a bogus bound
            err_part = (
                float(max(r["agg_count"] for r in cut))
                if (target == "_count" and not asc)
                else 0.0
            )
            summary = dict(
                agg_key=None,
                agg_count=int(sum(r["agg_count"] for r in cut)),
                agg_sum=err_part,
            )
            rows = kept + [summary]
    elif kind == "histogram":
        interval = float(params["interval"])
        # aggregation.md histogram: bucket key =
        # ((val - offset) / interval).floor() * interval + offset
        off = float(params.get("offset", 0.0))
        notna = ~pd.isna(vals)
        v = vals[notna].astype(np.float64)
        buckets = np.floor((v - off) / interval) * interval + off
        stats_field = params.get("stats_field")
        sv = (
            np.asarray(extra_cols[stats_field], dtype=np.float64)[notna]
            if stats_field is not None
            else None
        )
        hard = params.get("hard_bounds")
        if hard is not None:
            # limits the BUCKETS to the [min, max] closed interval
            mask = (buckets >= float(hard["min"])) & (
                buckets <= float(hard["max"])
            )
            buckets = buckets[mask]
            if sv is not None:
                sv = sv[mask]
        uniq, cnt = np.unique(buckets, return_counts=True)
        if sv is not None:
            # doc_count stays bucket MEMBERSHIP (identical to the
            # no-sub-agg path); the stats ride along as sum/min/max of
            # the sub-agg field within the bucket (aggregation.md
            # 'histogram with stats in each bucket')
            svs = pd.Series(sv)
            g = svs.groupby(pd.Series(buckets)).agg(["sum", "min", "max"])
            g["sq"] = (svs * svs).groupby(pd.Series(buckets)).sum()
            for key, c in zip(uniq, cnt):
                st = g.loc[key]
                rows.append(dict(
                    agg_key=repr(float(key)), agg_count=int(c),
                    agg_sum=float(st["sum"]), agg_min=float(st["min"]),
                    agg_max=float(st["max"]), agg_sq=float(st["sq"]),
                ))
        else:
            for key, c in zip(uniq, cnt):
                rows.append(dict(agg_key=repr(float(key)), agg_count=int(c)))
    elif kind == "range":
        v = vals.astype(np.float64)
        stats_field = params.get("stats_field")
        sv = (
            np.asarray(extra_cols[stats_field], dtype=np.float64)
            if stats_field is not None
            else None
        )
        for rng in params["ranges"]:
            lo = rng.get("from")
            hi = rng.get("to")
            mask = np.ones(v.size, dtype=bool)
            if lo is not None:
                mask &= v >= lo
            if hi is not None:
                mask &= v < hi
            r = dict(
                agg_key=f"{lo if lo is not None else '*'}-{hi if hi is not None else '*'}",
                agg_count=int(mask.sum()),
            )
            if sv is not None:
                mv = sv[mask]
                mv = mv[~np.isnan(mv)]
                r.update(
                    agg_sum=float(mv.sum()) if mv.size else 0.0,
                    agg_min=float(mv.min()) if mv.size else np.nan,
                    agg_max=float(mv.max()) if mv.size else np.nan,
                    agg_sq=float((mv * mv).sum()) if mv.size else 0.0,
                )
            rows.append(r)
    elif kind in ("stats", "avg"):
        v = vals[~pd.isna(vals)].astype(np.float64)
        if v.size:
            rows.append(dict(
                agg_key="",
                agg_count=int(v.size),
                agg_sum=float(v.sum()),
                agg_min=float(v.min()),
                agg_max=float(v.max()),
                agg_sq=float((v * v).sum()),
            ))
    else:
        raise ValueError(f"unsupported aggregation {kind!r}")
    return rows


def _final_agg(kind: str, params: dict, records: list[dict]):
    """One agg's final result from every split's bucket records."""
    sub = pd.DataFrame(records, columns=_AGG_COLS).astype(
        {c: np.float64 for c in _AGG_COLS[2:]}
    )
    if kind == "terms":
        size = int(params.get("size", 10))
        min_doc = int(params.get("min_doc_count", 1))
        # per-split summary rows (agg_key=None): docs dropped by the
        # split_size cut + the largest cut bucket per split
        summaries = sub[sub["agg_key"].isna()]
        bucket_rows = sub[sub["agg_key"].notna()]
        leaf_dropped = (
            int(summaries["agg_count"].sum()) if len(summaries) else 0
        )
        # doc_count_error_upper_bound (aggregation.md): 'the sum of the
        # size of the largest bucket on each split that didn't fit into
        # split_size'
        error_bound = int(summaries["agg_sum"].sum()) if len(summaries) else 0
        has_stats = bool(params.get("stats_field"))
        if has_stats:
            m = bucket_rows.groupby("agg_key").agg(
                doc_count=("agg_count", "sum"), s_sum=("agg_sum", "sum"),
                s_min=("agg_min", "min"), s_max=("agg_max", "max"),
                s_sq=("agg_sq", "sum"),
            )
            m["s_avg"] = m["s_sum"] / m["doc_count"].clip(lower=1)
        else:
            m = bucket_rows.groupby("agg_key").agg(
                doc_count=("agg_count", "sum")
            )
        if len(m) > AGGREGATION_BUCKET_LIMIT:
            raise ValueError("aggregation bucket limit exceeded")
        total_docs = int(m["doc_count"].sum()) + leaf_dropped
        m = m[m["doc_count"] >= min_doc]
        target, asc = _terms_order(params)
        if target == "_key":
            ordered = m.sort_index(ascending=asc)
        elif target == "_count":
            ordered = m.sort_index().sort_values(
                "doc_count", ascending=asc, kind="mergesort"
            )
        else:
            if not has_stats:
                raise ValueError(
                    f"terms order target {target!r} without a sub-aggregation"
                )
            metric = _subagg_metric_col(target, params)
            col = {
                "count": "doc_count", "sum": "s_sum", "min": "s_min",
                "max": "s_max", "avg": "s_avg",
            }[metric]
            ordered = m.sort_index().sort_values(
                col, ascending=asc, kind="mergesort"
            )
        top = ordered.head(size)
        sub_name = params.get("sub_name", "stats")
        out_buckets = []
        for key, g in top.iterrows():
            b = {"key": key, "doc_count": int(g["doc_count"])}
            if has_stats:
                b[sub_name] = _sub_stats_payload(
                    params, int(g["doc_count"]), g["s_sum"],
                    g["s_min"], g["s_max"], g["s_sq"],
                )
            out_buckets.append(b)
        out = {
            "buckets": out_buckets,
            # docs that didn't make it into the top `size` buckets —
            # either cut at the root or at split_size in a leaf
            "sum_other_doc_count": total_docs
            - int(top["doc_count"].sum()),
        }
        show_err = params.get("show_term_doc_count_error")
        if show_err is None:
            # 'defaults to true when ordering by count desc'
            show_err = target == "_count" and not asc
        if show_err:
            # leaves only contribute an error component under count-desc
            # cut order (see the summary-row emit); with any other order
            # this reports 0 rather than a bound the math doesn't support
            out["doc_count_error_upper_bound"] = error_bound
        return out
    if kind == "histogram":
        interval = float(params["interval"])
        off = float(params.get("offset", 0.0))
        min_doc = int(params.get("min_doc_count", 0))
        ext = params.get("extended_bounds")
        hard = params.get("hard_bounds")
        if ext is not None and min_doc > 0:
            # aggregation.md: 'Cannot be set in conjunction with
            # min_doc_count > 0, since the empty buckets from extended
            # bounds would not be returned.'
            raise ValueError(
                "extended_bounds cannot be combined with min_doc_count > 0"
            )
        has_stats = bool(params.get("stats_field"))
        if has_stats:
            mdf = sub.groupby("agg_key").agg(
                doc_count=("agg_count", "sum"), s_sum=("agg_sum", "sum"),
                s_min=("agg_min", "min"), s_max=("agg_max", "max"),
                s_sq=("agg_sq", "sum"),
            )
            merged = mdf["doc_count"]
            stats_by_idx = {
                int(round((float(k) - off) / interval)):
                    (g["s_sum"], g["s_min"], g["s_max"], g["s_sq"])
                for k, g in mdf.iterrows()
            }
        else:
            merged = sub.groupby("agg_key")["agg_count"].sum()
            stats_by_idx = {}
        # bucket index on the offset grid: keys regenerate bit-identical
        # as float(i) * interval + off (same float64 ops as the leaf)
        counts = {
            int(round((float(k) - off) / interval)): int(c)
            for k, c in merged.items()
        }
        if not counts and ext is None:
            return {"buckets": []}
        lo = min(counts) if counts else None
        hi = max(counts) if counts else None
        if ext is not None:
            elo = int(np.floor((float(ext["min"]) - off) / interval))
            ehi = int(np.floor((float(ext["max"]) - off) / interval))
            lo = elo if lo is None else min(lo, elo)
            hi = ehi if hi is None else max(hi, ehi)
        if hard is not None:
            # bucket keys limited to [min, max] closed (leaf already
            # filtered data buckets; this clamps the fill range)
            lo = max(lo, int(np.ceil((float(hard["min"]) - off) / interval - 1e-9)))
            hi = min(hi, int(np.floor((float(hard["max"]) - off) / interval + 1e-9)))
        # default (min_doc_count=0): every bucket between min and max,
        # empty ones included; min_doc_count>0 filters instead
        idxs = range(lo, hi + 1) if min_doc == 0 else sorted(counts)
        out_buckets = []
        for i in idxs:
            c = counts.get(i, 0)
            if c < min_doc:
                continue
            b = {"key": float(i) * interval + off, "doc_count": c}
            if has_stats:
                ss, sm, sx, sq = stats_by_idx.get(
                    i, (0.0, np.nan, np.nan, 0.0)
                )
                b[params.get("sub_name", "stats")] = _sub_stats_payload(
                    params, c, ss, sm, sx, sq
                )
            out_buckets.append(b)
        return {"buckets": out_buckets}
    if kind == "range":
        has_stats = bool(params.get("stats_field"))
        if has_stats:
            mdf = sub.groupby("agg_key", sort=False).agg(
                doc_count=("agg_count", "sum"), s_sum=("agg_sum", "sum"),
                s_min=("agg_min", "min"), s_max=("agg_max", "max"),
                s_sq=("agg_sq", "sum"),
            )
            sub_name = params.get("sub_name", "stats")
            return {
                "buckets": [
                    {
                        "key": key, "doc_count": int(g["doc_count"]),
                        sub_name: _sub_stats_payload(
                            params, int(g["doc_count"]), g["s_sum"],
                            g["s_min"], g["s_max"], g["s_sq"],
                        ),
                    }
                    for key, g in mdf.iterrows()
                ]
            }
        merged = sub.groupby("agg_key", sort=False)["agg_count"].sum()
        return {
            "buckets": [
                {"key": key, "doc_count": int(cnt)} for key, cnt in merged.items()
            ]
        }
    if kind in ("stats", "avg"):
        count = int(sub["agg_count"].sum())
        if count == 0:
            return {"count": 0}
        total = float(sub["agg_sum"].sum())
        stats = {
            "count": count,
            "sum": total,
            "min": float(sub["agg_min"].min()),
            "max": float(sub["agg_max"].max()),
            "avg": total / count,
            "standard_deviation": _std_from_moments(
                count, total, float(sub["agg_sq"].sum())
            ),
        }
        return {"value": stats["avg"]} if kind == "avg" else stats
    raise ValueError(f"unsupported aggregation {kind!r}")
