"""Output checks, made outside the program: DuckDB oracles, numpy recomputation
and properties the methods must have. Never a stored copy of an output.

`check(workload, ...)` returns {operation: (ok, message)}.
"""
import hashlib
import json
import os
import sys
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import compare  # noqa: E402 - the repo's oracle gate, so both compare alike

TABLES = ("events", "documents", "embeddings")

# Stated rates (see README): share of series whose planted level shift a
# detector places within SHIFT_TOL_H hours; IVF recall@3 against brute force.
SHIFT_TOL_H = 6
SHIFT_SHARE = {"q_bocpd": 0.9, "q_pelt": 0.9, "q_cusum": 0.9}
IVF_RECALL_AT_3 = 0.8
ORACLE_SAMPLE_SERIES = 1
# These oracles replay a whole recursion as a recursive CTE in DuckDB (28 s
# per fleet run on one series with the three in parallel on a 4-vCPU host),
# which the run budget of the untraced runs cannot hold. Untraced runs check
# these operators by an independent numeric recomputation of every series
# and by planted properties; traced runs also compare them with their oracles.
SLOW_ORACLES = {"q_bocpd", "q_pelt", "q_holtwinters"}


def _con(in_dir, series=None):
    con = duckdb.connect()
    for t in TABLES:
        src = f"read_parquet('{in_dir}/{t}.parquet')"
        if t == "events" and series is not None:
            keep = ", ".join("'" + s + "'" for s in series)
            con.execute(f"CREATE VIEW events AS SELECT * FROM {src} WHERE event_type IN ({keep})")
        else:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con


def oracle_compare(con, sql, out_dir, name):
    """Rows, schema and 6-dp hash against the DuckDB oracle: the repo's own
    gate, tools/check.py, makes the compare."""
    rec = compare(con, name, sql, out_dir)
    ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
    return ok, f"{rec['spark_rows']} rows match the oracle" if ok else rec["err"]


def _out(con, out_dir, name):
    return con.sql(f"SELECT * FROM read_parquet('{out_dir}/outputs/{name}/*.parquet')")


def _merge(verdicts, name, ok, msg):
    prev_ok, prev_msg = verdicts.get(name, (True, ""))
    verdicts[name] = (prev_ok and ok, (prev_msg + "; " if prev_msg else "") + msg)


def check_oracles(in_dir, out_dir, series=None, skip=()):
    """Every operation's oracle. With `series`, the oracle sees only the
    events of those series, and the Spark output, computed on all of them,
    is cut to the same series before the compare."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    todo = sorted((n, q) for n, q in oracle.items() if n not in skip)
    got_dir = os.path.join(out_dir, "outputs")
    if series is not None:
        got_dir, con = os.path.join(out_dir, "sample"), duckdb.connect()
        keep = ", ".join("'" + s + "'" for s in series)
        for name, _ in todo:
            os.makedirs(os.path.join(got_dir, name), exist_ok=True)
            got = _out(con, out_dir, name)
            cut = f"WHERE event_type IN ({keep})" if "event_type" in got.columns else ""
            con.execute(f"COPY (SELECT * FROM read_parquet('{out_dir}/outputs/{name}/*.parquet') {cut}) "
                        f"TO '{got_dir}/{name}/part-0.parquet' (FORMAT parquet)")

    def one(item):
        return item[0], oracle_compare(_con(in_dir, series), item[1], got_dir, item[0])
    # one connection per oracle, a few at a time: the recursive-CTE oracles
    # run mostly single-threaded, and DuckDB releases the GIL while it runs
    with ThreadPoolExecutor(max_workers=4) as pool:
        return dict(pool.map(one, todo))


def _acf(xs, max_lag):
    n, mu = len(xs), sum(xs) / len(xs)
    d = [x - mu for x in xs]
    denom = sum(v * v for v in d)
    return [sum(d[t] * d[t - k] for t in range(k, n)) / denom if denom > 0 else 0.0
            for k in range(1, max_lag + 1)]


def _pacf(xs, max_lag):
    """Durbin-Levinson on the biased ACF."""
    rho = _acf(xs, max_lag)
    phi = [[0.0] * (max_lag + 1) for _ in range(max_lag + 1)]
    out = [0.0] * max_lag
    phi[1][1] = out[0] = rho[0]
    for k in range(2, max_lag + 1):
        num = rho[k - 1] - sum(phi[k - 1][j] * rho[k - 1 - j] for j in range(1, k))
        den = 1.0 - sum(phi[k - 1][j] * rho[j - 1] for j in range(1, k))
        pk = num / den if abs(den) > 1e-12 else 0.0
        phi[k][k] = out[k - 1] = pk
        for j in range(1, k):
            phi[k][j] = phi[k - 1][j] - pk * phi[k - 1][k - j]
    return out


def _pacf_features(xs):
    p = _pacf(xs, 24)
    d1 = [xs[i] - xs[i - 1] for i in range(1, len(xs))]
    d2 = [d1[i] - d1[i - 1] for i in range(1, len(d1))]
    ss = lambda a: sum(v * v for v in a[:5])  # noqa: E731
    return ss(p), ss(_pacf(d1, 5)), ss(_pacf(d2, 5)), p[23]


def _holt_winters(xs, m=24, alpha=0.3, beta=0.05, gamma=0.1):
    """Additive Holt-Winters from first-season level, cross-season trend and
    trend-adjusted first-season offsets; returns level, trend, 1- and 24-step forecasts."""
    mean1, mean2 = sum(xs[:m]) / m, sum(xs[m:2 * m]) / m
    level, trend = mean1, (mean2 - mean1) / m
    season = [xs[i] - (mean1 + (i - (m - 1) / 2.0) * trend) for i in range(m)]
    for t in range(m, len(xs)):
        si, prev = t % m, level
        level = alpha * (xs[t] - season[si]) + (1 - alpha) * (level + trend)
        trend = beta * (level - prev) + (1 - beta) * trend
        season[si] = gamma * (xs[t] - level) + (1 - gamma) * season[si]
    n = len(xs)
    f = lambda h: level + h * trend + season[(n + h - 1) % m]  # noqa: E731
    return level, trend, f(1), f(24)


def _bocpd(X, hazard=0.01, lag=10):
    """Adams-MacKay run-length posterior with a Normal unknown-mean model,
    one series per row: segment-mean prior from the series' mean and
    variance, noise variance from its first differences. Returns the lagged
    change probability P(r_{t+lag} = lag) at t, 0 at the first and last
    `lag` points."""
    S, n = X.shape
    mu0, v0 = X.mean(1), np.maximum(X.var(1, ddof=1), 1e-12)
    d = np.diff(X, axis=1)
    sigma2 = np.maximum(((d - d.mean(1, keepdims=True)) ** 2).sum(1) / (2.0 * (n - 2)), 1e-12)
    mu0, v0, sigma2 = mu0[:, None], v0[:, None], sigma2[:, None]
    g0 = 1.0 / (1.0 / v0 + 1.0 / sigma2)
    prob, mu, v = np.ones((S, 1)), mu0 + (X[:, :1] - mu0) * (v0 / (v0 + sigma2)), g0
    out = np.zeros((S, n))
    for t in range(1, n):
        x = X[:, t:t + 1]
        pv = v + sigma2
        joint = prob * np.exp(-0.5 * (x - mu) ** 2 / pv) / np.sqrt(2 * np.pi * pv)
        cp = (joint * hazard).sum(1, keepdims=True)
        growth = joint * (1 - hazard)
        total = cp + growth.sum(1, keepdims=True)
        total[~(total > 0)] = 1e-300
        g = 1.0 / (1.0 / v + 1.0 / sigma2)
        prob = np.hstack([cp / total, growth / total])
        mu = np.hstack([g0 * (mu0 / v0 + x / sigma2), g * (mu / v + x / sigma2)])
        v = np.hstack([g0, g])
        if t >= lag:
            out[:, t - lag] = prob[:, lag]
    out[:, 0] = 0.0
    return out


def _pelt(X):
    """Optimal partitioning into mean-change segments, one series per row:
    F(t) = min_s F(s) + SSE(x[s:t]) + beta, beta = 2 var(x) ln n, the first
    s kept on ties. Returns each row's segments as (start, end, mean)."""
    S, n = X.shape
    sx = np.hstack([np.zeros((S, 1)), np.cumsum(X, 1)])
    s2 = np.hstack([np.zeros((S, 1)), np.cumsum(X * X, 1)])
    beta = 2.0 * np.maximum((s2[:, n] - sx[:, n] * sx[:, n] / n) / n, 0.0) * np.log(n)
    f, arg, rows = np.empty((S, n + 1)), np.zeros((S, n + 1), dtype=np.int64), np.arange(S)
    f[:, 0] = -beta
    for t in range(1, n + 1):
        dx = sx[:, t:t + 1] - sx[:, :t]
        cost = f[:, :t] + ((s2[:, t:t + 1] - s2[:, :t]) - dx * dx / (t - np.arange(t))) + beta[:, None]
        arg[:, t] = cost.argmin(1)
        f[:, t] = cost[rows, arg[:, t]]
    segs = []
    for r in range(S):
        out, e = [], n
        while e > 0:
            st = int(arg[r, e])
            out.append((st, e, (sx[r, e] - sx[r, st]) / (e - st)))
            e = st
        segs.append(out[::-1])
    return segs


def _close(got, want):
    return all(g is not None and abs(g - round(w, 6)) <= 1.01e-6 for g, w in zip(got, want))


def _is_top_k(rows, want, xs, k, tol=1.01e-6):
    """`rows` (index, value, probability) are k distinct points whose values
    and 6-dp probabilities match the recomputation, none of them beaten by a
    point left out (up to tol, so near-ties may fall either way)."""
    idx = [i for i, _, _ in rows]
    if len(rows) != k or len(set(idx)) != k or not all(0 <= i < len(want) for i in idx):
        return False
    want = np.round(want, 6)
    if any(abs(v - xs[i]) > tol or abs(p - want[i]) > tol for i, v, p in rows):
        return False
    return want[idx].min() >= np.delete(want, idx).max() - tol


def _same_segments(got, want):
    """`got` rows (seg_no, start, end, mean, n_segments) equal the recomputed segments."""
    return len(got) == len(want) and all(
        (no, st, e, nseg) == (i + 1, wst, we, len(want)) and abs(m - round(wm, 6)) <= 1.01e-6
        for i, ((no, st, e, m, nseg), (wst, we, wm)) in enumerate(zip(got, want)))


def check_series_fleet(in_dir, truth, out_dir, seed, full_oracles):
    con = _con(in_dir)
    names = truth["series"]
    sample = sorted(np.random.default_rng(seed).choice(names, ORACLE_SAMPLE_SERIES, replace=False).tolist())
    skip = set() if full_oracles else SLOW_ORACLES
    verdicts = {}
    for name, v in check_oracles(in_dir, out_dir, sample, skip).items():
        _merge(verdicts, name, v[0], f"oracle on {sample}: {v[1]}")

    # the hourly series, recomputed from the raw events
    ev = con.sql("SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS h, value FROM events").fetchnumpy()
    order = np.lexsort((ev["h"], ev["event_type"]))
    keys, h, x = ev["event_type"][order], ev["h"][order], ev["value"][order]
    series = {}
    for k in names:
        lo, hi = np.searchsorted(keys, k, "left"), np.searchsorted(keys, k, "right")
        hh, xx = h[lo:hi], x[lo:hi]
        starts = np.r_[0, np.flatnonzero(np.diff(hh)) + 1]
        if not (np.diff(hh[starts]) == 3600).all():
            raise ValueError(f"series {k} is not a dense hourly grid")
        series[k] = (int(hh[0]), np.round(np.add.reduceat(xx, starts), 6).tolist())

    for op, cols, fn in (("q_feat_pacf", "y_pacf5, diff1y_pacf5, diff2y_pacf5, seas_pacf1", _pacf_features),
                         ("q_holtwinters", "level, trend, yhat_1, yhat_24", _holt_winters)):
        got = {r[0]: r[1:] for r in _out(con, out_dir, op).project(f"event_type, {cols}").fetchall()}
        bad = [k for k, (_, xs) in series.items() if k not in got or not _close(got[k], fn(xs))]
        _merge(verdicts, op, not bad and len(got) == len(names),
               f"{cols} of {len(names)} series vs an independent recomputation, {len(bad)} differ {bad[:3]}")

    # BOCPD's top-3 change points and PELT's segments, recomputed for every series
    t0 = {k: v[0] for k, v in series.items()}
    xs = np.array([series[k][1] for k in names])
    rows = defaultdict(list)
    for k, ts_s, value, p in _out(con, out_dir, "q_bocpd").project("event_type, ts_s, value, cp_prob").fetchall():
        rows[k].append(((ts_s - t0[k]) // 3600, value, p))
    bad = [k for k, want, x in zip(names, _bocpd(xs), xs) if not _is_top_k(rows[k], want, x, 3)]
    _merge(verdicts, "q_bocpd", not bad and len(rows) == len(names),
           f"top-3 points and cp_prob of {len(names)} series vs an independent recomputation, "
           f"{len(bad)} differ {bad[:3]}")
    rows = defaultdict(list)
    for k, *seg in _out(con, out_dir, "q_pelt").project(
            "event_type, seg_no, start_idx, end_idx, seg_mean, n_segments").fetchall():
        rows[k].append(tuple(seg))
    bad = [k for k, want in zip(names, _pelt(xs)) if not _same_segments(sorted(rows[k]), want)]
    _merge(verdicts, "q_pelt", not bad and len(rows) == len(names),
           f"segments of {len(names)} series vs an independent recomputation, {len(bad)} differ {bad[:3]}")

    # the planted level shift, placed within SHIFT_TOL_H hours
    shift = dict(zip(names, truth["shift_hour"]))
    found = defaultdict(set)
    for k, ts_s in _out(con, out_dir, "q_bocpd").project("event_type, ts_s").fetchall():
        if abs((ts_s - t0[k]) // 3600 - shift[k]) <= SHIFT_TOL_H:
            found["q_bocpd"].add(k)
    for k, start in _out(con, out_dir, "q_pelt").filter("seg_no > 1").project("event_type, start_idx").fetchall():
        if abs(start - shift[k]) <= SHIFT_TOL_H:
            found["q_pelt"].add(k)
    for k, ts_s in _out(con, out_dir, "q_cusum").project("event_type, cp_ts_s").fetchall():
        if ts_s is not None and abs((ts_s - t0[k]) // 3600 - shift[k]) <= SHIFT_TOL_H:
            found["q_cusum"].add(k)
    for op, need in SHIFT_SHARE.items():
        share = len(found[op]) / len(names)
        _merge(verdicts, op, share >= need, f"level shift placed for {share:.3f} of series (need {need})")

    for op in ("q_fill_gaps", "q_arima"):
        got = {r[0] for r in _out(con, out_dir, op).project("event_type").distinct().fetchall()}
        _merge(verdicts, op, got == set(names), f"{len(got)} of {len(names)} series present")
    return verdicts


def check_query_floor(in_dir, truth, out_dir, full_oracles):
    skip = set() if full_oracles else SLOW_ORACLES
    verdicts = dict(check_oracles(in_dir, out_dir, skip=skip))
    con = _con(in_dir)
    text = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())
    exact = sorted(sorted(g) for g in truth["exact_groups"])

    groups = defaultdict(list)
    md5_ok = True
    for doc, fp in _out(con, out_dir, "q_dedup_exact").project("doc_id, fp").fetchall():
        groups[fp].append(doc)
        md5_ok &= fp == hashlib.md5(text[doc].encode()).hexdigest()
    got = sorted(sorted(g) for g in groups.values() if len(g) > 1)
    _merge(verdicts, "q_dedup_exact", got == exact and md5_ok,
           f"{len(got)} duplicate groups recovered of {len(exact)} planted, md5 recomputed")

    emb = np.array(con.sql("SELECT embedding FROM embeddings ORDER BY vec_id").fetchnumpy()["embedding"].tolist(),
                   dtype=np.float64)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    found = defaultdict(set)
    cos_bad = 0
    for p, nb, c in _out(con, out_dir, "q_ann_ivf").project("probe_id, neighbor_id, cos").fetchall():
        found[p].add(nb)
        cos_bad += abs(c - float(emb[p] @ emb[nb])) > 1e-5
    hits = 0
    for p, nbs in found.items():
        sims = emb @ emb[p]
        sims[p] = -np.inf
        hits += len(nbs & set(np.argsort(-sims, kind="stable")[:3].tolist()))
    recall = hits / (3 * len(found)) if found else 0.0
    _merge(verdicts, "q_ann_ivf", recall >= IVF_RECALL_AT_3 and cos_bad == 0,
           f"recall@3 {recall:.3f} over {len(found)} probes vs brute-force cosine (need {IVF_RECALL_AT_3}), "
           f"{cos_bad} cosines off")
    return verdicts


def check(workload, in_dir, truth, out_dir, seed, full_oracles=False):
    if workload == "series_fleet":
        return check_series_fleet(in_dir, truth, out_dir, seed, full_oracles)
    return check_query_floor(in_dir, truth, out_dir, full_oracles)
