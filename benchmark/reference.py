"""Plain-Python reference models of every benchmarked stream set.

Nothing here touches Spark: the workloads' outputs are checked against
these folds.  Each model follows the operator's documented semantics:
event-time windows aligned to the epoch, per-key folds in (time, eventId)
order, first-matching ``split`` routing, exact-text then exact-Jaccard
deduplication keeping the minimum id.
"""

import collections
import glob
import json
import os
import re

NS = 1_000_000_000

# ---------------------------------------------------------------- replay

WINDOW_S = 10
DELAY_S = 20
QUANTILES = [0.5, 0.99]
EWMA_R = 0.3
THROTTLE = (3, 10)       # count, duration s
ABOVE_DT = (70.0, 5)     # threshold, dt s
FLUSH_HOST = "flush"
KEYS = ["host", "service"]

# name -> the branch under `by [host service]` (coalesce keys itself)
_BY = {"action": "by", "params": [KEYS]}
_WIN = {"action": "fixed-time-window", "params": [{"duration": WINDOW_S, "delay": DELAY_S}]}


def _out(name):
    return {"action": "output-file", "params": [{"path": f"@OUT@/{name}"}]}


def _chain(*nodes):
    head = dict(nodes[0])
    cur = head
    for n in nodes[1:]:
        n = dict(n)
        cur["children"] = [n]
        cur = n
    return head


REPLAY_BRANCHES = {
    "mean": _chain(_BY, _WIN, {"action": "coll-mean"}, _out("mean")),
    "pct": _chain(_BY, _WIN, {"action": "coll-percentiles", "params": [QUANTILES]}, _out("pct")),
    "ewma": _chain(_BY, {"action": "ewma-timeless", "params": [EWMA_R]}, _out("ewma")),
    "throttle": _chain(_BY, {"action": "throttle",
                             "params": [{"count": THROTTLE[0], "duration": THROTTLE[1]}]},
                       _out("throttle")),
    "above_dt": _chain(_BY, {"action": "above-dt",
                             "params": [{"threshold": ABOVE_DT[0], "duration": ABOVE_DT[1]}]},
                       _out("above_dt")),
    "smax": _chain(_BY, {"action": "smax"}, _out("smax")),
    "coalesce": _chain({"action": "coalesce",
                        "params": [{"duration": WINDOW_S, "delay": DELAY_S, "fields": ["host"]}]},
                       _out("coalesce")),
}


def replay_pipeline():
    """The monitoring stream set as one IR tree (``sdo`` tees the log into
    every branch); ``@OUT@`` is the output root of one pass."""
    return {"action": "sdo", "children": list(REPLAY_BRANCHES.values())}


def _order(e):
    return (e["time"], e["eventId"])


def _per_key(rows):
    groups = collections.defaultdict(list)
    for r in rows:
        groups[(r.get("host"), r.get("service"))].append(r)
    for g in groups.values():
        g.sort(key=_order)
    return groups


def _seq_row(e, metric):
    return (e["host"], e["service"], e["time"], e["eventId"], metric)


def replay_expected(rows):
    """stream name -> Counter of canonical output rows."""
    out = {}
    by_key = _per_key(rows)
    d = WINDOW_S * NS
    windows = collections.defaultdict(list)
    for r in rows:
        windows[((r["time"] // d) * d, r["host"], r["service"])].append(r)
    mean, pct = collections.Counter(), collections.Counter()
    for (ws, h, s), evs in windows.items():
        evs.sort(key=_order)
        acc = 0.0
        for e in evs:
            acc += e["metric"] if e.get("metric") is not None else 0.0
        last = evs[-1]
        mean[(ws, h, s, last["time"], last["eventId"], acc / len(evs))] += 1
        ms = sorted((e for e in evs if e.get("metric") is not None),
                    key=lambda e: (e["metric"], e["eventId"]))
        for q in QUANTILES:
            e = ms[min(len(ms) - 1, int(len(ms) * q // 1))]
            pct[(ws, h, s, q, e["time"], e["eventId"], e["metric"])] += 1
    out["mean"], out["pct"] = mean, pct

    ewma, thr, above, smax = (collections.Counter() for _ in range(4))
    for evs in by_key.values():
        m = 0.0
        start, n = None, 0
        run = None
        cur = None
        for e in evs:
            x = e.get("metric")
            if x is not None:
                m = (1 - EWMA_R) * m + EWMA_R * x
            ewma[_seq_row(e, m if x is not None else x)] += 1
            t = e["time"]
            if start is None or t >= start + THROTTLE[1] * NS:
                start, n = t, 1
                thr[_seq_row(e, x)] += 1
            elif n < THROTTLE[0]:
                n += 1
                thr[_seq_row(e, x)] += 1
            if x is not None and x > ABOVE_DT[0]:
                if run is None:
                    run = t
                if t > run + ABOVE_DT[1] * NS:
                    above[_seq_row(e, x)] += 1
            else:
                run = None
            if x is not None:
                cur = x if cur is None else max(cur, x)
            smax[_seq_row(e, cur)] += 1
    out["ewma"], out["throttle"], out["above_dt"], out["smax"] = ewma, thr, above, smax

    co = collections.Counter()
    cwin = collections.defaultdict(list)
    for r in rows:
        cwin[((r["time"] // d) * d, r["host"])].append(r)
    for (ws, h), evs in cwin.items():
        base = max(evs, key=_order)
        clock = max(e["time"] for e in evs)
        ttl = base.get("ttl") if base.get("ttl") is not None else 120.0
        if base.get("state") != "expired" and not clock - base["time"] > int(ttl * NS):
            co[(ws, h, base["service"], base["time"], base["eventId"], base["metric"])] += 1
    out["coalesce"] = co
    return {k: _drop_flush(k, v) for k, v in out.items()}


_HOST_AT = {"mean": 1, "pct": 1, "coalesce": 1}


def _drop_flush(name, counter):
    # the sentinel key only exists to move the streaming watermark
    at = _HOST_AT.get(name, 0)
    return collections.Counter({k: v for k, v in counter.items() if k[at] != FLUSH_HOST})


def canonical_replay(name, r):
    """Spark output row -> the canonical tuple of ``replay_expected``."""
    if name == "mean":
        return (r["window_start"], r["host"], r["service"], r["time"], r["eventId"], r.get("metric"))
    if name == "pct":
        return (r["window_start"], r["host"], r["service"], r["quantile"], r["time"],
                r["eventId"], r.get("metric"))
    if name == "coalesce":
        return (r["window_start"], r["host"], r["service"], r["time"], r["eventId"], r.get("metric"))
    return (r["host"], r["service"], r["time"], r["eventId"], r.get("metric"))


def read_json_dir(path):
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.json"), recursive=True)):
        if "/_" in f[len(path):] or "/." in f[len(path):]:
            continue
        with open(f) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def read_log(dirpath):
    rows = []
    for f in sorted(glob.glob(os.path.join(dirpath, "*.json"))):
        with open(f) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def check_replay(expected, outdir):
    """List of mismatch descriptions (empty = outputs equal the reference)."""
    problems = []
    for name, exp in expected.items():
        got = collections.Counter(canonical_replay(name, r) for r in read_json_dir(os.path.join(outdir, name)))
        got = _drop_flush(name, got)
        if got != exp:
            miss = exp - got
            extra = got - exp
            problems.append(f"{name}: {sum(miss.values())} missing, {sum(extra.values())} unexpected "
                            f"(e.g. missing {next(iter(miss), None)}, unexpected {next(iter(extra), None)})")
    return problems




# ---------------------------------------------------------------- serve

def serve_routes(e):
    """Stateless default routes applied to one event -> published events
    (each a canonical tuple).  Mirrors gen.SERVE_STREAMS."""
    out = []
    m = e["metric"]
    base = (e["host"], e["service"], e["time"], m, e["attributes"]["frame"], e["attributes"]["seq"])
    if m > 95:
        out.append(base + ("critical", ()))
    if m > 90:
        out.append(base + (e["state"], tuple(e["tags"]) + ("p1",)))
    elif m > 85:
        out.append(base + (e["state"], tuple(e["tags"]) + ("p2",)))
    return out


def canonical_published(j):
    a = j.get("attributes") or {}
    return (j.get("host"), j.get("service"), j["time"], j.get("metric"), a.get("frame"),
            a.get("seq"), j.get("state"), tuple(j.get("tags") or ()))


def serve_expected(frames_events, frame_ids):
    exp = collections.Counter()
    for fid in frame_ids:
        for e in frames_events[fid]:
            for p in serve_routes(e):
                exp[p] += 1
    return exp


# ---------------------------------------------------------------- dedup

DEDUP_THRESHOLD = 0.7


def dedup_pipeline():
    """Exact dedup, then the exact Jaccard join over the survivors, then
    star-contraction clustering of the pairs (cluster = min id)."""
    return {"action": "dedup-exact", "params": ["text", "id"], "children": [
        _out("survivors"),
        {"action": "jaccard-join", "params": [{"id": "id", "text": "text", "threshold": DEDUP_THRESHOLD}],
         "children": [_out("pairs"),
                      {"action": "dedup-cluster-star", "children": [_out("clusters")]}]}]}


_SPLIT = re.compile(r"[^a-z0-9]+")


def tokens(text):
    return {t for t in _SPLIT.split(text.lower()) if t}


def jaccard(a, b):
    i = len(a & b)
    return i / (len(a) + len(b) - i)


def dedup_expected(docs, threshold, candidate_pairs=None):
    """docs: list of {id, text}.  Returns (exact survivors, pairs{(a,b): J},
    clusters{id: min id}, final survivors).  Pairs are found by an inverted
    index over each doc's rarest tokens (a prefix filter, exact by the
    pigeonhole bound), then verified exactly."""
    first = {}
    for d in docs:
        t = d["text"]
        if t not in first or d["id"] < first[t]["id"]:
            first[t] = d
    surv = sorted(first.values(), key=lambda d: d["id"])
    toks = {d["id"]: tokens(d["text"]) for d in surv}
    freq = collections.Counter(t for s in toks.values() for t in s)
    index = collections.defaultdict(list)
    pairs = {}
    for i in sorted(toks):
        s = sorted(toks[i], key=lambda t: (freq[t], t))
        n = len(s)
        plen = n - int(-(-threshold * n // 1)) + 1
        cands = set()
        for t in s[:plen]:
            cands.update(index[t])
        for j in cands:
            jac = jaccard(toks[i], toks[j])
            if jac >= threshold:
                pairs[(min(i, j), max(i, j))] = jac
        for t in s[:plen]:
            index[t].append(i)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = {x: find(x) for x in parent}
    final = [d["id"] for d in surv if clusters.get(d["id"], d["id"]) == d["id"]]
    return [d["id"] for d in surv], pairs, clusters, final


def check_dedup(docs, threshold, outdir):
    problems = []
    exact, pairs, clusters, final = dedup_expected(docs, threshold)
    got_exact = sorted(r["id"] for r in read_json_dir(os.path.join(outdir, "survivors")))
    if got_exact != exact:
        problems.append(f"exact survivors: {len(got_exact)} vs {len(exact)} expected")
    text = {d["id"]: d["text"] for d in docs}
    got_pairs = {}
    for r in read_json_dir(os.path.join(outdir, "pairs")):
        got_pairs[(r["id1"], r["id2"])] = r["jaccard"]
    if set(got_pairs) != set(pairs):
        problems.append(f"pairs: {len(set(got_pairs) - set(pairs))} unexpected, "
                        f"{len(set(pairs) - set(got_pairs))} missing")
    bad = [p for p, j in got_pairs.items()
           if abs(jaccard(tokens(text[p[0]]), tokens(text[p[1]])) - j) > 1e-12]
    if bad:
        problems.append(f"{len(bad)} reported Jaccard values differ from recomputation, e.g. {bad[0]}")
    got_clusters = {r["id"]: r["cluster"] for r in read_json_dir(os.path.join(outdir, "clusters"))}
    if got_clusters != clusters:
        problems.append(f"clusters: {sum(1 for k in clusters if got_clusters.get(k) != clusters[k])} "
                        f"labels differ of {len(clusters)}")
    got_final = [i for i in got_exact if got_clusters.get(i, i) == i]
    if got_final != final:
        problems.append(f"final survivors: {len(got_final)} vs {len(final)} expected")
    return problems, {"exact_survivors": len(exact), "pairs": len(pairs),
                      "clustered_ids": len(clusters), "final_survivors": len(final)}
