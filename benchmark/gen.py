"""Seeded input generators for the benchmark workloads.

Each generator writes its inputs into a directory and returns a dict of the
measured traffic properties.  The same seed always gives byte-identical
files.  Every event carries an explicit ``time`` (ns, µs-aligned), so the
system under test never stamps wall-clock time.

Run on its own:

    python3 benchmark/gen.py <workload> <seed> <out-dir>
"""

import itertools
import json
import math
import os
import random
import sys

import wire

NS = 1_000_000_000
T0 = 1_700_000_000 * NS  # fixed epoch origin of every generated timeline

# ---------------------------------------------------------------- replay

REPLAY = {
    "hosts": 150,
    "services": 8,
    "window_s": 10,
    "delay_s": 20,           # the windows' :delay (allowed lateness)
    "max_lag_s": 15,         # per-host agent lag, strictly below delay_s
    "lagging_share": 0.25,   # share of hosts that lag at all
    "short_ttl_share": 0.1,  # events with a ttl short enough for coalesce expiry
}
# log sizes: the batch replay reads one big log; the streaming replay pays
# a fixed cost per micro-batch per query, so it reads a shorter one
REPLAY_SIZES = {
    "replay": {"events": 20_000, "chunks": 6, "span_s": 400},
    "replay_stream": {"events": 6_000, "chunks": 3, "span_s": 120},
}
FLUSH_HOST = "flush"  # sentinel key of the two closing chunks


def _zipf_weights(n, s):
    return [1.0 / (r ** s) for r in range(1, n + 1)]


def _dump(rows):
    return "".join(json.dumps(r, sort_keys=True, separators=(",", ":")) + "\n" for r in rows)


def gen_replay(seed, out, size="replay"):
    """Event log as chunk files: ``chunks`` data chunks, the last one ending
    in a sentinel event far ahead of the log, then one chunk holding a
    second sentinel.  The first sentinel moves the streaming watermark past
    every real window; the batch that reads the second one emits them.

    Each host has a constant agent lag, so its events arrive in event-time
    order while different hosts interleave out of order.  Lag stays below
    ``delay_s`` so no event is late for the streaming watermark.
    """
    c = dict(REPLAY, **REPLAY_SIZES[size])
    rnd = random.Random(seed)
    hosts = [f"host-{i:03d}" for i in range(c["hosts"])]
    services = [f"svc-{i}" for i in range(c["services"])]
    hw = _zipf_weights(len(hosts), 1.1)
    sw = _zipf_weights(len(services), 1.0)
    # a fixed share of hosts lags; which ones, and by how much, is seeded
    lagging = set(rnd.sample(hosts, round(len(hosts) * c["lagging_share"])))
    lag = {h: (rnd.uniform(1.0, c["max_lag_s"]) if h in lagging else 0.0) for h in hosts}
    phase = {}
    n = c["events"]
    # strictly increasing arrival instants (µs), evenly spread with jitter
    step_us = c["span_s"] * 1_000_000 // n
    arrival_us = 0
    rows = []
    for i in range(n):
        arrival_us += rnd.randint(step_us // 2, step_us + step_us // 2)
        h = rnd.choices(hosts, hw)[0]
        s = rnd.choices(services, sw)[0]
        t_us = arrival_us - int(lag[h] * 1_000_000)
        key = (h, s)
        if key not in phase:
            phase[key] = (rnd.uniform(0, 6.283), rnd.uniform(20, 90))
        ph, period = phase[key]
        m = 55.0 + 30.0 * math.sin(t_us / 1e6 / period + ph) + rnd.gauss(0, 4)
        ttl = 2.0 if rnd.random() < c["short_ttl_share"] else 60.0
        rows.append({
            "host": h, "service": s, "state": "ok",
            "metric": round(m, 3), "time": T0 + t_us * 1000, "ttl": ttl,
            "tags": [], "eventId": i + 1,
        })
    # chunk by arrival order; per-host order is preserved across chunks
    per = (n + c["chunks"] - 1) // c["chunks"]
    chunks = [rows[k:k + per] for k in range(0, n, per)]
    max_t = max(r["time"] for r in rows)
    flush_t = max_t + 5 * (c["window_s"] + c["delay_s"]) * NS
    sentinel = [{"host": FLUSH_HOST, "service": FLUSH_HOST, "state": "ok",
                 "metric": 0.0, "time": flush_t + j * NS, "ttl": 60.0,
                 "tags": [], "eventId": n + 1 + j} for j in range(2)]
    chunks[-1].append(sentinel[0])
    chunks.append([sentinel[1]])
    os.makedirs(out, exist_ok=True)
    file_order = []
    for k, ch in enumerate(chunks):
        file_order.extend(ch)
        path = os.path.join(out, f"chunk-{k:04d}.json")
        with open(path, "w") as f:
            f.write(_dump(ch))
        # the file source picks files up in modification-time order
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
    # measured traffic properties
    real = [r for r in file_order if r["host"] != FLUSH_HOST]
    counts = {}
    for r in real:
        counts[(r["host"], r["service"])] = counts.get((r["host"], r["service"]), 0) + 1
    running, ooo, late_file = 0, 0, 0
    for r in real:
        if r["time"] < running:
            ooo += 1
            late_file = max(late_file, running - r["time"])
        running = max(running, r["time"])
    # lateness the streaming watermark sees: behind the max of earlier chunks
    prev_max, late_wm = 0, 0
    for ch in chunks[:-1]:
        for r in (r for r in ch if r["host"] != FLUSH_HOST):
            if prev_max:
                late_wm = max(late_wm, prev_max - r["time"])
        prev_max = max(prev_max, max(r["time"] for r in ch))
    return {
        "events": len(real), "chunks": len(chunks), "keys": len(counts),
        "top_key_share": round(max(counts.values()) / len(real), 4),
        "out_of_order_share": round(ooo / len(real), 4),
        "max_lateness_in_file_s": round(late_file / NS, 3),
        "max_lateness_vs_earlier_chunks_s": round(late_wm / NS, 3),
        "delay_s": c["delay_s"],
    }


# ---------------------------------------------------------------- serve

SERVE = {
    "frames": 180,           # 10 cycles of 9 per client
    "flush_every": 9,        # one agent flush per 9 frames of each client
    "flush_events": 2000,
    "small_events": (1, 20),
    "hosts": 60,
    "services": 6,
}

# The default streams loaded by the server (the stateless reference routes
# live in reference.serve_expected; keep the two in step).
SERVE_STREAMS = {
    "alerts": {"action": "stream", "params": [{"name": "alerts", "default": True}],
               "children": [{"action": "where", "params": [[">", "metric", 95]],
                             "children": [{"action": "with", "params": [{"state": "critical"}],
                                           "children": [{"action": "publish!", "params": ["alerts"]}]}]}]},
    "levels": {"action": "stream", "params": [{"name": "levels", "default": True}],
               "children": [{"action": "split", "params": [[">", "metric", 90], [">", "metric", 85]],
                             "children": [
                                 {"action": "tag", "params": [["p1"]],
                                  "children": [{"action": "publish!", "params": ["alerts"]}]},
                                 {"action": "tag", "params": [["p2"]],
                                  "children": [{"action": "publish!", "params": ["alerts"]}]}]}]},
    "audit": {"action": "stream", "params": [{"name": "audit", "default": True}],
              "children": [{"action": "where", "params": [["=", "service", "svc-0"]],
                            "children": [{"action": "tap", "params": ["audit"]}]}]},
}
# the non-default stream the control connection adds and removes
SERVE_EXTRA = {"action": "stream", "params": [{"name": "extra"}],
               "children": [{"action": "where", "params": [[">", "metric", 50]],
                             "children": [{"action": "publish!", "params": ["extra"]}]}]}


def gen_serve(seed, out):
    """Pre-encoded Riemann frames (the wire bytes), the per-frame event
    lists for the reference, and the streams directory."""
    c = SERVE
    rnd = random.Random(seed)
    hosts = [f"host-{i:03d}" for i in range(c["hosts"])]
    services = [f"svc-{i}" for i in range(c["services"])]
    hw = _zipf_weights(len(hosts), 1.1)
    os.makedirs(os.path.join(out, "streams"), exist_ok=True)
    for name, doc in SERVE_STREAMS.items():
        with open(os.path.join(out, "streams", f"{name}.json"), "w") as f:
            json.dump(doc, f, sort_keys=True)
    with open(os.path.join(out, "extra_stream.json"), "w") as f:
        json.dump(SERVE_EXTRA, f, sort_keys=True)
    t_us = T0 // 1000
    sizes, published = [], 0
    with open(os.path.join(out, "frames.bin"), "wb") as fb, \
            open(os.path.join(out, "events.jsonl"), "w") as fe:
        for fr in range(c["frames"]):
            # frames alternate between the two clients; both reach their
            # flush frame at the same point of their own cycle
            flush = (fr // 2) % c["flush_every"] == c["flush_every"] - 1
            # sizes follow a fixed pattern, so every seed has the same frame-size mix
            lo, hi = c["small_events"]
            k = c["flush_events"] if flush else lo + (fr * 7) % (hi - lo + 1)
            sizes.append(k)
            evs = []
            for i in range(k):
                t_us += rnd.randint(1, 2000)
                evs.append({"host": rnd.choices(hosts, hw)[0], "service": rnd.choice(services),
                            "state": "ok", "metric": round(rnd.uniform(0, 100), 3),
                            "time": t_us * 1000, "ttl": 60.0, "tags": [],
                            "attributes": {"frame": str(fr), "seq": str(i)}})
            # events the default routes publish (see reference.serve_routes)
            published += sum((e["metric"] > 95) + (e["metric"] > 85) for e in evs)
            fb.write(wire.frame(wire.encode_msg(evs)))
            fe.write(json.dumps(evs, sort_keys=True, separators=(",", ":")) + "\n")
    small = [s for s in sizes if s < c["flush_events"]]
    return {
        "frames": len(sizes), "events": sum(sizes),
        "flush_frame_share": round(1 - len(small) / len(sizes), 4),
        "small_frame_mean_events": round(sum(small) / len(small), 2),
        "flush_frame_events": c["flush_events"],
        "published_per_event": round(published / sum(sizes), 4),
    }


# ---------------------------------------------------------------- dedup

DEDUP = {
    "docs": 3000,           # background documents
    "vocab": 20_000,
    "doc_tokens": (30, 60),
    "clusters": 200,        # planted near-duplicate clusters
    "cluster_size": (2, 5),
    "edits": (1, 5),        # token replacements per near-duplicate
    "exact_dup_share": 0.1,  # planted verbatim copies
}


def gen_dedup(seed, out):
    """Document corpus with planted exact copies and near-duplicate
    clusters of known token sets."""
    c = DEDUP
    rnd = random.Random(seed)
    cum = list(itertools.accumulate(_zipf_weights(c["vocab"], 1.0)))
    vocab = [f"w{i}" for i in range(c["vocab"])]

    # lengths, cluster sizes and edit counts follow fixed patterns, so every
    # seed plants the same duplicate structure; only the tokens are random
    lengths = itertools.cycle(range(c["doc_tokens"][0], c["doc_tokens"][1] + 1))

    def doc_tokens():
        k = next(lengths)
        s = set()
        while len(s) < k:
            s.update(rnd.choices(vocab, cum_weights=cum, k=k - len(s)))
        return sorted(s)

    texts = []
    for _ in range(c["docs"]):
        toks = doc_tokens()
        rnd.shuffle(toks)
        texts.append(" ".join(toks))
    near = 0
    sizes = itertools.cycle(range(c["cluster_size"][0], c["cluster_size"][1] + 1))
    edits = itertools.cycle(range(c["edits"][0], c["edits"][1] + 1))
    for _ in range(c["clusters"]):
        base = rnd.randrange(len(texts))
        btoks = texts[base].split(" ")
        for _ in range(next(sizes) - 1):
            toks = list(btoks)
            for _ in range(next(edits)):
                toks[rnd.randrange(len(toks))] = rnd.choice(vocab)
            rnd.shuffle(toks)
            texts.append(" ".join(toks))
            near += 1
    copies = int(len(texts) * c["exact_dup_share"])
    for _ in range(copies):
        texts.append(texts[rnd.randrange(len(texts))])
    order = list(range(len(texts)))
    rnd.shuffle(order)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "corpus.json"), "w") as f:
        f.write(_dump({"id": i + 1, "text": texts[j]} for i, j in enumerate(order)))
    return {
        "docs": len(texts),
        "planted_exact_copy_share": round(copies / len(texts), 4),
        "planted_near_dup_share": round(near / len(texts), 4),
    }


GENERATORS = {
    "replay": gen_replay,
    "replay_stream": lambda seed, out: gen_replay(seed, out, "replay_stream"),
    "serve": gen_serve,
    "dedup": gen_dedup,
}


def main(argv):
    if len(argv) != 4 or argv[1] not in GENERATORS:
        print(f"usage: {argv[0]} {{{'|'.join(GENERATORS)}}} <seed> <out-dir>", file=sys.stderr)
        return 2
    props = GENERATORS[argv[1]](int(argv[2]), argv[3])
    print(json.dumps(props, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
