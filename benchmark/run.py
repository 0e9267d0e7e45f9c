#!/usr/bin/env python3
"""Benchmark entry point.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the library and the benchmark driver
from source into ``.bench_build`` (cached by source hash), generates the
seeded inputs, runs the workload, checks its outputs against the plain-Python
reference and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (and writes the spans under ``.bench_build/trace``).  Diagnostics go to
standard error.  A failed check exits 1, a failed build or run exits 2.
"""

import argparse
import base64
import collections
import glob
import hashlib
import http.client
import json
import os
import re
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reference  # noqa: E402
import stats  # noqa: E402
import wire  # noqa: E402

T0 = time.monotonic()
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SETUPS = 3
SERVE_BOOTS = 3
SERVE_WARMUP_CYCLES = 2
# Every run does a fixed amount of work, sized from --seconds by the
# nominal time of one unit on 4 cores: a pass, or one cycle of a serve
# client's frames.  A time-boxed loop would stop after a varying number of
# units while the JIT is still warming, which moved the median by a third.
NOMINAL_S = {"serve_riemann": 2.7, "replay_batch": 2.7, "dedup_corpus": 2.7, "replay_stream": 20.0}
# local[N] of every JVM; BENCH_CPUS=1 gives the single-threaded baseline
CPUS = os.environ.get("BENCH_CPUS") or str(min(4, os.cpu_count() or 4))

WORKLOADS = {
    "serve_riemann": "serve",
    "replay_batch": "replay",
    "replay_stream": "replay_stream",
    "dedup_corpus": "dedup",
}

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "records_per_s": "records/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.decode_us": "us", "sources.ack_encode_us": "us",
    "ir.push_plan_ms": "ms", "ir.registry_mutate_ms": "ms", "ir.analysis_ms": "ms",
    "ir.optimization_ms": "ms", "ir.planning_ms": "ms",
    "http.publish_ms": "ms", "http.metrics_get_ms": "ms",
    "spark.jobs_per_push": "count", "spark.stages_per_push": "count", "spark.tasks_per_push": "count",
    "spark.sched_delay_ms": "ms", "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_ms": "ms", "spark.task_busy_share": "fraction",
    "spark.max_task_share": "fraction", "spark.failed_jobs": "count",
    "operators.window_s": "s", "operators.coll_mean_s": "s", "operators.percentiles_s": "s",
    "operators.ewma_s": "s", "operators.throttle_s": "s", "operators.above_dt_s": "s",
    "operators.smax_s": "s", "operators.coalesce_s": "s",
    "operators.dedup_exact_s": "s", "operators.jaccard_join_s": "s", "operators.cluster_star_s": "s",
    "operators.pair_yield": "fraction",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.state_rows_removed": "count", "streaming.state_commit_ms": "ms",
    "streaming.backlog_files": "count", "streaming.late_rows_dropped": "count",
    "sinks.rows_out": "count", "sinks.bytes_out": "bytes", "sinks.write_stage_s": "s",
    "gen.outstanding_max": "count", "gen.control_lag_ms": "ms", "gen.control_p50_ms": "ms",
    "gen.self_ms": "ms", "sources.self_ms": "ms", "ir.self_ms": "ms", "http.self_ms": "ms",
    "spark.self_ms": "ms", "operators.self_ms": "ms", "streaming.self_ms": "ms", "sinks.self_ms": "ms",
    "trace.overhead_share": "fraction", "trace.spans": "count",
}

ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def units(workload, seconds):
    return max(1, round(seconds / NOMINAL_S[workload]))


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


class Fail(Exception):
    """A build or run failure (exit 2)."""


# ---------------------------------------------------------------- build

def jars_dir():
    """The Spark jars the sbt build compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise Fail("cannot locate the Spark jars: no build.sbt unmanagedBase and no SPARK_HOME")
    return m.group(1)


def build():
    """Compile src/main/scala plus the driver with scalac; cached by hash."""
    main = os.path.join(ROOT, "src", "main", "scala")
    srcs = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not srcs:
        raise Fail("no library sources under src/main/scala: run from the repository root")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for stale in glob.glob(os.path.join(BUILD, "classes-*.tmp*")):
        shutil.rmtree(stale, ignore_errors=True)
    jars = os.path.join(jars_dir(), "*")
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    log(f"compiling {len(srcs)} sources")
    t = time.monotonic()
    p = subprocess.run(["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise Fail("compilation failed")
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    log(f"compiled in {time.monotonic() - t:.1f}s")
    return out


def java_cmd(classes, work, heap):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *ADD_OPENS, f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-XX:-DontCompileHugeMethods",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars_dir(), '*')}"]


# ---------------------------------------------------------------- inputs

def inputs(kind, seed):
    """Generate (once per seed) and return (dir, traffic properties)."""
    h = hashlib.sha256()
    for m in ("gen.py", "wire.py"):
        with open(os.path.join(HERE, m), "rb") as f:
            h.update(f.read())
    d = os.path.join(BUILD, "inputs", f"{kind}-{seed}-{h.hexdigest()[:12]}")
    done = os.path.join(d, ".props.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        p = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), kind, str(seed), d],
                           stdout=subprocess.PIPE, text=True, timeout=300)
        if p.returncode != 0:
            raise Fail(f"input generation failed for {kind}")
        with open(done, "w") as f:
            f.write(p.stdout)
    with open(done) as f:
        props = json.loads(f.read())
    log(f"inputs {kind} seed {seed} at {time.monotonic() - T0:.1f}s: {json.dumps(props, sort_keys=True)}")
    return d, props


# ---------------------------------------------------------------- processes

def run_driver(classes, work, args, timeout):
    cmd = java_cmd(classes, work, "2g") + ["perfbench.Driver"] + [f"{k}={v}" for k, v in args.items()]
    logf = os.path.join(work, "driver.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf, start_new_session=True, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        finally:
            _kill(p)
    if rc != 0:
        with open(logf) as f:
            sys.stderr.write(f.read()[-4000:])
        raise Fail(f"driver exited {rc}")
    with open(args["result"]) as f:
        return json.load(f)


def _kill(p, grace=20):
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        try:
            p.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def vm_hwm_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ---------------------------------------------------------------- serve

class Server:
    """graft.Serve as its own JVM with Riemann TCP, WebSocket and HTTP on."""

    def __init__(self, classes, work, streams, boot):
        self.log = os.path.join(work, f"serve-{boot}.log")
        env = dict(os.environ, SPARK_GRAFT_STREAMS_DIR=streams, SPARK_GRAFT_HTTP_PORT="0",
                   SPARK_GRAFT_TCP_PORT="0", SPARK_GRAFT_WS_PORT="0", SPARK_GRAFT_CPUS=CPUS)
        t0 = time.monotonic()
        with open(self.log, "w") as lf:
            self.proc = subprocess.Popen(java_cmd(classes, work, "1g") + ["graft.Serve"], env=env,
                                         stdout=lf, stderr=lf, start_new_session=True, cwd=work)
        pat = re.compile(r"http on 127\.0\.0\.1:(\d+), riemann-tcp on (\d+), websocket on (\d+)")
        while True:
            with open(self.log) as f:
                m = pat.search(f.read())
            if m:
                break
            if self.proc.poll() is not None or time.monotonic() - t0 > 150:
                self.stop()
                raise Fail(f"server did not come up; see {self.log}")
            time.sleep(0.02)
        self.http, self.tcp, self.ws = (int(x) for x in m.groups())
        # ready = a probe frame acked (metric 0: no route publishes it)
        probe = {"host": "probe", "service": "probe", "state": "ok", "metric": 0.0,
                 "time": gen.T0, "ttl": 60.0, "tags": [], "attributes": {"frame": "probe", "seq": "0"}}
        with socket.create_connection(("127.0.0.1", self.tcp), timeout=120) as s:
            s.sendall(wire.frame(wire.encode_msg([probe])))
            ok, err = wire.recv_ack(s)
        if not ok:
            self.stop()
            raise Fail(f"probe frame refused: {err}")
        self.setup_s = time.monotonic() - t0

    def stop(self):
        _kill(self.proc)


def drive_serve(srv, frames, events, cycles, record):
    """Two closed-loop Riemann clients, one websocket subscriber and one
    open-loop HTTP control connection against a running server.  Each
    client sends unmeasured warm-up cycles of frames, then ``cycles``
    measured ones (one flush frame per cycle)."""
    received, dropped = [], []
    sub = wire.WsSubscriber(srv.ws, "alerts")

    def ws_reader():
        try:
            while True:
                m = sub.next_text()
                if m is None:
                    dropped.append("closed")
                    return
                received.append(m)
        except OSError as e:
            if not stop_ws.is_set():
                dropped.append(str(e))

    stop_ws = threading.Event()
    wt = threading.Thread(target=ws_reader, daemon=True)
    wt.start()
    time.sleep(0.3)  # the hub registers the subscriber after the 101 reply
    lock = threading.Lock()
    acks, control = [], []
    outstanding = [0, 0]  # current, max
    cycle = gen.SERVE["flush_every"]
    clock = {}
    started, finished = threading.Event(), threading.Event()

    def start_clock():
        clock["start"] = time.monotonic()
        started.set()

    # each client's first cycles of frames warm the server up, unmeasured
    warm = threading.Barrier(2, action=start_clock)
    warm_frames = SERVE_WARMUP_CYCLES * cycle

    def client(c):
        try:
            with socket.create_connection(("127.0.0.1", srv.tcp), timeout=60) as s:
                for n, fid in enumerate(range(c, min(len(frames), 2 * (warm_frames + cycle * cycles)), 2)):
                    if n == warm_frames:
                        warm.wait()
                    with lock:
                        outstanding[0] += 1
                        outstanding[1] = max(outstanding[1], outstanding[0])
                    t = time.perf_counter()
                    s.sendall(frames[fid])
                    ok, _ = wire.recv_ack(s)
                    lat = (time.perf_counter() - t) * 1000
                    with lock:
                        outstanding[0] -= 1
                        acks.append((fid, lat, bool(ok), time.monotonic(), n >= warm_frames))
        except (OSError, threading.BrokenBarrierError) as e:
            warm.abort()
            with lock:
                acks.append((-1, 0.0, False, time.monotonic(), True))
            log(f"client {c}: {e}")

    extra = json.dumps({"config": base64.b64encode(json.dumps(gen.SERVE_EXTRA).encode()).decode(),
                        "default": False})

    def controller():
        conn = http.client.HTTPConnection("127.0.0.1", srv.http, timeout=30)
        k, added = 0, False
        if not started.wait(120) or "start" not in clock:
            return
        while not finished.is_set():
            due = clock["start"] + k * 0.25
            time.sleep(max(0.0, due - time.monotonic()))
            ops = [("GET", "/metrics", None)]
            if k % 4 == 2:
                ops.append(("DELETE", "/api/v1/stream/extra", None) if added
                           else ("POST", "/api/v1/stream/extra", extra))
                added = not added
            for method, path, body in ops:
                t = time.monotonic()
                try:
                    conn.request(method, path, body=body,
                                 headers={"Content-Type": "application/json"} if body else {})
                    r = conn.getresponse()
                    r.read()
                    status = r.status
                except (OSError, http.client.HTTPException):
                    status = 0
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", srv.http, timeout=30)
                # open loop: latency counts from when the operation was due
                control.append(((time.monotonic() - due) * 1000, (t - due) * 1000, 200 <= status < 300))
            k += 1

    clients = [threading.Thread(target=client, args=(c,)) for c in range(2)]
    ctl = threading.Thread(target=controller)
    for t in clients + [ctl]:
        t.start()
    for t in clients:
        t.join()
    finished.set()
    started.set()
    ctl.join()
    acked = [a for a in acks if a[2]]
    measured = [a for a in acked if a[4]]
    expected = reference.serve_expected(events, [a[0] for a in acked])
    want = sum(expected.values())
    deadline = time.monotonic() + 20
    while len(received) < want and time.monotonic() < deadline and not dropped:
        time.sleep(0.05)
    time.sleep(0.3)
    rss = vm_hwm_mb(srv.proc.pid)
    stop_ws.set()
    sub.close()
    got = collections.Counter(reference.canonical_published(json.loads(m)) for m in received)
    problems = []
    if got != expected:
        problems.append(f"published events: {sum((expected - got).values())} missing, "
                        f"{sum((got - expected).values())} unexpected of {want}")
    window = (max(a[3] for a in measured) - clock["start"]) if measured else 1.0
    failed = (len(acks) - len(acked)) + sum(1 for c in control if not c[2]) + (1 if dropped else 0)
    record.update({
        "acks": [a[1] for a in measured],
        "acked_events": sum(len(events[a[0]]) for a in measured),
        "window_s": window, "rss_mb": rss, "problems": problems,
        "attempted": len(acks) + len(control) + 1, "failed": failed,
        "control_ms": [c[0] for c in control], "control_lag_ms": [c[1] for c in control],
        "outstanding_max": outstanding[1],
    })


def serve_workload(classes, work, seed, seconds, trace):
    d, props = inputs("serve", seed)
    with open(os.path.join(d, "frames.bin"), "rb") as f:
        frames = wire.read_frames(f.read())
    with open(os.path.join(d, "events.jsonl")) as f:
        events = [json.loads(line) for line in f]
    streams = os.path.join(d, "streams")
    setups, srv, rec = [], None, {}
    try:
        for b in range(1 if trace else SERVE_BOOTS):
            if srv:
                srv.stop()
            srv = Server(classes, work, streams, b)
            setups.append(srv.setup_s)
        drive_serve(srv, frames, events, units("serve_riemann", seconds / 2 if trace else seconds), rec)
    finally:
        if srv:
            srv.stop()
    problems = list(rec["problems"])
    attempted, failed = rec["attempted"], rec["failed"]
    if not trace:
        acks = rec["acks"]
        t = stats.tail(acks)
        log("frame acks (ms), deciles: " + " ".join(
            f"{stats.nearest_rank(sorted(acks), p):.0f}" for p in range(10, 101, 10)))
        log(stats.describe_tail("latency_tail_ms (frame ack)", t) +
            f"; control_p50_ms = {statistics.median(rec['control_ms']):.3f} of {len(rec['control_ms'])} ops")
        metrics = {
            "setup_s": statistics.median(setups),
            "records_per_s": rec["acked_events"] / rec["window_s"],
            "latency_p50_ms": statistics.median(acks),
            "latency_tail_ms": t[1],
            "peak_rss_mb": rec["rss_mb"],
        }
        return metrics, problems, attempted, failed
    # traced: the same frames in-process through the server's public functions
    res = run_driver(classes, work, {"workload": "serve_traced", "in": d, "work": work,
                                     "seconds": seconds, "trace": 1, "setups": 1, "cpus": CPUS,
                                     "result": os.path.join(work, "result.json")}, 170)
    with open(res["published"]) as f:
        got = collections.Counter(reference.canonical_published(json.loads(line)) for line in f if line.strip())
    expected = reference.serve_expected(events, res["pushed"])
    if got != expected:
        problems.append(f"traced replay published: {sum((expected - got).values())} missing, "
                        f"{sum((got - expected).values())} unexpected")
    layers = dict(res["layers"])
    layers["gen.outstanding_max"] = rec["outstanding_max"]
    layers["gen.control_lag_ms"] = statistics.median(rec["control_lag_ms"])
    layers["gen.control_p50_ms"] = statistics.median(rec["control_ms"])
    keep_trace("serve_riemann", seed, res, work)
    return layers, problems, attempted + int(res["attempted"]), failed + int(res["failed"])


# ---------------------------------------------------------------- in-process workloads

def inproc_workload(name, classes, work, seed, seconds, trace):
    kind = WORKLOADS[name]
    d, props = inputs(kind, seed)
    pipeline = os.path.join(work, "pipeline.json")
    tree = reference.dedup_pipeline() if kind == "dedup" else reference.replay_pipeline()
    with open(pipeline, "w") as f:
        json.dump(tree, f)
    res = run_driver(classes, work, {"workload": name, "in": d, "work": work, "pipeline": pipeline,
                                     "seconds": seconds, "trace": int(trace),
                                     "setups": 1 if trace else SETUPS, "cpus": CPUS,
                                     # a stream pass is long and steady: one, cold
                                     "warmup": int(name != "replay_stream"),
                                     "passes": units(name, seconds),
                                     "result": os.path.join(work, "result.json")}, 175)
    log(f"driver done at {time.monotonic() - T0:.1f}s")
    problems = []
    if kind != "dedup":
        expected = reference.replay_expected(reference.read_log(d))
        problems += reference.check_replay(expected, res["out"])
        records = props["events"]
    else:
        with open(os.path.join(d, "corpus.json")) as f:
            docs = [json.loads(line) for line in f]
        p, counts = reference.check_dedup(docs, reference.DEDUP_THRESHOLD, res["out"])
        problems += p
        log(f"dedup truth: {json.dumps(counts, sort_keys=True)}")
        records = len(docs)
    log(f"checked at {time.monotonic() - T0:.1f}s")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    if trace:
        keep_trace(name, seed, res, work)
        return dict(res["layers"]), problems, attempted, failed
    passes = res["pass_ms"]
    ops = res["op_ms"] if name == "replay_stream" else passes
    t = stats.tail(ops)
    log(f"passes (ms): {[round(x, 1) for x in passes]}; setups (s): {[round(x, 3) for x in res['setup_s']]}")
    log(stats.describe_tail("latency_tail_ms", t))
    metrics = {
        "setup_s": statistics.median(res["setup_s"]),
        # every pass reads the whole input: records over all measured time
        "records_per_s": records * len(passes) / (sum(passes) / 1000.0),
        "latency_p50_ms": statistics.median(ops),
        "latency_tail_ms": t[1],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return metrics, problems, attempted, failed


def keep_trace(name, seed, res, work):
    dst = os.path.join(BUILD, "trace", f"{name}-{seed}")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    shutil.copy(res["spans"], os.path.join(dst, "spans.jsonl"))
    with open(os.path.join(dst, "layers.json"), "w") as f:
        json.dump(res["layers"], f, indent=1, sort_keys=True)
    log(f"trace written to {dst}")


# ---------------------------------------------------------------- main

def main():
    # a terminated run still stops the JVMs it started (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        classes = build()
        work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            if a.workload == "serve_riemann":
                values, problems, attempted, failed = serve_workload(classes, work, a.seed, a.seconds, a.trace)
            else:
                values, problems, attempted, failed = inproc_workload(a.workload, classes, work, a.seed,
                                                                      a.seconds, a.trace)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except (Fail, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        return 2
    units = PER_LAYER if a.trace else END_TO_END
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    for p in problems:
        log(f"CHECK FAILED: {p}")
    if failed:
        log(f"{failed} of {attempted} operations failed")
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
